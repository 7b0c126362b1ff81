"""The benchmark's own tests; they start no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pytest  # noqa: E402

from eventlog import fold  # noqa: E402
from measure import END_TO_END, NAME_RE, PER_LAYER, WORKLOADS, tally  # noqa: E402
from workloads import ContextsE2E, CrawlFrontier  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize(
    "make",
    [lambda w: ContextsE2E(w, n_docs=40, n_seeds=8), lambda w: CrawlFrontier(w, n_urls=300)],
    ids=["contexts_e2e", "crawl_frontier"],
)
def test_inputs_are_a_function_of_the_seed(tmp_path, make):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        make(str(tmp_path / name)).make_inputs(seed)
    a, b, c = (_files(str(tmp_path / n / "in")) for n in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_forked_reference_equals_the_sequential_one(tmp_path):
    from ecc_spark import gen
    from ecc_spark.dao import load_entities_json, load_mid2rid_txt
    from tests import ref_model

    wl = ContextsE2E(str(tmp_path), n_docs=120, n_seeds=12)
    wl.make_inputs(5)
    docs, _, _ = gen.corpus(n_docs=120, n_seeds=12, seed=5)
    entities = load_entities_json(wl.entities_json)
    pages, matches, mentions = ref_model.build_matches(docs, entities)
    contexts = ref_model.build_contexts(
        matches, pages, mentions, [(e["mid"], e["label"], e["wikipedia"]) for e in entities],
        load_mid2rid_txt(wl.mid2rid_txt), context_size=100, crop_sentences=True,
    )
    want = {"pages": pages, "matches": matches, "mentions": mentions, "contexts": contexts}
    got, _ = wl.reference(3)
    assert want["contexts"]
    for name, cols in ContextsE2E.COLUMNS.items():
        def rows(table):
            return sorted(tuple(r[c] for c in cols) for r in table)

        assert rows(got[name]) == rows(want[name]), name


def test_fold_recorded_event_log():
    layers = fold(os.path.join(HERE, "testdata"))
    # the job without a group is not folded
    assert set(layers) == {("contexts_e2e", "matches"), ("crawl_frontier", "wave")}
    m = layers[("contexts_e2e", "matches")]
    assert m["gc_s"] == pytest.approx(0.15)
    assert m["peak_mem_bytes"] == 8192
    assert m["shuffle_bytes"] == 1000
    assert m["spill_bytes"] == 64
    assert dict(m["udf"]["phrase_match_udf"]) == pytest.approx(
        {"worker_s": 2.0, "bytes_sent": 1000, "bytes_returned": 500, "rows": 50}
    )
    # this plan is logged after the task that ran it
    w = layers[("crawl_frontier", "wave")]
    assert dict(w["udf"]["fused"]) == pytest.approx(
        {"worker_s": 0.25, "bytes_sent": 4096, "bytes_returned": 2048}
    )


def test_metric_names_and_benchmark_json_agree():
    for name in list(END_TO_END) + list(PER_LAYER):
        assert NAME_RE.match(name), name
    assert len(END_TO_END) <= 16 and len(PER_LAYER) <= 128
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert "setup_s" in END_TO_END


def test_digest_mismatch_fails_the_pass_and_raises_error_rate():
    ok = tally([3, 3, 3], ["d", "d", "d"], "d", check_ok=True)
    assert ok == (9, 0)
    attempted, failed = tally([3, 3, 3], ["d", "x", "d"], "d", check_ok=True)
    assert (attempted, failed) == (9, 3) and failed / attempted > 0
    # a pass that raised has no digest
    assert tally([2, 2], ["d", None], "d", check_ok=True) == (4, 2)
    # a failed reference check fails every operation of the run
    assert tally([3, 3], ["d", "d"], "d", check_ok=False) == (6, 6)
