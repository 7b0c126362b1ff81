"""The benchmark's workloads.

Each workload writes its inputs from a seed, in the formats the
``python -m ecc_spark`` CLI reads, then runs passes over them through the
same library calls the CLI makes.  Every call into the engine is labelled
``setJobGroup(group, layer)`` so a traced run can fold Spark's event log
per layer (see eventlog.py).  A workload also knows how to digest its
outputs and how to check them against the repository's pure-Python
reference models under ``tests/``.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import time
from dataclasses import dataclass, field

from measure import WAVE_PHASES, median, sha256_lines


@dataclass
class Pass:
    seconds: float  # wall seconds of the whole pass
    items: int  # units of work the pass completed
    latency_s: list[float]  # one entry per step a user waits for (run or wave)
    layer_s: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    digest: str | None = None


def _tree_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _udf_totals(folded: dict, group: str, fn: str) -> dict[str, float]:
    tot = {"worker_s": 0.0, "bytes_sent": 0.0, "bytes_returned": 0.0, "rows": 0.0}
    for (g, _), lay in folded.items():
        if g == group:
            for k, v in lay["udf"].get(fn, {}).items():
                tot[k] += v
    return tot


def _sum_layers(folded: dict, group: str, key: str, layers=None) -> float:
    return sum(
        lay[key] for (g, name), lay in folded.items()
        if g == group and (layers is None or name in layers)
    )


# inputs of the forked reference-model workers; set before each fork
_SHARED: dict = {}


def _in_forks(fn, n: int, shared: dict, meanwhile=lambda: None) -> tuple[list, object]:
    """([fn(part, n) for part in range(n)], meanwhile()): each call runs
    in its own forked process that sees ``shared`` as _SHARED, while
    ``meanwhile`` runs here.  Returns once every process has exited."""
    _SHARED.clear()
    _SHARED.update(shared)
    with multiprocessing.get_context("fork").Pool(n) as pool:
        job = pool.starmap_async(fn, [(part, n) for part in range(n)])
        _SHARED.clear()
        also = meanwhile()
        out = job.get()
        pool.close()
        pool.join()
    return out, also


def _ref_matches(part: int, n: int):
    from ecc_spark import gen
    from tests import ref_model

    docs, _, _ = gen.corpus(**_SHARED["corpus"])
    return ref_model.build_matches(docs[part::n], _SHARED["entities"])


def _ref_contexts(part: int, n: int):
    from tests import ref_model

    s = _SHARED
    return ref_model.build_contexts(
        s["matches"], s["pages"], s["mentions"], s["items"][part::n], s["mid2rid"],
        context_size=100, crop_sentences=True,
    )


def common_layer_metrics(folded: dict, group: str, n_passes: int) -> dict[str, float]:
    return {
        "jvm.gc_s": _sum_layers(folded, group, "gc_s") / n_passes,
        "exec.peak_mem_bytes": max(
            (lay["peak_mem_bytes"] for (g, _), lay in folded.items() if g == group),
            default=0,
        ),
    }


class ContextsE2E:
    """XML dump -> documents -> matches store -> contexts store.

    The paper's user path: ``ingest-xml``, ``build-matches-db`` and
    ``build-contexts-db`` (sentence crop, no sampling limit)."""

    name = "contexts_e2e"
    ops_per_pass = 3  # ingest, matches, contexts
    N_DOCS = 15_000
    N_SEEDS = 500
    # the warm-up pass runs over a smaller dump: most of a first pass on a
    # new JVM is code generation, JIT and Python-worker start-up, and a
    # full-size warm-up costs about 10 s more (perfbench/README.md)
    WARMUP_DOCS = 2_000
    # the columns the check compares, per output table
    COLUMNS = {
        "pages": ["title", "text", "link_count", "entity_link_count", "mention_count",
                  "unique_mention_count", "text_len", "clean_text_len", "match_count"],
        "matches": ["mid", "entity_label", "mention", "page", "start_char", "end_char",
                    "context"],
        "mentions": ["mid", "entity_label", "mention"],
        "contexts": ["entity", "entity_label", "mention", "page_title", "context",
                     "masked_context"],
    }

    def __init__(self, work: str, n_docs: int = N_DOCS, n_seeds: int = N_SEEDS):
        self.n_docs, self.n_seeds = n_docs, n_seeds
        self.inp = os.path.join(work, "in")
        self.out = os.path.join(work, "out")
        self.xml = os.path.join(self.inp, "dump.xml")
        self.warmup_xml = os.path.join(self.inp, "warmup.xml")
        self.entities_json = os.path.join(self.inp, "entities.json")
        self.mid2rid_txt = os.path.join(self.inp, "mid2rid.txt")
        self.docs = os.path.join(self.out, "documents.parquet")
        self.matches_db = os.path.join(self.out, "matches_db")
        self.contexts_db = os.path.join(self.out, "contexts_db")
        self.pages_kept = 0
        self.seed = 0

    # -- inputs ----------------------------------------------------------
    def make_inputs(self, seed: int) -> None:
        from ecc_spark import gen

        self.seed = seed
        os.makedirs(self.inp, exist_ok=True)
        exp = gen.wiki_xml(self.xml, n_docs=self.n_docs, n_seeds=self.n_seeds, seed=seed)
        self.pages_kept = exp["kept"]
        gen.wiki_xml(self.warmup_xml, n_docs=self.WARMUP_DOCS, n_seeds=self.n_seeds, seed=seed)
        _, seeds, m2r = gen.corpus(n_docs=0, n_seeds=self.n_seeds, seed=seed)
        with open(self.entities_json, "w", encoding="utf-8") as fh:
            json.dump(
                {s["mid"]: {"label": s["label"], "wikipedia": s["wikipedia"]} for s in seeds},
                fh, indent=1,
            )
        with open(self.mid2rid_txt, "w", encoding="utf-8") as fh:
            fh.write(f"{len(m2r)}\n")
            fh.writelines(f"{r['mid']}\t{r['rid']}\n" for r in m2r)

    def prepare(self, spark) -> None:
        pass

    # -- one pass --------------------------------------------------------
    def run_pass(self, spark, group: str, warmup: bool = False) -> Pass:
        from ecc_spark.contexts import build_contexts
        from ecc_spark.dao import (
            ContextsStore, MatchesStore, load_entities_json, load_mid2rid_txt, seeds_df,
        )
        from ecc_spark.ingest import ingest_markup
        from ecc_spark.matches import build_matches
        from ecc_spark.wiki_xml import read_wikipedia_xml, wikipedia_pages

        sc = spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup(group, "ingest")
        raw = read_wikipedia_xml(spark, self.warmup_xml if warmup else self.xml)
        ingest_markup(wikipedia_pages(raw)).write.mode("overwrite").parquet(self.docs)
        t1 = time.perf_counter()

        sc.setJobGroup(group, "matches")
        entities = load_entities_json(self.entities_json)
        docs = spark.read.parquet(self.docs)
        pages, matches, mentions = build_matches(docs, seeds_df(spark, entities))
        MatchesStore(spark, self.matches_db).write(pages, matches, mentions)
        t2 = time.perf_counter()

        sc.setJobGroup(group, "contexts")
        store = MatchesStore(spark, self.matches_db)
        ctx = build_contexts(
            spark, store.matches(), store.pages(), store.mentions(),
            [(e["mid"], e["label"], e["wikipedia"]) for e in entities],
            load_mid2rid_txt(self.mid2rid_txt),
            context_size=100, crop_sentences=True, limit_contexts=None,
            sample_mode="hash",
        )
        ContextsStore(spark, self.contexts_db).write(ctx)
        t3 = time.perf_counter()
        return Pass(
            seconds=t3 - t0, items=self.pages_kept, latency_s=[t1 - t0, t2 - t1, t3 - t2],
            layer_s={"ingest.s": t1 - t0, "matches.s": t2 - t1, "contexts.s": t3 - t2},
        )

    # -- outputs -----------------------------------------------------------
    def _tables(self, spark):
        from ecc_spark.dao import ContextsStore, MatchesStore

        store = MatchesStore(spark, self.matches_db)
        return {
            "pages": store.pages(),
            "matches": store.matches(),
            "mentions": store.mentions(),
            "contexts": ContextsStore(spark, self.contexts_db).contexts(),
        }

    def digest(self, spark, p: Pass) -> None:
        """Order-free digest of the four output tables: row count plus the
        sum of each row's 32-bit xxhash64 over every column."""
        from pyspark.sql import functions as F

        parts = []
        for name, df in self._tables(spark).items():
            h = F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF))
            n, s = df.select(F.count("*"), F.sum(h)).first()
            p.counts[f"dao.rows.{name}"] = n
            parts.append(f"{name}:{n}:{s}")
        p.digest = sha256_lines(parts)

    def reference(self, n_procs: int, meanwhile=lambda: None) -> tuple[dict, object]:
        """(tests/ref_model's pages, matches, mentions and contexts on the
        same corpus, meanwhile()).  The reference runs in ``n_procs``
        forked processes while ``meanwhile`` runs here.  Pages and matches
        are per document, so each process generates the corpus and takes
        every n-th document, and the mentions are deduplicated after;
        contexts are per entity, so the entities are split."""
        from ecc_spark.dao import load_entities_json, load_mid2rid_txt

        entities = load_entities_json(self.entities_json)
        corpus = {"n_docs": self.n_docs, "n_seeds": self.n_seeds, "seed": self.seed}
        parts, also = _in_forks(
            _ref_matches, n_procs, {"corpus": corpus, "entities": entities}, meanwhile
        )
        pages = [r for p, _, _ in parts for r in p]
        matches = [r for _, m, _ in parts for r in m]
        mentions = list({(r["mid"], r["mention"]): r for _, _, m in parts for r in m}.values())
        contexts, _ = _in_forks(_ref_contexts, n_procs, {
            "matches": matches, "pages": pages, "mentions": mentions,
            "items": [(e["mid"], e["label"], e["wikipedia"]) for e in entities],
            "mid2rid": load_mid2rid_txt(self.mid2rid_txt),
        })
        want = {"pages": pages, "matches": matches, "mentions": mentions,
                "contexts": [r for part in contexts for r in part]}
        return want, also

    def check(self, spark) -> list[str]:
        """Multiset equality of every output table with the reference;
        returns the mismatches.  The output tables are collected while
        the reference runs."""
        def collect():
            return {
                name: sorted(tuple(r) for r in df.select(*self.COLUMNS[name]).collect())
                for name, df in self._tables(spark).items()
            }

        want, got = self.reference(len(os.sched_getaffinity(0)), collect)
        bad = []
        for name, cols in self.COLUMNS.items():
            ref = sorted(tuple(row[k] for k in cols) for row in want[name])
            if got[name] != ref:
                bad.append(f"{name}: {len(got[name])} rows vs reference {len(ref)}")
            elif name == "pages" and len(ref) != self.pages_kept:
                bad.append(f"pages: {len(ref)} rows vs {self.pages_kept} kept by the scan")
        return bad

    # -- per-layer metrics ---------------------------------------------------
    def layer_metrics(self, passes: list[Pass], folded: dict) -> dict[str, float]:
        g, n = self.name, len(passes)
        out = common_layer_metrics(folded, g, n)
        for key in ("ingest.s", "matches.s", "contexts.s"):
            out[key] = median([p.layer_s[key] for p in passes])
        fns = {
            "parse_page": "_parse_page_udf", "parse_wikitext": "parse_wikitext_udf",
            "clean_text": "clean_text_udf", "phrase_match": "phrase_match_udf",
            "crop_mask": "crop_mask_udf",
        }
        for short, fn in fns.items():
            t = _udf_totals(folded, g, fn)
            out[f"udf.{short}.worker_s"] = t["worker_s"] / n
            out[f"udf.{short}.bytes_io"] = (t["bytes_sent"] + t["bytes_returned"]) / n
            if short == "phrase_match":
                out["udf.phrase_match.rows_per_page"] = t["rows"] / n / self.pages_kept
        out["matches.shuffle_bytes"] = _sum_layers(folded, g, "shuffle_bytes", {"matches"}) / n
        out["contexts.shuffle_bytes"] = _sum_layers(folded, g, "shuffle_bytes", {"contexts"}) / n
        out["pipeline.spill_bytes"] = _sum_layers(folded, g, "spill_bytes") / n
        last = passes[-1].counts
        out.update(last)
        out["contexts.yield"] = last["dao.rows.contexts"] / max(last["dao.rows.matches"], 1)
        out_bytes = _tree_bytes_files(self.out)[0]
        out["dao.bytes_per_input_byte"] = out_bytes / os.path.getsize(self.xml)
        return out


class CrawlFrontier:
    """A crawl whose waves are bound by the frontier, not by fetching.

    A large seed list on few hosts with a small per-host budget: each
    wave fetches at most HOSTS x BUDGET pages, while scheduling still
    ranks the whole frontier (politeness top-k and the queue-view
    anti-join).  The crawl is interrupted before wave RESUME_AT and
    continued by a new engine opened with ``resume=True`` from the
    checkpoint, as an operator restarting a crawl would."""

    name = "crawl_frontier"
    N_URLS = 20_000
    HOSTS = 60
    BUDGET = 16
    SALTS = 16
    DEPTH = 1
    WAVES = 2
    RESUME_AT = 1
    ops_per_pass = WAVES

    def __init__(self, work: str, n_urls: int = N_URLS):
        self.n_urls = n_urls
        self.inp = os.path.join(work, "in")
        self.seeds_txt = os.path.join(self.inp, "seeds.txt")
        self.robots_dir = os.path.join(self.inp, "robots")
        self.crawl_root = os.path.join(work, "crawl")
        self.workdir = ""
        self.seed = 0
        self.robots_txt = None
        self.engine = None
        self.waves = []

    def make_inputs(self, seed: int) -> None:
        from ecc_spark import gen

        self.seed = seed
        os.makedirs(self.robots_dir, exist_ok=True)
        with open(self.seeds_txt, "w", encoding="utf-8") as fh:
            fh.writelines(
                u["url"] + "\n" for u in gen.frontier_urls(self.n_urls, n_hosts=self.HOSTS, seed=seed)
            )
        for body in gen.robots_txt_bodies(n_hosts=self.HOSTS, seed=seed):
            with open(os.path.join(self.robots_dir, body["host"] + ".txt"), "w",
                      encoding="utf-8") as fh:
                fh.write(body["content"])

    def prepare(self, spark) -> None:
        bodies = []
        for name in sorted(os.listdir(self.robots_dir)):
            with open(os.path.join(self.robots_dir, name), encoding="utf-8") as fh:
                bodies.append((name[: -len(".txt")], fh.read()))
        self.robots_txt = spark.createDataFrame(bodies, "host string, content string")

    def _engine(self, spark, resume: bool):
        from ecc_spark.crawl.frontier import CrawlEngine

        return CrawlEngine(
            spark, self.workdir, robots_txt=self.robots_txt, host_budget=self.BUDGET,
            n_salts=self.SALTS, max_depth=self.DEPTH, resume=resume,
        )

    def run_pass(self, spark, group: str, warmup: bool = False) -> Pass:
        """One crawl job; the warm-up pass runs the same job (a smaller
        one was measured to cost as much)."""
        sc = spark.sparkContext
        # a fresh directory per pass: the engine names its catalog tables
        # after the directory, and a deleted-then-reused one leaves stale
        # catalog entries behind
        if self.workdir:
            shutil.rmtree(self.workdir, ignore_errors=True)
        self.workdir = os.path.join(self.crawl_root, str(time.monotonic_ns()))
        t0 = time.perf_counter()
        sc.setJobGroup(group, "seed")
        with open(self.seeds_txt, encoding="utf-8") as fh:
            urls = [line.strip() for line in fh if line.strip()]
        eng = self._engine(spark, resume=False)
        eng.seed(spark.createDataFrame([(u,) for u in urls], schema="url string"))
        t_seed = time.perf_counter()
        waves, resume_s = [], 0.0
        for w in range(self.WAVES):
            if w == self.RESUME_AT:
                sc.setJobGroup(group, "resume")
                tr = time.perf_counter()
                eng = self._engine(spark, resume=True)
                resume_s = time.perf_counter() - tr
            if eng.queued_rows() <= 0:
                break
            sc.setJobGroup(group, "wave")
            waves.append(eng.run_wave())
        t_end = time.perf_counter()
        self.engine, self.waves = eng, waves
        layer_s = {"crawl.seed_s": t_seed - t0, "checkpoint.resume_s": resume_s}
        for ph in WAVE_PHASES:
            layer_s[f"crawl.{ph}_s"] = sum(w.detail.get(ph, 0.0) for w in waves)
        return Pass(
            seconds=t_end - t0,
            items=sum(w.scheduled + w.extracted for w in waves),
            latency_s=[w.seconds for w in waves],
            layer_s=layer_s,
            counts={
                "crawl.scheduled": sum(w.scheduled for w in waves),
                "crawl.extracted": sum(w.extracted for w in waves),
                "crawl.new_urls": sum(w.new_urls for w in waves),
                "crawl.queued_rows": eng.queued_rows(),
            },
        )

    def _seen_rows(self):
        return sorted(
            (r["order_key"], r["wave"], r["url"])
            for r in self.engine.seen().select("order_key", "wave", "url").collect()
        )

    def digest(self, spark, p: Pass) -> None:
        """The crawl order (order_key -> url), the seen set and the per-wave
        counts of the pass just run."""
        lines = [f"{k}\t{w}\t{u}" for k, w, u in self._seen_rows()]
        lines += [f"wave {w.wave}: {w.scheduled} {w.extracted} {w.new_urls}" for w in self.waves]
        p.digest = sha256_lines(lines)

    def check(self, spark) -> list[str]:
        """Crawl order, seen set and per-wave counts against
        tests/ref_crawler, which crawls without interruption."""
        from ecc_spark import gen
        from tests import ref_crawler

        with open(self.seeds_txt, encoding="utf-8") as fh:
            urls = [line.strip() for line in fh if line.strip()]
        order, seen, stats = ref_crawler.crawl(
            urls, gen.robots_rules(n_hosts=self.HOSTS, seed=self.seed),
            host_budget=self.BUDGET, max_waves=self.WAVES, max_depth=self.DEPTH,
        )
        got = self._seen_rows()
        bad = []
        if got != sorted(order):
            bad.append(f"crawl order: {len(got)} rows vs reference {len(order)}")
        if {u for _, _, u in got} != set(seen):
            bad.append("seen set differs from the reference")
        if [(w.scheduled, w.extracted) for w in self.waves] != [s[:2] for s in stats]:
            bad.append("per-wave scheduled/extracted counts differ from the reference")
        return bad

    def layer_metrics(self, passes: list[Pass], folded: dict) -> dict[str, float]:
        g, n = self.name, len(passes)
        out = common_layer_metrics(folded, g, n)
        for key in passes[0].layer_s:
            out[key] = median([p.layer_s[key] for p in passes])
        t = _udf_totals(folded, g, "fused")
        out["udf.fetch_extract.worker_s"] = t["worker_s"] / n
        out["udf.fetch_extract.bytes_io"] = (t["bytes_sent"] + t["bytes_returned"]) / n
        out["crawl.shuffle_bytes"] = _sum_layers(folded, g, "shuffle_bytes") / n
        out["crawl.spill_bytes"] = _sum_layers(folded, g, "spill_bytes") / n
        out.update(passes[-1].counts)
        size, files = _tree_bytes_files(self.workdir)
        seen = self.engine.t_seen.latest_rows() or 0
        out["checkpoint.bytes_per_seen_url"] = size / max(seen, 1)
        out["checkpoint.files"] = files
        return out


def make(name: str, work: str):
    return {"contexts_e2e": ContextsE2E, "crawl_frontier": CrawlFrontier}[name](work)
