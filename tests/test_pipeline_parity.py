"""End-to-end pipeline parity: Spark engine vs pure-Python reference model
on the synthetic span corpus — table set-equality for phase 1 and exact
contexts equality (incl. RNG-parity sampling) for phase 2."""

from __future__ import annotations

import pytest

from ecc_spark.contexts import build_contexts
from ecc_spark.fixtures import corpus_dataframes
from ecc_spark.matches import build_matches
from tests import ref_model


@pytest.fixture(scope="module")
def built(spark):
    documents, seeds_df, seed_items, mid2rid, raw_docs = corpus_dataframes(
        spark, n_docs=60, n_seeds=20, seed=42
    )
    pages, matches, mentions = build_matches(documents, seeds_df)
    docs, seeds, _ = __import__("ecc_spark.gen", fromlist=["gen"]).corpus(
        n_docs=60, n_seeds=20, seed=42
    )
    rpages, rmatches, rmentions = ref_model.build_matches(docs, seeds)
    return {
        "spark": (pages, matches, mentions),
        "ref": (rpages, rmatches, rmentions),
        "seed_items": seed_items,
        "mid2rid": mid2rid,
        "spark_session": spark,
    }


def test_pages_parity(built):
    pages, _, _ = built["spark"]
    rpages, _, _ = built["ref"]
    got = {tuple(r) for r in pages.collect()}
    want = {
        (
            p["title"], p["text"], p["link_count"], p["entity_link_count"],
            p["mention_count"], p["unique_mention_count"], p["text_len"],
            p["clean_text_len"], p["match_count"],
        )
        for p in rpages
    }
    assert got == want
    assert len(got) > 30


def test_matches_parity(built):
    _, matches, _ = built["spark"]
    _, rmatches, _ = built["ref"]
    cols = ["mid", "entity_label", "mention", "page", "start_char", "end_char", "context"]
    got = {tuple(r[c] for c in cols) for r in matches.collect()}
    want = {tuple(m[c] for c in cols) for m in rmatches}
    assert got == want
    assert len(got) > 50


def test_mentions_parity(built):
    _, _, mentions = built["spark"]
    _, _, rmentions = built["ref"]
    got = {tuple(r) for r in mentions.collect()}
    want = {(m["mid"], m["entity_label"], m["mention"]) for m in rmentions}
    assert got == want
    assert len(got) > 10


@pytest.mark.parametrize("crop_sentences", [False, True])
def test_contexts_parity_no_sampling(built, crop_sentences):
    spark = built["spark_session"]
    pages, matches, mentions = built["spark"]
    rpages, rmatches, rmentions = built["ref"]
    kw = dict(
        context_size=100,
        crop_sentences=crop_sentences,
        limit_contexts=None,
        limit_entities=None,
        random_seed=123,
    )
    got_df = build_contexts(
        spark, matches, pages, mentions, built["seed_items"], built["mid2rid"],
        sample_mode="hash", **kw,
    )
    got = sorted(tuple(r) for r in got_df.collect())
    ref = ref_model.build_contexts(
        rmatches, rpages, rmentions, built["seed_items"], built["mid2rid"], **kw
    )
    want = sorted(
        (c["entity"], c["entity_label"], c["mention"], c["page_title"],
         c["context"], c["masked_context"])
        for c in ref
    )
    assert got == want
    assert len(got) > 20


def test_contexts_parity_rng_sampling(built):
    """The hard one: limit_contexts with the shared MT19937 stream —
    entity shuffle + per-entity shuffles in processing order, including
    the skip-before-limit quirk (limit_entities)."""
    spark = built["spark_session"]
    pages, matches, mentions = built["spark"]
    rpages, rmatches, rmentions = built["ref"]
    kw = dict(
        context_size=80,
        crop_sentences=False,
        limit_contexts=3,
        limit_entities=10,
        random_seed=99,
    )
    got_df = build_contexts(
        spark, matches, pages, mentions, built["seed_items"], built["mid2rid"],
        sample_mode="parity", **kw,
    )
    got = sorted(tuple(r) for r in got_df.collect())
    ref = ref_model.build_contexts(
        rmatches, rpages, rmentions, built["seed_items"], built["mid2rid"], **kw
    )
    want = sorted(
        (c["entity"], c["entity_label"], c["mention"], c["page_title"],
         c["context"], c["masked_context"])
        for c in ref
    )
    assert got == want
    assert len(got) > 3


def test_hash_sampling_respects_limit(built):
    spark = built["spark_session"]
    pages, matches, mentions = built["spark"]
    got_df = build_contexts(
        spark, matches, pages, mentions, built["seed_items"], built["mid2rid"],
        context_size=80, limit_contexts=2, sample_mode="hash", random_seed=1,
    )
    import pyspark.sql.functions as F

    counts = got_df.groupBy("entity").count().agg(F.max("count")).first()[0]
    assert counts <= 2


def test_determinism_across_partitioning(built):
    """Same plan at different shuffle parallelism ⇒ identical output
    (catches task-order dependence — SURVEY.md §5 gap 4)."""
    spark = built["spark_session"]
    pages, matches, mentions = built["spark"]
    outs = []
    for n in ("3", "16"):
        spark.conf.set("spark.sql.shuffle.partitions", n)
        df = build_contexts(
            spark, matches, pages, mentions, built["seed_items"], built["mid2rid"],
            context_size=100, limit_contexts=5, sample_mode="hash", random_seed=7,
        )
        outs.append(sorted(tuple(r) for r in df.collect()))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert outs[0] == outs[1]


def test_duplicate_title_first_writer_wins(spark):
    """INSERT OR IGNORE keeps the FIRST page per title in dump order
    (dao/matches_db.py:53) — with doc_seq present, the kept row must be
    the min-doc_seq one, not an arbitrary dropDuplicates survivor."""
    from ecc_spark.ingest import ingest_markup
    from ecc_spark.matches import build_matches

    rows = [
        ("Dup", None, "First version of this page mentions [[Seed Page|seed]] at length.", 0),
        ("Dup", None, "Second version is a completely different body with enough length.", 1),
        ("Other", None, "Another page that links to [[Seed Page]] with sufficient length.", 2),
    ]
    docs = ingest_markup(
        spark.createDataFrame(
            rows, schema="doc_id string, redirect string, markup string, doc_seq long"
        )
    )
    seeds = spark.createDataFrame(
        [("m1", "Seed", "http://en.wikipedia.org/wiki/Seed_Page")],
        schema="mid string, label string, wikipedia string",
    )
    pages, matches, _ = build_matches(docs, seeds)
    dup = pages.filter("title = 'Dup'").collect()
    assert len(dup) == 1
    assert "First version" in dup[0]["text"]


def test_hidden_links_feed_mention_map_only(spark):
    """A seed linked only inside {{…}} and <ref> still seeds the mention
    map and the link counts (reference cmd/build_matches_db.py:251-266
    walks the whole AST), but the template text itself never reaches the
    plain text, so its surface yields no match."""
    from ecc_spark.ingest import ingest_markup

    markup = (
        "The Seed Page museum stands on the long northern bank of the river."
        "{{Infobox town|near=[[Seed Page|Seedville]]}}"
        " It also keeps [[Other Page|another exhibit]] open for the public all year."
        "<ref>See [[Seed Page]] for details.</ref>"
    )
    docs = ingest_markup(
        spark.createDataFrame(
            [("Host", None, markup, 0)],
            schema="doc_id string, redirect string, markup string, doc_seq long",
        )
    )
    seeds = spark.createDataFrame(
        [("m1", "Seed", "http://en.wikipedia.org/wiki/Seed_Page")],
        schema="mid string, label string, wikipedia string",
    )
    pages, matches, mentions = build_matches(docs, seeds)

    (page,) = pages.collect()
    assert "Seedville" not in page["text"]
    assert page["link_count"] == 3  # one visible + two hidden
    assert page["entity_link_count"] == 2  # both hidden seed links
    assert page["mention_count"] == 2
    assert page["unique_mention_count"] == 2
    assert sorted(tuple(r) for r in mentions.collect()) == [
        ("m1", "Seed", "Seed Page"),
        ("m1", "Seed", "Seedville"),
    ]
    got = [(r["mention"], r["start_char"]) for r in matches.collect()]
    assert got == [("Seed Page", 4)]
    assert page["match_count"] == 1


def test_interleave_stream_matches_pure_python(spark):
    """Interleaved token stream vs an independent mirror over the same
    spans: token lists identical, every media sentinel at its recorded
    position, media order = span order."""
    import re

    from ecc_spark.fixtures import corpus_dataframes
    from ecc_spark.ops.pipeline_ops import MEDIA_SENTINEL, interleave_stream

    docs = corpus_dataframes(spark, n_docs=25, n_seeds=5, seed=42)[0]
    raw = {r["doc_id"]: r["spans"] for r in docs.collect() if r["spans"]}
    want = {}
    for d, spans in raw.items():
        toks, media = [], []
        for s in spans:
            if s["kind"] == "media":
                media.append((len(toks), s["media_ref"]))
                toks.append(MEDIA_SENTINEL)
            else:
                toks.extend(t for t in re.split(r"\s+", s["text"]) if t)
        want[d] = (toks, media)
    got = {
        r["doc_id"]: (list(r["tokens"]), [(m["tok_pos"], m["media_ref"]) for m in r["media"]])
        for r in interleave_stream(docs).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == want[d], d
    # at least one doc in the fixture actually interleaves media
    assert any(media for _, media in want.values())


def test_interleaved_chunks_media_alignment(spark):
    """Every chunk's media list is exactly the sentinels inside its
    window, re-based: chunk_tokens[tok_pos] IS the sentinel, and the
    union over chunks at stride=window covers each doc's media once."""
    from ecc_spark.fixtures import corpus_dataframes
    from ecc_spark.ops.pipeline_ops import (
        MEDIA_SENTINEL,
        interleave_stream,
        interleaved_chunks,
    )

    docs = corpus_dataframes(spark, n_docs=25, n_seeds=5, seed=42)[0]
    window = 40
    ch = interleaved_chunks(docs, window=window, stride=window).collect()
    stream = {r["doc_id"]: r for r in interleave_stream(docs).collect()}
    covered: dict = {}
    for r in ch:
        for m in r["chunk_media"]:
            assert 0 <= m["tok_pos"] < r["n_tokens"]
            assert r["chunk_tokens"][m["tok_pos"]] == MEDIA_SENTINEL
            covered.setdefault(r["doc_id"], []).append(
                (r["start_tok"] + m["tok_pos"], m["media_ref"])
            )
    for d, s in stream.items():
        want = [(m["tok_pos"], m["media_ref"]) for m in s["media"]]
        assert sorted(covered.get(d, [])) == sorted(want), d


def test_interleaved_chunks_resolve_to_real_media_features(spark):
    """The end-to-end multimodal claim: every media ref inside an
    interleaved chunk joins (broadcast) to a media table whose REAL PNG
    payloads decode through the codec feature stage — the splice point
    where a trainer would attach media embeddings."""
    import zlib as _z

    import numpy as np
    import pyspark.sql.functions as F

    from ecc_spark.fixtures import corpus_dataframes
    from ecc_spark.ops.codecs import encode_png
    from ecc_spark.ops.multimodal import decode_features
    from ecc_spark.ops.pipeline_ops import interleaved_chunks
    from ecc_spark.schemas import MEDIA

    docs = corpus_dataframes(spark, n_docs=25, n_seeds=5, seed=42)[0]
    chunks = interleaved_chunks(docs, window=40, stride=40)
    refs = [
        r["m"]["media_ref"]
        for r in chunks.select(F.explode("chunk_media").alias("m")).collect()
    ]
    assert refs  # the fixture corpus interleaves media
    media_rows = []
    for ref in sorted(set(refs)):
        h = _z.crc32(ref.encode())
        rng = np.random.default_rng(h)
        px = rng.integers(0, 256, (8 + h % 8, 8 + (h >> 4) % 8, 3), dtype=np.uint8)
        media_rows.append(
            {"media_ref": ref, "kind": "image", "payload": encode_png(px),
             "width": None, "height": None, "duration_ms": None}
        )
    media = spark.createDataFrame(media_rows, schema=MEDIA)
    feats = decode_features(media).select("media_ref", "mean", "std")
    joined = (
        chunks.select("doc_id", "chunk_i", F.explode("chunk_media").alias("m"))
        .select("doc_id", "chunk_i", F.col("m.media_ref").alias("media_ref"))
        .join(F.broadcast(feats), "media_ref", "left")
    )
    rows = joined.collect()
    assert len(rows) == len(refs)
    assert all(r["mean"] is not None for r in rows)  # every ref resolved
    # and the features really came from the PNG pixels (std of random
    # pixels is far from the all-zero/flat degenerate)
    assert all(r["std"] > 10 for r in rows)


def test_parity_mode_ceiling_raises_cleanly(built, monkeypatch):
    """sample_mode='parity' collects one row per match to the driver; on
    an oversized frame it must refuse with a pointer to hash mode, not
    OOM the driver (round-4 verdict item 7)."""
    import ecc_spark.contexts as cx

    spark = built["spark_session"]
    pages, matches, mentions = built["spark"]
    monkeypatch.setattr(cx, "PARITY_MAX_MATCHES", 5)
    with pytest.raises(ValueError, match="hash"):
        build_contexts(
            spark, matches, pages, mentions, built["seed_items"],
            built["mid2rid"], context_size=80, limit_contexts=3,
            sample_mode="parity", random_seed=99,
        ).collect()
