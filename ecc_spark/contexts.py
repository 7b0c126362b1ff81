"""Phase-2 engine: matches + pages → contexts.

The reference is a single-threaded loop of per-entity SQLite point queries
(cmd/build_contexts_db.py:188-228, dao/matches_db.py:176-200). The engine
replaces the E× loop with ONE global plan:

    matches ⨝ pages on page=title (column-pruned to title,text)  [shuffle]
      → clamped substring window (OPS-15, greatest/least algebra)
      → eligible-entity broadcast semi-join (skip/limit semantics)
      → per-entity sampling: hash mode = row_number window on mid [shuffle,
        reused by the UDF stage]; parity mode = driver-side MT19937 ranks
      → patterns = {label} ∪ mentions per entity, broadcast-joined as array column
      → crop (token|sentence) + mask pandas UDFs with empty-row drops
      → mid→rid broadcast join → contexts

Sampling modes (SURVEY.md OPS-25/26):
- 'hash' (default, scale path): deterministic key xxhash64(mid, page,
  start_char, mention); fully distributed.
- 'parity': reproduces the reference's shared-RNG shuffle stream exactly;
  collects (mid, doc_seq, match_seq) RANK KEYS to the driver — O(#matches
  of eligible entities) keys, no text. Toy/validation scale only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ecc_spark.rng import ReferenceRng, entity_processing_order, parity_sample_keys
from ecc_spark.udfs import crop_mask_udf

# sample_mode="parity" collects one (mid, doc_seq, match_seq) row per match to
# the driver to replay the reference's MT19937 draw order exactly.  That is a
# verification mode; this ceiling keeps it off real corpora.
PARITY_MAX_MATCHES = 2_000_000


def context_window(matches: DataFrame, pages: DataFrame, size: int) -> DataFrame:
    """OPS-15: one global join replaces E point queries. Exact SQLite
    window algebra from dao/matches_db.py:183-193 (1-based SUBSTR)."""
    p = pages.select(F.col("title"), F.col("text"))  # prune: text is the fat column
    j = matches.join(p, matches.page == p.title, "inner")
    start1 = F.col("start_char") + 1
    win_start = F.greatest(start1 - size, F.lit(1))
    win_len = F.least(
        (start1 - win_start) + (F.col("end_char") - F.col("start_char")) + size,
        F.length("text"),
    )
    keep = [c for c in matches.columns if c not in ("context",)]
    return j.select(*keep, F.substring("text", win_start, win_len).alias("window_context"))


def build_contexts(
    spark: SparkSession,
    matches: DataFrame,
    pages: DataFrame,
    mentions: DataFrame,
    seed_items: list[tuple[str, str, str]],
    mid2rid: dict[str, int],
    context_size: int = 100,
    crop_sentences: bool = False,
    limit_contexts: int | None = None,
    limit_entities: int | None = None,
    random_seed: int | None = None,
    sample_mode: str = "hash",
) -> DataFrame:
    """Returns the contexts DataFrame (schemas.CONTEXTS).

    seed_items: (mid, label, wikipedia) in seeds-file insertion order —
    the reference shuffles exactly this list (cmd/build_contexts_db.py:188).
    mid2rid: small driver-side dict (reference loads it the same way,
    dao/mid2rid_txt.py:4-18).
    """
    rng = ReferenceRng(random_seed)
    order = entity_processing_order(seed_items, set(mid2rid), limit_entities, rng)
    eligible = spark.createDataFrame(
        [(mid, label, mid2rid[mid]) for mid, label, _ in order] or [("", "", 0)],
        schema="mid string, entity_label string, rid int",
    )
    if not order:
        eligible = eligible.limit(0)

    ctx = context_window(matches, pages, context_size)
    if "entity_label" in ctx.columns:
        ctx = ctx.drop("entity_label")  # use the seeds-file label (ref :200)
    ctx = ctx.join(F.broadcast(eligible), "mid", "inner")

    if limit_contexts is not None or sample_mode == "parity":
        if sample_mode == "parity":
            # Parity mode replays the reference's driver-side MT19937 sampling
            # exactly, which requires ONE ROW PER MATCH ON THE DRIVER. It is a
            # test/verification mode only: driver memory bounds it to corpora
            # of at most PARITY_MAX_MATCHES matches. Use the default
            # sample_mode="hash" (fully distributed window top-k) on real data.
            # ceiling enforced on the SAME collect that fetches the keys
            # (limit(N+1) overfetch) — a separate ctx.count() guard would
            # execute the whole upstream join plan twice per parity run
            keys = (
                ctx.select("mid", "doc_seq", "match_seq")
                .limit(PARITY_MAX_MATCHES + 1)
                .collect()
            )
            if len(keys) > PARITY_MAX_MATCHES:
                raise ValueError(
                    f"sample_mode='parity' collects every match key to the "
                    f"driver; over {PARITY_MAX_MATCHES} matches exceeds the "
                    f"ceiling. Use sample_mode='hash' "
                    f"(distributed per-entity top-k) for corpora this size."
                )
            keys.sort(key=lambda r: (r["mid"], r["doc_seq"], r["match_seq"]))
            per_entity: dict[str, list[tuple[int, int]]] = {}
            for r in keys:
                per_entity.setdefault(r["mid"], []).append((r["doc_seq"], r["match_seq"]))
            keep = parity_sample_keys(
                per_entity, [mid for mid, _, _ in order], limit_contexts, rng
            )
            keep_df = spark.createDataFrame(
                [(m, k[0], k[1]) for m, k in keep] or [("", -1, -1)],
                schema="mid string, doc_seq long, match_seq int",
            )
            if not keep:
                keep_df = keep_df.limit(0)
            ctx = ctx.join(F.broadcast(keep_df), ["mid", "doc_seq", "match_seq"], "left_semi")
        else:
            w = W.partitionBy("mid").orderBy(
                F.xxhash64("mid", "page", "start_char", "mention")
            )
            ctx = (
                ctx.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= limit_contexts)
                .drop("_rn")
            )

    # patterns = {label} ∪ distinct mentions (ref :215-218); global agg
    # replaces E point queries (SURVEY.md OPS-19). One row per seed entity,
    # so the join is an explicit broadcast: the repartition skip below
    # relies on it not shuffling, whatever the size estimate says.
    pat = mentions.groupBy("mid").agg(F.collect_set("mention").alias("ms"))
    ctx = ctx.join(F.broadcast(pat), "mid", "left").withColumn(
        "patterns",
        F.array_sort(
            F.array_distinct(
                F.concat(F.array("entity_label"), F.coalesce("ms", F.array()))
            )
        ),
    )

    # repartition by mid so each Arrow batch sees few distinct pattern sets
    # (matcher-per-batch cache in udfs.py). The partition count is EXPLICIT:
    # a bare repartition("mid") is AQE-coalesced by byte size, which
    # funnels the crop/mask pandas-UDF stage (whose per-row Python cost
    # AQE cannot see) into 1-2 tasks.
    # r6: skipped when the hash-sampling window above just ran — that
    # window already exchanged on hash(mid), the pat join is a broadcast,
    # so rows reaching the UDF are ALREADY clustered by mid and the extra
    # exchange was pure overhead (guide §2.4 "two operations keyed the
    # same way share one exchange"; measured 6.2s → 5.5s warm at sf1.0).
    if not (limit_contexts is not None and sample_mode != "parity"):
        ctx = ctx.repartition(spark.sparkContext.defaultParallelism * 2, "mid")

    # ONE fused pandas UDF for crop+mask: the old crop→filter→mask chain
    # shipped every context string across Arrow twice. masked_context is
    # null exactly when the reference drops the row (empty crop :296-298
    # or zero masked span :337-338) — one filter replaces both.
    ctx = ctx.withColumn(
        "_cm",
        crop_mask_udf(
            "window_context",
            "patterns",
            F.lit("sentences" if crop_sentences else "tokens"),
        ),
    ).filter(F.col("_cm.masked_context").isNotNull())

    return ctx.select(
        F.col("rid").alias("entity"),
        "entity_label",
        "mention",
        F.col("page").alias("page_title"),
        F.col("_cm.context").alias("context"),
        F.col("_cm.masked_context").alias("masked_context"),
    )
