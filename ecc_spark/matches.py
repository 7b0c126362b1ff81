"""Phase-1 engine: documents (interleaved spans) → pages / matches / mentions.

Re-expresses the reference's per-page worker pipeline
(cmd/build_matches_db.py:237-320) as ONE narrow Spark plan — every step
is per page, so nothing is shuffled before the Python stage:

    documents scan → OPS-7/8 filters
      → plain text + link mentions/targets (JVM projection)
      → page_matches_udf: mention map with the OPS-18 ambiguity drop,
        clean text (OPS-30) and phrase matches (OPS-31) in ONE Arrow
        round trip per page
      → persist (only the columns the three outputs read)
      → pages / matches / mentions projections + PK dedup (OPS-14)

Scale notes: the seed-title map (OPS-13) reaches the Python workers as a
Spark broadcast — small by construction, it is the crawl seed list. The
only shuffles left are the three PK dedups on the outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.storagelevel import StorageLevel

from ecc_spark.udfs import page_matches_udf

_PERSISTED: list = []  # build_matches' enriched frame and broadcast from the previous call


def _first_writer(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """PK dedup with the reference's INSERT OR IGNORE semantics
    (dao/matches_db.py:53): the FIRST row in insertion order wins. When
    the order columns exist, pick min-order per key via a window;
    otherwise fall back to dropDuplicates (arbitrary winner — acceptable
    only when keys are unique by construction, e.g. one dump = unique
    titles)."""
    if all(c in df.columns for c in order_cols):
        w = W.partitionBy(*keys).orderBy(*order_cols)
        return df.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        ).drop("_rn")
    return df.dropDuplicates(keys)

NAMESPACE_RE = (
    # exact reference set (util/wikipedia.py:66-71): Talk: plus X:/X talk:
    # — Special:/Media: are NOT in the reference list
    '^(?:Talk:|(?:User|Wikipedia|File|MediaWiki|Template|Help|Category|Portal|Book|Draft|Education Program|TimedText|Module|Gadget|Gadget definition)(?: talk)?:)'
)

DEBUG_CONTEXT_PAD = 20  # reference cmd/build_matches_db.py:295-297


def seed_title_map(seeds: DataFrame) -> DataFrame:
    """(title, mid, label) from seed URLs — reference
    cmd/build_matches_db.py:225-234: unquote the WHOLE url, then take the
    last '/'-segment, then '_'→' '. Last writer wins on duplicate titles
    (dict semantics); requires a ``seed_idx`` column for that ordering,
    else assumes titles unique."""
    s = seeds.filter(F.col("wikipedia") != "")
    title = F.replace(
        F.regexp_extract(F.url_decode("wikipedia"), r"([^/]+)$", 1), F.lit("_"), F.lit(" ")
    )
    out = s.select(title.alias("title"), "mid", "label", *(
        ["seed_idx"] if "seed_idx" in s.columns else []
    ))
    if "seed_idx" in s.columns:
        w = W.partitionBy("title").orderBy(F.col("seed_idx").desc())
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "seed_idx")
        )
    return out


def plain_text_col(spans_col: str = "spans"):
    """Reconstruct plain text from spans JVM-side (media contributes no
    surface). Replaces wikitextparser's plain_text() (OPS-29)."""
    # array_join over a projected array is a single allocation; the
    # aggregate/concat fold it replaces copied the accumulator per span
    # (O(k * page_len) char copies on span-heavy pages).
    return F.array_join(
        F.transform(
            F.filter(spans_col, lambda s: s.kind != F.lit("media")),
            lambda s: s.text,
        ),
        "",
    )


def build_matches(
    documents: DataFrame,
    seeds: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (pages, matches, mentions).

    ``documents``: (doc_id, redirect, spans[, hidden_links][, doc_seq]) —
    doc_seq is the dump order, carried through to matches as (doc_seq,
    match_seq) so the phase-2 RNG-parity mode can reproduce the
    reference's insertion order.
    """
    seq = ["doc_seq"] if "doc_seq" in documents.columns else []
    docs = documents.filter(
        F.col("doc_id").isNotNull() & F.col("spans").isNotNull()  # OPS-7
    ).filter(~F.col("doc_id").rlike(NAMESPACE_RE))  # OPS-8

    title_map: dict[str, list[tuple[str, str]]] = {}
    for r in seed_title_map(seeds).collect():
        title_map.setdefault(r["title"], []).append((r["mid"], r["label"]))
    title_map_bc = documents.sparkSession.sparkContext.broadcast(title_map)

    links = [F.filter("spans", lambda s: s.kind == F.lit("link"))]
    if "hidden_links" in documents.columns:
        # links inside templates/refs feed the mention map but never the
        # plain text — reference cmd/build_matches_db.py:251-266 collects
        # wikilinks from the WHOLE AST while plain_text() excludes them
        links.append(F.coalesce("hidden_links", F.array()))
    # anchor text (ref :261 — falls back to the target; ingest guarantees
    # text) and target of every link
    mentions = F.concat(*(F.transform(a, lambda l: l.text) for a in links))
    targets = F.concat(*(F.transform(a, lambda l: l.media_ref) for a in links))

    enriched = (
        docs.select(
            "doc_id",
            *seq,
            plain_text_col("spans").alias("page_text"),
            mentions.alias("mentions"),
            targets.alias("targets"),
        )
        .select(
            "doc_id",
            *seq,
            F.size("mentions").alias("link_count"),
            F.length("page_text").cast("int").alias("text_len"),
            page_matches_udf(title_map_bc)("page_text", "mentions", "targets").alias("p"),
        )
        .select("doc_id", *seq, "link_count", "text_len", "p.*")
    )
    # pages, matches, and mentions all derive from this frame; without a
    # materialization each consumer re-runs the page UDF over the whole
    # corpus (the CLI's three table writes would pay it three times).
    # Janitor-scoped: the next build_matches call frees this one's cache.
    while _PERSISTED:
        _PERSISTED.pop().unpersist(False)
    enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.extend([enriched, title_map_bc])

    pages = _first_writer(
        enriched.select(
            F.col("doc_id").alias("title"),
            *seq,
            F.col("clean_text").alias("text"),
            "link_count",
            "entity_link_count",
            "mention_count",
            F.size("entries").alias("unique_mention_count"),
            "text_len",
            F.length("clean_text").cast("int").alias("clean_text_len"),
            F.size("match_arr").alias("match_count"),
        ),
        ["title"],  # PK, first-writer-wins in dump order (ref dao/matches_db.py:42,53)
        ["doc_seq"],
    ).drop(*seq)

    m = enriched.select(
        F.col("doc_id").alias("page"),
        *seq,
        "clean_text",
        F.posexplode("match_arr").alias("match_seq", "mt"),
    )
    # divergence from reference: an unmapped match surface raises KeyError
    # there (page skipped via the exception channel, :319-320); we drop the
    # match row. It needs a surface whose tokens equal a mention's while
    # its text differs (e.g. inner whitespace).
    m = m.filter(F.col("mt.mid").isNotNull())

    start, end = F.col("mt.start_char"), F.col("mt.end_char")
    ctx_start0 = F.greatest(start - DEBUG_CONTEXT_PAD, F.lit(0))  # 0-based, ref :295
    ctx_end0 = F.least(end + DEBUG_CONTEXT_PAD, F.length("clean_text"))
    matches = m.select(
        F.col("mt.mid").alias("mid"),
        F.col("mt.label").alias("entity_label"),
        F.col("mt.mention").alias("mention"),
        "page",
        *seq,
        "match_seq",
        start.alias("start_char"),
        end.alias("end_char"),
        F.substring("clean_text", ctx_start0 + 1, ctx_end0 - ctx_start0).alias("context"),
    )
    # PK (ref :92), first writer = (dump order, match order) when carried
    matches = _first_writer(
        matches, ["mid", "page", "start_char", "mention"], ["doc_seq", "match_seq"]
    )

    mentions = (
        enriched.select(F.explode("entries").alias("e"))
        .select(
            F.col("e.mid").alias("mid"),
            F.col("e.label").alias("entity_label"),
            F.col("e.mention").alias("mention"),
        )
        .dropDuplicates(["mid", "mention"])  # UNIQUE (ref :131,147-149)
    )

    return pages, matches, mentions
