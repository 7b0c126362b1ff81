"""Vectorized pandas UDF surface (SURVEY.md §2.10).

Everything the reference did per-row in Python (spaCy, wikitextparser —
cmd/build_matches_db.py:237-320, cmd/build_contexts_db.py:239-354) lives
here as Arrow-batched pandas UDFs over ecc_spark.text — the only Python
that runs on executors. No per-row Python UDFs anywhere in the engine
(BASELINE.json input_hint).

Phase 1 crosses the Python boundary once per page: ``page_matches_udf``
builds the page's mention map from its links, cleans its text and
phrase-matches the unambiguous mentions, as the reference's per-page
worker does (cmd/build_matches_db.py:237-320). Phase 2 crosses it once
per context in ``crop_mask_udf``, whose matchers are built once per
distinct pattern set within an Arrow batch via a key-cache.
``clean_text_udf`` and ``phrase_match_udf`` remain as the single-step
operators that ops/pipeline_ops.py exposes as registry queries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecc_spark import text as X

SPAN_ARR = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), False),
        ]
    )
)

MATCH_ARR = T.ArrayType(
    T.StructType(
        [
            T.StructField("start_char", T.IntegerType(), False),
            T.StructField("end_char", T.IntegerType(), False),
            T.StructField("mention", T.StringType(), False),
        ]
    )
)


def _matcher_cache():
    cache: dict[tuple[str, ...], dict] = {}

    def get(patterns) -> dict:
        key = tuple(patterns)
        m = cache.get(key)
        if m is None:
            m = X.build_matcher(list(patterns))
            cache[key] = m
        return m

    return get


# entries: the unambiguous mention → (mid, label) map (OPS-18);
# match_arr: every phrase match in text order, with mid/label null when
# the matched surface is not itself a mention key
PAGE_MATCHES = (
    "entity_link_count int, mention_count int,"
    " entries array<struct<mention: string, mid: string, label: string>>,"
    " clean_text string,"
    " match_arr array<struct<start_char: int, end_char: int, mention: string,"
    " mid: string, label: string>>"
)
_PAGE_MATCHES_COLS = ["entity_link_count", "mention_count", "entries", "clean_text", "match_arr"]


def page_matches(page_text: str, mentions, targets, title_map: dict) -> tuple:
    """One page of the reference's per-page worker
    (cmd/build_matches_db.py:251-297): entity links are the links whose
    target is a seed title; a mention mapping to more than one distinct
    (mid, label) is ambiguous and dropped; the cleaned text is matched
    against the remaining mentions. ``title_map`` maps a title to its
    (mid, label) list. Returns the PAGE_MATCHES fields."""
    mids: dict[str, set] = {}
    entity_links = 0
    for mention, target in zip(mentions, targets):
        for entry in title_map.get(target, ()):
            mids.setdefault(mention, set()).add(entry)
            entity_links += 1
    m2e = {m: next(iter(es)) for m, es in mids.items() if len(es) == 1}
    clean = X.clean_up_text(page_text)
    found = X.phrase_match(clean, X.build_matcher(list(m2e)))
    matches = []
    for m in found:
        mid, label = m2e.get(m.mention, (None, None))
        matches.append(
            {"start_char": m.start_char, "end_char": m.end_char,
             "mention": m.mention, "mid": mid, "label": label}
        )
    entries = [{"mention": k, "mid": mid, "label": label} for k, (mid, label) in m2e.items()]
    return entity_links, len(mids), entries, clean, matches


def page_matches_udf(title_map):
    """The phase-1 page UDF over (page_text, link mentions, link targets);
    ``title_map`` is a Spark broadcast of the seed-title map, so it
    reaches each Python worker once per call, not once per batch."""

    @F.pandas_udf(PAGE_MATCHES)
    def page_matches_pudf(
        page_text: pd.Series, mentions: pd.Series, targets: pd.Series
    ) -> pd.DataFrame:
        t2m = title_map.value
        rows = [page_matches(*r, t2m) for r in zip(page_text, mentions, targets)]
        return pd.DataFrame(rows, columns=_PAGE_MATCHES_COLS)

    # optimizer fence, as for crop_mask_udf below: every output field is
    # extracted from ONE evaluation per page
    return page_matches_pudf.asNondeterministic()


@F.pandas_udf(T.StringType())
def clean_text_udf(page_text: pd.Series) -> pd.Series:
    """OPS-30: sentence-quality cleanup (reference cmd/build_matches_db.py:323-359)."""
    return page_text.map(lambda t: X.clean_up_text(t) if t is not None else None)


@F.pandas_udf(MATCH_ARR)
def phrase_match_udf(txt: pd.Series, patterns: pd.Series) -> pd.Series:
    """OPS-31: all token-exact pattern occurrences with char spans
    (reference cmd/build_matches_db.py:269-297)."""
    get = _matcher_cache()

    def go(row):
        t, pats = row
        if t is None or pats is None or len(pats) == 0:
            return []
        return [
            {"start_char": m.start_char, "end_char": m.end_char, "mention": m.mention}
            for m in X.phrase_match(t, get(pats))
        ]

    return pd.Series([go(r) for r in zip(txt, patterns)])


@F.pandas_udf(T.StringType())
def crop_tokens_udf(context: pd.Series) -> pd.Series:
    """OPS-32: drop first+last token, join ' ' (ref cmd/build_contexts_db.py:287-294).
    Empty result → null (caller drops, ref :296-298)."""
    return context.map(lambda c: (X.crop_context_tokens(c) or None) if c is not None else None)


@F.pandas_udf(T.StringType())
def crop_sentences_udf(context: pd.Series, patterns: pd.Series) -> pd.Series:
    """OPS-33: sentence-mode crop (ref cmd/build_contexts_db.py:258-285)."""
    get = _matcher_cache()

    def go(row):
        c, pats = row
        if c is None:
            return None
        return X.crop_context_sentences(c, get([] if pats is None else list(pats))) or None

    return pd.Series([go(r) for r in zip(context, patterns)])


@F.pandas_udf(T.StringType())
def mask_context_udf(context: pd.Series, patterns: pd.Series) -> pd.Series:
    """OPS-34: maximal-span '#' masking; null when no span survives
    (ref cmd/build_contexts_db.py:303-354 — row dropped at :337-338)."""
    get = _matcher_cache()

    def go(row):
        c, pats = row
        if c is None:
            return None
        return X.mask_context(c, get([] if pats is None else list(pats)))

    return pd.Series([go(r) for r in zip(context, patterns)])


CROP_MASK = T.StructType(
    [
        T.StructField("context", T.StringType(), True),
        T.StructField("masked_context", T.StringType(), True),
    ]
)


@F.pandas_udf(CROP_MASK)
def crop_mask_udf(context: pd.Series, patterns: pd.Series, mode: pd.Series) -> pd.DataFrame:
    """OPS-32/33/34 fused: crop (token or sentence mode) + maximal-span
    masking in ONE Arrow round trip — the separate crop→filter→mask
    chain shipped every context string across the Python boundary twice
    (measured ~30% of phase-2 wall). masked_context is null when the
    crop emptied the row or no span survived (ref :296-298, :337-338);
    masked notnull ⟹ context notnull, so callers filter once."""
    get = _matcher_cache()
    ctxs: list[str | None] = []
    masked: list[str | None] = []
    for c, pats, m in zip(context, patterns, mode):
        if c is None:
            ctxs.append(None)
            masked.append(None)
            continue
        pl = [] if pats is None else list(pats)
        if m == "sentences":
            cc = X.crop_context_sentences(c, get(pl)) or None
        else:
            cc = X.crop_context_tokens(c) or None
        ctxs.append(cc)
        masked.append(None if cc is None else X.mask_context(cc, get(pl)))
    return pd.DataFrame({"context": ctxs, "masked_context": masked})


# optimizer fence, not a semantics claim: the function IS deterministic,
# but CollapseProject otherwise inlines the struct-returning UDF into
# BOTH the masked-notnull filter and the field-extraction projection —
# two full evaluations per row (verified in the physical plan). Marking
# it nondeterministic pins one ArrowEvalPython node whose result both
# consumers share.
crop_mask_udf = crop_mask_udf.asNondeterministic()


@F.pandas_udf(T.ArrayType(T.StringType()))
def sentences_udf(txt: pd.Series) -> pd.Series:
    """Sentencize to an array (explode downstream) — used by text-analysis ops."""
    return txt.map(lambda t: [s.text for s in X.sentencize(t)] if t is not None else None)
