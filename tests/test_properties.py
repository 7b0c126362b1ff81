"""Property-based tests (hypothesis) for the seams most prone to silent
off-by-ones: SQLite SUBSTR window algebra vs Python slicing (SURVEY.md
§7.3 risk 4), tokenizer span integrity, the regex tokenizer and
sentencizer against their per-character oracle, masking invariants, URL
canonicalization idempotence, and bloom membership completeness."""

from __future__ import annotations

import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from ecc_spark import text as X
from ecc_spark.crawl.canonical import canonicalize_py
from tests import ref_text

TEXTS = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs", "Po")),
    min_size=0,
    max_size=200,
)


def _sqlite_window(text: str, start_char: int, end_char: int, size: int) -> str:
    """The exact SQL algebra (dao/matches_db.py:183-193), 1-based SUBSTR."""
    start1 = start_char + 1
    win_start = max(start1 - size, 1)
    win_len = min((start1 - win_start) + (end_char - start_char) + size, len(text))
    return text[win_start - 1 : win_start - 1 + win_len]


@given(TEXTS, st.integers(0, 250), st.integers(0, 60), st.integers(1, 120))
@settings(max_examples=300, deadline=None)
def test_window_algebra_equals_python_slicing(text, start, span_len, size):
    """The clamped-substring algebra must equal the reference's intent:
    up to ``size`` chars each side of [start, end), clamped to the text."""
    if start > len(text):
        start = start % (len(text) + 1)
    end = min(start + span_len, len(text))
    got = _sqlite_window(text, start, end, size)
    want = text[max(start - size, 0) : min(end + size, len(text))]
    assert got == want


@given(TEXTS)
@settings(max_examples=300, deadline=None)
def test_tokenizer_spans_index_text(text):
    toks = X.tokenize(text)
    for t in toks:
        assert text[t.start : t.end] == t.text
        assert t.text and not t.text.isspace()
    # spans are ordered and non-overlapping
    for a, b in zip(toks, toks[1:]):
        assert a.end <= b.start


@given(TEXTS)
@settings(max_examples=300, deadline=None)
def test_sentencize_covers_nonspace(text):
    sents = X.sentencize(text)
    for s in sents:
        assert text[s.start : s.end] == s.text
        assert s.text.strip() == s.text
    # every non-space char is inside exactly one sentence
    covered = [False] * len(text)
    for s in sents:
        for i in range(s.start, s.end):
            assert not covered[i]
            covered[i] = True
    for i, ch in enumerate(text):
        if not ch.isspace():
            assert covered[i], (text, i)


# the characters where a regex class and a per-character predicate could
# disagree: digits of other scripts, unicode whitespace, the extra word
# characters, sentence ends and every closing quote/bracket right after one
ORACLE_TEXTS = st.lists(
    st.one_of(
        st.sampled_from(
            list("aZ09٣²½_'#.!?\n \t\x1c\x85　\xa0-,(")
            + ["." + q for q in sorted(ref_text.SENT_TRAIL)]
        ),
        st.characters(),
    ),
    max_size=80,
).map("".join)


@given(ORACLE_TEXTS)
@settings(max_examples=2000, deadline=None)
def test_regex_tokenizer_equals_per_character_oracle(text):
    assert X.tokenize(text) == ref_text.tokenize(text)
    assert X.sentencize(text) == ref_text.sentencize(text)


@given(TEXTS, st.lists(st.text(st.characters(whitelist_categories=("Lu", "Ll")), min_size=1, max_size=8), min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_mask_only_changes_to_hashes(text, patterns):
    matcher = X.build_matcher(patterns)
    masked = X.mask_context(text, matcher)
    if masked is None:
        return
    assert len(masked) == len(text)
    for a, b in zip(text, masked):
        assert a == b or b == "#"
    assert "#" in masked


@given(st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=80))
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(raw):
    url = "https://Example.COM:443/" + raw
    c1, h1, p1 = canonicalize_py(url)
    c2, h2, p2 = canonicalize_py(c1)
    assert (c2, h2) == (c1, h1)
    assert p1 == p2
    assert p1 == zlib.crc32(c1.encode()) / 2.0**32


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=500))
@settings(max_examples=100, deadline=None)
def test_bloom_bitmap_no_false_negatives(hashes):
    """Pure-numpy check of the bloom math in crawl.seen: every inserted
    hash must test positive (false positives allowed, negatives never)."""
    import numpy as np

    from ecc_spark.crawl.seen import _indexes

    m_bits = 1 << 12
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    h = np.array(hashes, dtype=np.int64)
    for idx in _indexes(h, m_bits):
        np.bitwise_or.at(bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))
    hit = np.ones(len(h), dtype=bool)
    for idx in _indexes(h, m_bits):
        hit &= (bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1 == 1
    assert hit.all()
