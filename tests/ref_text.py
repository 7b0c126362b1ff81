"""Per-character tokenizer and sentencizer: the test oracle for the
compiled-regex versions in ecc_spark.text.

tests/ref_model and the benchmark's output check both tokenize through
ecc_spark.text, so they cannot catch a change in its semantics. These
loops state the rules one character at a time:

- tokenize: word = maximal run of alphanumerics, ``_``, ``'`` and ``#``;
  any other non-space char is a single-char token; whitespace skipped.
- sentencize: a sentence ends at ``. ! ?`` (possibly repeated, possibly
  followed by closing quotes/brackets) when followed by whitespace or
  end-of-text; newline always ends a sentence.
"""

from __future__ import annotations

from ecc_spark.text import Sentence, Token

_WORD_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_'#")


def _is_word_char(ch: str) -> bool:
    return ch in _WORD_CHARS or ch.isalnum()


def tokenize(text: str) -> list[Token]:
    tokens: list[Token] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
            i += 1
            continue
        if _is_word_char(ch):
            j = i + 1
            while j < n and _is_word_char(text[j]):
                j += 1
            tokens.append(Token(text[i:j], i, j))
            i = j
        else:
            tokens.append(Token(ch, i, i + 1))
            i += 1
    return tokens


_SENT_END = {".", "!", "?"}
SENT_TRAIL = {'"', "'", ")", "]", "»", "”", "’"}


def sentencize(text: str) -> list[Sentence]:
    sents: list[Sentence] = []
    n = len(text)
    start = 0
    i = 0
    while i < n:
        ch = text[i]
        if ch == "\n":
            if text[start:i].strip():
                sents.append(_mk_sent(text, start, i))
            start = i + 1
            i += 1
            continue
        if ch in _SENT_END:
            j = i + 1
            while j < n and text[j] in _SENT_END:
                j += 1
            while j < n and text[j] in SENT_TRAIL:
                j += 1
            if j >= n or text[j].isspace():
                if text[start:j].strip():
                    sents.append(_mk_sent(text, start, j))
                start = j
                i = j
                continue
            i = j
            continue
        i += 1
    if text[start:].strip():
        sents.append(_mk_sent(text, start, n))
    return sents


def _mk_sent(text: str, start: int, end: int) -> Sentence:
    while start < end and text[start].isspace():
        start += 1
    while end > start and text[end - 1].isspace():
        end -= 1
    return Sentence(text[start:end], start, end)
