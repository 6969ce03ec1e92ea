"""Text preprocessing pipeline — pure-Python core shared by the
Arrow UDFs (``pulse_spark.text.udfs``) and the test oracle
(``pulse_spark.oracle``).

Reproduces the reference pipeline exactly
(``pkg/preprocess/preprocess.go:23-34``), in order:

  1. lowercase                       (preprocess.go:24)
  2. unicode normalize: NFD → drop non-spacing marks (Mn) → drop control
     chars (category C) except \\n and \\t → NFC   (pkg/word/unicode.go:12-25)
  3. strip HTML tags  ``<[^>]*>`` → " "            (pkg/word/word.go:17,26)
  4. strip punctuation ``[^\\p{L}\\p{N}\\p{So}\\s]+`` → " "  (word.go:16,27)
  5. whitespace tokenize (strings.Fields)          (word.go:34-36)
  6. optional stopword removal                     (word.go:39-43)
  7. optional classic Porter stemming              (word.go:46-57)

Doc length is NOT token-derived: the reference records the byte length of
the whitespace-trimmed raw content (``pkg/spimi/spimi.go:109`` with
``reader/ms-marco.go:70``) — see :func:`doc_length`.
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass

from pulse_spark.text.porter import stem_tokens
from pulse_spark.text.stopwords import STOPWORDS

__all__ = [
    "PreprocessSettings",
    "clean",
    "tokenize",
    "tokens",
    "doc_length",
]


@dataclass(frozen=True)
class PreprocessSettings:
    """Mirror of the reference's preprocess.Settings (preprocess.go:9-12)."""

    stopwords_removal: bool = True
    stemming: bool = True


_HTML_TAGS = re.compile(r"<[^>]*>")
# Go's \p{So} (Symbol, other) ≈ Python's unicodedata category "So".
# Python's re lacks \p classes, so build the character-class test from
# unicodedata categories, vectorized via str.translate with a deletion map
# being impossible (we replace runs with a space) → use a compiled regex of
# a custom predicate through re with a function is too slow; instead we
# classify each char lazily and cache (codepoint space is bounded).
_KEEP_CACHE: dict[str, bool] = {}


def _keep_char(ch: str) -> bool:
    """True if ch survives the punctuation remover [^\\p{L}\\p{N}\\p{So}\\s]."""
    v = _KEEP_CACHE.get(ch)
    if v is None:
        if ch.isspace():
            v = True
        else:
            cat = unicodedata.category(ch)
            v = cat[0] in ("L", "N") or cat == "So"
        _KEEP_CACHE[ch] = v
    return v


# Unicode-normalization char predicates (cached per codepoint)
_NORM_CACHE: dict[str, bool] = {}


def _drop_char(ch: str) -> bool:
    """True if ch is removed by the reference's unicodeNormalizer:
    non-spacing mark (Mn) or control-ish (category C*) except \\n, \\t."""
    v = _NORM_CACHE.get(ch)
    if v is None:
        cat = unicodedata.category(ch)
        v = cat == "Mn" or (cat[0] == "C" and ch not in "\n\t")
        _NORM_CACHE[ch] = v
    return v


_ASCII_CTRL = re.compile("[\x00-\x08\x0b-\x1f\x7f]")


def normalize_unicode(s: str) -> str:
    """NFD → remove Mn + control chars (except \\n,\\t) → NFC."""
    if s.isascii():
        # fast path: NFD/NFC are identity on ASCII; only C0 controls +
        # DEL matter (all category Cc except the kept \n \t)
        if _ASCII_CTRL.search(s) is None:
            return s
        return _ASCII_CTRL.sub("", s)
    d = unicodedata.normalize("NFD", s)
    d = "".join(c for c in d if not _drop_char(c))
    return unicodedata.normalize("NFC", d)


def clean(s: str) -> str:
    """Reference word.Clean: unicode-normalize, strip HTML, strip punct."""
    s = normalize_unicode(s)
    s = _HTML_TAGS.sub(" ", s)
    if s.isascii():
        # fast path for the common case: ASCII [^a-z0-9\s] after lowercase
        s = _ASCII_PUNCT.sub(" ", s)
    else:
        s = "".join(c if _keep_char(c) else " " for c in s)
    return s


# after lowercasing, ASCII letters are a-z; \s in Go regex is [\t\n\f\r ]
# but any ASCII whitespace is later a token separator anyway, and every
# non-kept ASCII char maps to " " — so a single class is exact on ASCII.
_ASCII_PUNCT = re.compile(r"[^a-zA-Z0-9\s]+")


def tokenize(s: str) -> list[str]:
    """strings.Fields — split on any whitespace run (word.go:34-36)."""
    return s.split()


def tokens(content: str, settings: PreprocessSettings = PreprocessSettings()) -> list[str]:
    """Full reference pipeline preprocess.Tokens (preprocess.go:23-34)."""
    content = content.lower()
    content = clean(content)
    toks = tokenize(content)
    if settings.stopwords_removal:
        toks = [t for t in toks if t not in STOPWORDS]
    if settings.stemming:
        toks = stem_tokens(toks)
    return toks


def doc_length(raw_text: str) -> int:
    """Reference doc size: len() in Go = BYTES of the TrimSpace'd content
    (spimi.go:109 + ms-marco.go:70). Spark equivalent:
    ``F.octet_length(F.trim(col))``."""
    return len(raw_text.strip().encode("utf-8"))
