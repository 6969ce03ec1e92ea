"""Pure-Python single-node reimplementation of the reference engine's
semantics (just-hms/pulse) — the rank-identity referee for the Spark
engine's tests.  ~150 LoC, no Spark, no numpy.

Semantics pinned to the reference:
  - tokenize pipeline  → pulse_spark.text.normalize (preprocess.go:23-46)
  - doc length         → bytes of ASCII-whitespace-trimmed raw text
                         (spimi.go:109, ms-marco.go:70)
  - N, ADL             → corpus size, mean doc length (stats.go:8-12)
  - df                 → number of docs containing the term, summed across
                         partitions at merge (spimi.go:196)
  - BM25               → sum over query-token OCCURRENCES (duplicates score
                         multiple times, search.go:30-46) of
                         tf/(k1*((1-b)+b*len/ADL)+tf) * ln(N/df),
                         k1=1.3 b=0.5 (metric.go:18-19, search.go:181-187)
  - TFIDF              → (1+ln tf) * ln(N/df)  (search.go:174-180)
  - conjunctive        → doc must contain every distinct query term that
                         exists in the corpus (search.go:113-116,138-141)
  - top-k ties         → reference heap order is unspecified; we fix the
                         deterministic order (score desc, doc_no asc) and
                         tests compare equal-score groups as sets
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field

from pulse_spark.text.normalize import PreprocessSettings, tokens

BM25_K1 = 1.3
BM25_B = 0.5

ASCII_WS = " \t\n\r\f\v"


def doc_len_bytes(text: str) -> int:
    return len(text.strip(ASCII_WS).encode("utf-8"))


@dataclass
class OracleIndex:
    settings: PreprocessSettings
    n_docs: int = 0
    adl: float = 0.0
    doc_lens: dict[str, int] = field(default_factory=dict)  # doc_no -> bytes
    postings: dict[str, dict[str, int]] = field(default_factory=dict)  # term -> {doc_no: tf}

    @property
    def df(self) -> dict[str, int]:
        return {t: len(p) for t, p in self.postings.items()}


def build_index(
    docs: list[tuple[str, str]],
    settings: PreprocessSettings = PreprocessSettings(),
) -> OracleIndex:
    """docs: list of (doc_no, raw_text). Every doc counts toward N/ADL even
    if it tokenizes to nothing (builder.add is unconditional, builder.go:38-47)."""
    idx = OracleIndex(settings=settings)
    total_len = 0
    for doc_no, raw in docs:
        trimmed = raw.strip(ASCII_WS)
        dl = len(trimmed.encode("utf-8"))
        idx.doc_lens[doc_no] = dl
        total_len += dl
        for term, tf in Counter(tokens(trimmed, settings)).items():
            idx.postings.setdefault(term, {})[doc_no] = tf
    idx.n_docs = len(docs)
    idx.adl = (total_len / idx.n_docs) if idx.n_docs else 0.0
    return idx


def search(
    idx: OracleIndex,
    query: str,
    k: int = 10,
    metric: str = "BM25",
    conjunctive: bool = False,
) -> list[tuple[str, float]]:
    """Top-k (doc_no, score), deterministic tie-break (score desc, doc_no asc)."""
    q_tokens = tokens(query, idx.settings)
    # keep only tokens present in the global lexicon, WITH multiplicity
    # (search.go:29-46: missing terms silently dropped, duplicates kept)
    q_terms = [t for t in q_tokens if t in idx.postings]
    if not q_terms:
        return []

    distinct = set(q_terms)
    scores: dict[str, float] = {}
    n, adl = idx.n_docs, idx.adl
    for t in q_terms:  # one pass per occurrence → duplicates score twice
        plist = idx.postings[t]
        idf = math.log(n / len(plist))
        for doc_no, tf in plist.items():
            if metric == "BM25":
                dl = idx.doc_lens[doc_no]
                s = tf / (BM25_K1 * ((1 - BM25_B) + BM25_B * (dl / adl)) + tf) * idf
            elif metric == "TFIDF":
                s = (1 + math.log(tf)) * idf
            else:
                raise ValueError(metric)
            scores[doc_no] = scores.get(doc_no, 0.0) + s

    if conjunctive:
        scores = {
            d: s for d, s in scores.items()
            if all(d in idx.postings[t] for t in distinct)
        }

    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]
