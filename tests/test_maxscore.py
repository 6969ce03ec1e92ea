"""The MaxScore kernel (index/maxscore.py) against an exhaustive
accumulate-then-sort over the same fused arrays: identical doc ids and
scores, for both metrics and modes, with pruning actually taking place.
Pure numpy; no Spark session."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pulse_spark.config import BM25_B, BM25_K1
from pulse_spark.index.maxscore import FUSED_COLUMNS, fuse_terms, maxscore_topk
from pulse_spark.index.segments import _encode_block

N_DOCS = 3000
BASE = 1000          # global id of the span's first doc
BLOCK = 16
ADL = 40.0


def _postings(rng):
    """term -> (sorted global ids, tfs, lens).  "rare" sits in a narrow
    id band, so once it fills the top-k the other terms' blocks outside
    that band are skippable; "all" is in every doc (idf 0)."""
    lens_all = rng.integers(5, 120, N_DOCS)

    def term(ids):
        ids = np.sort(ids)
        return (ids + BASE, rng.integers(1, 6, ids.size), lens_all[ids])

    return {
        "rare": term(rng.choice(120, 25, replace=False)),
        "mid": term(rng.choice(N_DOCS, 300, replace=False)),
        "common": term(rng.choice(N_DOCS, 1800, replace=False)),
        "all": term(np.arange(N_DOCS)),
    }


def _segment_rows(postings, compress):
    rows = []
    for t, (ids, tfs, lens) in postings.items():
        for s in range(0, ids.size, BLOCK):
            sl = slice(s, s + BLOCK)
            rows.append(_encode_block(t, 0, ids[sl], tfs[sl], lens[sl],
                                      ADL, compress))
    return {c: [r[c] for r in rows] for c in FUSED_COLUMNS}


def _exhaustive(terms, k, bm25, conjunctive, n_required, deleted, allowed):
    """Every posting of every term scored, in the kernel's term order
    (decreasing upper bound), so the float sums match bit for bit."""
    def upper(e, w, idf):
        if bm25:
            return w * idf * float(e["bmp"].max(initial=0.0))
        return w * (1 + math.log(e["bmt"].max(initial=1))) * idf

    acc: dict[int, float] = {}
    hits: dict[int, int] = {}
    for e, w, idf in sorted(terms, key=lambda x: -upper(*x)):
        tf = e["tf"]
        if bm25:
            parts = tf / (BM25_K1 * ((1 - BM25_B) + BM25_B * (e["lens"] / ADL)) + tf)
        else:
            parts = 1 + np.log(tf)
        for d, sc in zip(e["idx"].tolist(), ((w * idf) * parts).tolist()):
            if (deleted is not None and deleted[d]) or (
                    allowed is not None and not allowed[d]):
                continue
            acc[d] = acc.get(d, 0.0) + sc
            hits[d] = hits.get(d, 0) + 1
    cand = [d for d in acc if not conjunctive or hits[d] >= n_required]
    ranked = sorted(cand, key=lambda d: (-acc[d], d))[:k]
    return [d + BASE for d in ranked], [acc[d] for d in ranked]


@pytest.mark.parametrize("compress", [True, False])
def test_kernel_equals_exhaustive(compress):
    rng = np.random.default_rng(20261017)
    postings = _postings(rng)
    fused = fuse_terms(_segment_rows(postings, compress), compress, BASE,
                       terms=["empty"])
    assert fused["empty"]["idx"].size == 0
    df = {t: ids.size for t, (ids, _, _) in postings.items()}
    df["empty"] = 7  # in the lexicon, no posting in this span
    idf = {t: math.log(N_DOCS / d) for t, d in df.items()}
    assert idf["all"] == 0.0
    weight = {"rare": 1, "mid": 2, "common": 1, "all": 1, "empty": 1}

    deleted = rng.random(N_DOCS) < 0.05
    allowed = rng.random(N_DOCS) < 0.7
    buffers = (np.zeros(N_DOCS), np.zeros(N_DOCS, dtype=bool),
               np.zeros(N_DOCS, dtype=np.int32))
    query_sets = [
        ["rare", "mid", "common", "all"],
        ["common", "rare", "empty"],
        ["all", "mid"],
        ["rare"],
    ]
    pruned_total = skipped_total = cases = 0
    for bm25 in (True, False):
        for qs in query_sets:
            terms = [(fused[t], weight[t], idf[t]) for t in qs]
            for conjunctive, n_required in ((False, 0), (True, len(qs)),
                                            (True, len(qs) + 1)):
                for k in (1, 5, 10_000):
                    for dm, am in ((None, None), (deleted, None),
                                   (None, allowed), (deleted, allowed)):
                        ids, scores, pruned, skipped = maxscore_topk(
                            terms, k, bm25=bm25, adl=ADL,
                            conjunctive=conjunctive, n_required=n_required,
                            base=BASE, buffers=buffers, deleted=dm,
                            allowed=am,
                        )
                        exp_ids, exp_scores = _exhaustive(
                            terms, k, bm25, conjunctive, n_required, dm, am)
                        case = (bm25, qs, conjunctive, n_required, k,
                                dm is not None, am is not None)
                        assert ids.tolist() == exp_ids, case
                        assert scores.tolist() == exp_scores, case
                        # pooled buffers come back zeroed
                        assert not buffers[0].any() and not buffers[1].any()
                        assert not buffers[2].any(), case
                        pruned_total += pruned
                        skipped_total += skipped
                        cases += 1
    assert cases == 2 * 4 * 3 * 3 * 4
    # the pruned path, and its block skip, actually ran
    assert pruned_total > 0
    assert skipped_total > 0


def test_kernel_resets_buffers_when_it_raises():
    """The finally-reset leaves pooled buffers clean even when scoring
    fails mid-query (here: an allowed mask too short for the span)."""
    rng = np.random.default_rng(5)
    fused = fuse_terms(_segment_rows(_postings(rng), True), True, BASE)
    # "rare" (ids < 120) has the higher bound, so it accumulates first;
    # "common" then indexes past the too-short allowed mask
    terms = [(fused["rare"], 1, 5.0), (fused["common"], 1, 0.5)]
    buffers = (np.zeros(N_DOCS), np.zeros(N_DOCS, dtype=bool), None)
    with pytest.raises(IndexError):
        maxscore_topk(terms, 10_000, bm25=True, adl=ADL, conjunctive=False,
                      n_required=0, base=BASE, buffers=buffers,
                      allowed=np.ones(N_DOCS // 2, dtype=bool))
    assert not buffers[0].any() and not buffers[1].any()
