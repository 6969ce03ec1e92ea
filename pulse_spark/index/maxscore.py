"""The MaxScore top-k kernel: one pure-numpy implementation behind both
the Spark segments scorer (segments.search_segments, one call per
(query_id, doc_range) group) and the serving sidecar
(serve.PointServer.search, one call per query).  No Spark here.

Input is one FUSED entry per query term (fuse_terms): the term's
segment blocks decoded into single concatenated posting arrays, plus
per-block metadata arrays.  The kernel processes terms in decreasing score-upper
order; once the remaining terms' summed upper bound cannot lift a NEW
document past the current k-th score, later terms only update existing
candidates and skip blocks outside the candidate doc-id span.  Every
matched doc is still fully scored, so the returned top-k (scores AND
ranks) equals the exhaustive path's — the per-block max score the
reference computes but never uses (lexicon.go:37, spimi.go:197; SURVEY
§4.3) is what makes the skip safe.
"""

from __future__ import annotations

import math

import numpy as np

from pulse_spark.compression.codecs import (
    delta_varint_decode_concat,
    unary_decode_concat,
)
from pulse_spark.config import BM25_B, BM25_K1

# the segment columns fuse_terms reads
FUSED_COLUMNS = (
    "term", "n", "doc_ids_bin", "tfs_bin", "doc_lens_bin",
    "min_doc_id", "max_doc_id", "max_tf", "max_part",
)


def fuse_terms(cols, compress: bool, base: int,
               terms=()) -> dict[str, dict]:
    """Segment rows -> {term: {"idx","tf","lens": fused posting arrays,
    "off": block offsets (B+1), "blo","bhi","bmt","bmp": per-block
    metadata arrays, "pb","pt": memo slots for the partials}} for every
    term in cols["term"], plus an entry of empty arrays for each of
    `terms` without rows.

    cols maps each FUSED_COLUMNS name to an indexable column.
    base is subtracted from the doc ids so "idx" indexes a dense
    accumulator over [base, base + size).

    Each term's blocks are fused into single arrays (per-block views are
    recovered by slicing at "off" when MaxScore pruning skips blocks).
    At the 10^6-posting terms a 9M-doc corpus produces, a term spans
    ~8000 blocks of block_size=128 — a per-block Python loop costs
    ~10 µs/iteration of pure interpreter overhead, which dominated the
    warm accumulator pass; the fused form is O(1) numpy calls per term
    on the unpruned path.  Likewise ONE batched decode per term over the
    concatenation of its blocks' payloads (codecs.*_decode_concat): a
    9M-doc hot term spans ~25k blocks, and a per-block decode loop paid
    ~40 s of python/numpy call overhead on the cold fill of a stopword
    query (measured; BENCH.md §4g).  Block boundaries come from the `n`
    column; the decoders verify the stream against it.

    idx is int64 (numpy's intp: an int32 index array measured ~10%
    SLOWER — numpy re-casts non-intp indices on every indexing call)."""
    by_term: dict[str, list[int]] = {t: [] for t in terms}
    for i, t in enumerate(cols["term"]):
        by_term.setdefault(t, []).append(i)
    return {t: _fuse(cols, rows, compress, base)
            for t, rows in by_term.items()}


def _fuse(cols, rows: list[int], compress: bool, base: int) -> dict:
    counts = np.array([cols["n"][i] for i in rows], dtype=np.int64)
    ids_buf = b"".join(cols["doc_ids_bin"][i] for i in rows)
    tf_bufs = [cols["tfs_bin"][i] for i in rows]
    len_buf = b"".join(cols["doc_lens_bin"][i] for i in rows)
    if compress:
        ids = delta_varint_decode_concat(ids_buf, counts)
        tfs = unary_decode_concat(
            b"".join(tf_bufs), [len(x) for x in tf_bufs], counts, minimum=1,
        )
    else:
        ids = np.frombuffer(ids_buf, dtype="<u4").astype(np.uint64)
        tfs = np.frombuffer(b"".join(tf_bufs), dtype="<u4").astype(np.uint64)
    lens = np.frombuffer(len_buf, dtype="<u4").astype(np.uint64)
    off = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    return {
        "idx": ids.astype(np.int64) - base,
        "tf": tfs.astype(np.float64),
        "lens": lens,
        "off": off,
        "blo": np.array([cols["min_doc_id"][i] for i in rows], np.int64),
        "bhi": np.array([cols["max_doc_id"][i] for i in rows], np.int64),
        "bmt": np.array([cols["max_tf"][i] for i in rows], np.int64),
        "bmp": np.array([cols["max_part"][i] for i in rows], np.float64),
        "pb": None, "pt": None,
    }


def tombstone_mask(deleted_ids: np.ndarray | None, base: int,
                   size: int) -> np.ndarray | None:
    """Bool mask over [base, base + size) of the deleted doc ids in it
    (index/deletes.py), or None when none fall inside."""
    if deleted_ids is None or not deleted_ids.size:
        return None
    local = deleted_ids - base
    local = local[(local >= 0) & (local < size)]
    if not local.size:
        return None
    mask = np.zeros(size, dtype=bool)
    mask[local] = True
    return mask


def maxscore_topk(
    terms: list[tuple[dict, int, float]],
    k: int,
    *,
    bm25: bool,
    adl: float,
    conjunctive: bool,
    n_required: int,
    base: int,
    buffers: tuple,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
):
    """Top-k of one query over fused terms -> (doc_ids, scores,
    pruned_terms, blocks_skipped): global int64 doc ids and float64
    scores ranked (score desc, doc_id asc), at most k of them, plus how
    much the pruning did.

    terms: (fuse_terms entry, occurrence weight, idf) per distinct query
    term.  n_required: in conjunctive mode, the distinct terms a doc must
    match — the query's, which may exceed len(terms) when a doc_range
    holds no posting of some query term.  buffers: (acc float64, matched
    bool, hits int32 — None unless conjunctive) dense arrays over
    [base, base + size), zero on entry and again on return, so callers
    may pool them.
    deleted / allowed: optional bool masks over the same span; deleted
    docs (tombstones) and docs outside allowed are dropped DURING
    accumulation, before they enter the candidate set, so the k-th
    threshold never rests on a doc that cannot be returned (a post-hoc
    filter would under-fill k and make the pruning bound unsafe)."""
    memo_key = "pb" if bm25 else "pt"
    infos = []
    for e, w, idf in terms:
        if bm25:
            upper = w * idf * float(e["bmp"].max(initial=0.0))
        else:
            upper = w * (1 + math.log(e["bmt"].max(initial=1))) * idf
        infos.append((e, w * idf, upper))
    infos.sort(key=lambda x: -x[2])
    suffix = np.cumsum([u for *_, u in infos][::-1])[::-1]

    acc, matched, hits = buffers
    # matched tracks MEMBERSHIP, not score: a universal term has
    # idf = ln(1) = 0, and its zero-score matches still belong to the
    # disjunctive candidate set (rank-identity with search_topk).  The
    # candidate id list is kept INCREMENTALLY (cand_parts) so nothing
    # scans the full span — at 9M docs the acc[matched] /
    # nonzero(matched) full-span passes were ~25 ms of warm latency.
    cand_parts = [np.zeros(0, np.int64)]
    n_matched = 0
    pruned_terms = 0
    blocks_skipped = 0
    try:
        for i, (e, wi, _upper) in enumerate(infos):
            only_existing = False
            if not conjunctive and n_matched >= k:
                if len(cand_parts) > 1:
                    cand_parts = [np.concatenate(cand_parts)]
                cand_so_far = cand_parts[0]
                # same value multiset as acc[matched] (every candidate
                # exactly once), gathered in O(candidates)
                kth = -np.partition(-acc[cand_so_far], k - 1)[k - 1]
                if suffix[i] < kth - 1e-9:
                    only_existing = True
                    pruned_terms += 1
                    # global-id bounds (block metadata is global)
                    lo = int(cand_so_far.min()) + base
                    hi = int(cand_so_far.max()) + base
            parts = e[memo_key]
            if parts is None:
                # the per-posting partials are QUERY-INDEPENDENT, so the
                # first search touching a term under a metric memoizes
                # them; lazy per metric, because an eager fill measured
                # +70% cold p50 (the ln() is the expensive one).  A
                # benign write-once race under concurrent searches: both
                # writers compute identical arrays.
                tf = e["tf"]
                if bm25:
                    parts = tf / (
                        BM25_K1 * ((1 - BM25_B) + BM25_B * (e["lens"] / adl))
                        + tf
                    )
                else:
                    parts = 1 + np.log(tf)
                e[memo_key] = parts
            if only_existing:
                # pruned path: only the blocks intersecting the candidate
                # span, and only existing candidates — which already
                # passed the deleted/allowed masks, so neither is needed
                keep = (e["bhi"] >= lo) & (e["blo"] <= hi)
                blocks_skipped += int(np.count_nonzero(~keep))
                sel = np.repeat(keep, np.diff(e["off"]))
                idx, sc = e["idx"][sel], wi * parts[sel]
                m = matched[idx]
                acc[idx[m]] += sc[m]
                continue
            # full path: O(1) numpy calls over the whole term.  Every
            # posting id is unique within a term, so scatter-add order
            # cannot change a sum.  The candidate ids are recorded BEFORE
            # acc is written — the finally-reset only clears positions in
            # cand_parts, so an exception landing between the two must
            # never leave an unrecorded dirty position in a pooled buffer.
            idx = e["idx"]
            sc = wi * parts
            if deleted is not None:
                live = ~deleted[idx]
                if not live.all():
                    idx, sc = idx[live], sc[live]
            if allowed is not None:
                ok = allowed[idx]
                if not ok.all():
                    idx, sc = idx[ok], sc[ok]
            if idx.size:
                new = ~matched[idx]
                n_matched += int(np.count_nonzero(new))
                cand_parts.append(idx[new])
                matched[idx] = True
                acc[idx] += sc
                if conjunctive:
                    # conjunctive never prunes, so every posting passes
                    # here once per term: hits is a distinct-term count
                    hits[idx] += 1
        cand = np.concatenate(cand_parts)
        if conjunctive:
            cand = cand[hits[cand] >= n_required]
        scores = acc[cand]
        cand = cand + base  # back to global doc_ids
        if cand.size > k:
            # partition bound: keep every candidate scoring >= the k-th
            # largest (ties widen the set; doc_id tiebreak resolves below)
            kth = -np.partition(-scores, k - 1)[k - 1]
            keep = scores >= kth
            cand, scores = cand[keep], scores[keep]
        order = np.lexsort((cand, -scores))[:k]
        return cand[order], scores[order], pruned_terms, blocks_skipped
    finally:
        # targeted reset: every touched position is a candidate (acc is
        # only ever written where matched gets/has True), so the buffers
        # come back clean in O(candidates) — even when an exception
        # unwinds mid-search
        touched = np.concatenate(cand_parts)
        acc[touched] = 0.0
        matched[touched] = False
        if hits is not None:
            hits[touched] = 0
