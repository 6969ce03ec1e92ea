"""Block-structured compressed posting segments + per-block max-score
metadata — the performance path for query execution.

Layout (out_dir/segments/, parquet partitioned by doc_range):
  (doc_range int, term string, min_doc_id long, max_doc_id long, n int,
   doc_ids_bin binary,   -- delta+varint (codecs.py, reference bitstream)
   tfs_bin binary,       -- unary, min=1 (reference bitstream)
   doc_lens_bin binary,  -- uint32 LE raw (reference doc.bin style)
   max_tf int, max_part double)

max_part = max over block entries of  tf / (k1*((1-b) + b*dl/ADL) + tf)
— the df-independent BM25 factor; a block's score upper bound for a term
with document frequency df is  ln(N/df) * max_part.  The reference
computes MaxTermFrequency for exactly this purpose but never uses it
(lexicon.go:37, spimi.go:197; SURVEY §4.3) — here the scorer actually
prunes with it.

Scale design: documents are split into doc_ranges (the unit of scoring
parallelism — the analog of the reference's per-partition search,
search.go:52-62).  Segment build is ONE shuffle (repartitionById on
doc_range, one range per task; sort by term within partitions) and a
linear mapInArrow pass that encodes each Arrow batch's blocks in numpy
(encode_partition), with no per-posting Python loop; no per-term
grouping, so hot terms cannot skew an aggregation — a mega term simply
spans many blocks across ranges.
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from pulse_spark.compression.codecs import (
    delta_varint_decode,
    delta_varint_encode,
    delta_varint_encode_concat,
    unary_decode,
    unary_encode,
    unary_encode_concat,
)
from pulse_spark.config import BM25_B, BM25_K1, IndexingSettings
from pulse_spark.index import checkpoint as ckpt
from pulse_spark.index.maxscore import (
    FUSED_COLUMNS,
    fuse_terms,
    maxscore_topk,
    tombstone_mask,
)

SEGMENT_SCHEMA = T.StructType([
    T.StructField("doc_range", T.IntegerType()),
    T.StructField("term", T.StringType()),
    T.StructField("min_doc_id", T.LongType()),
    T.StructField("max_doc_id", T.LongType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("doc_ids_bin", T.BinaryType()),
    T.StructField("tfs_bin", T.BinaryType()),
    T.StructField("doc_lens_bin", T.BinaryType()),
    T.StructField("max_tf", T.IntegerType()),
    T.StructField("max_part", T.DoubleType()),
])


def _encode_block(term, rng, ids, tfs, lens, adl, compress):
    """One segment block as a row dict, encoded posting by posting: the
    byte-level reference that tests/test_build_layout.py and
    tests/test_maxscore.py compare encode_blocks against.  No production
    path calls it; every index writes its segments through
    build_segments."""
    ids = np.asarray(ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    lens = np.asarray(lens, dtype=np.uint64)
    part = tfs / (BM25_K1 * ((1 - BM25_B) + BM25_B * (lens / adl)) + tfs)
    if compress:
        ids_bin = delta_varint_encode(ids)
        tfs_bin = unary_encode(tfs, minimum=1)
    else:
        ids_bin = ids.astype("<u4").tobytes()
        tfs_bin = tfs.astype("<u4").tobytes()
    return {
        "doc_range": int(rng),
        "term": term,
        "min_doc_id": int(ids[0]),
        "max_doc_id": int(ids[-1]),
        "n": int(len(ids)),
        "doc_ids_bin": ids_bin,
        "tfs_bin": tfs_bin,
        "doc_lens_bin": lens.astype("<u4").tobytes(),
        "max_tf": int(tfs.max()),
        "max_part": float(part.max()),
    }


def decode_payload(ids_bin: bytes, tfs_bin: bytes, lens_bin: bytes, compress: bool):
    """-> (doc_ids u64, tfs u64, doc_lens u64) numpy arrays."""
    if compress:
        ids = delta_varint_decode(bytes(ids_bin))
        tfs = unary_decode(bytes(tfs_bin), minimum=1)
    else:
        ids = np.frombuffer(bytes(ids_bin), dtype="<u4").astype(np.uint64)
        tfs = np.frombuffer(bytes(tfs_bin), dtype="<u4").astype(np.uint64)
    lens = np.frombuffer(bytes(lens_bin), dtype="<u4").astype(np.uint64)
    return ids, tfs, lens


SEGMENT_ARROW_SCHEMA = to_arrow_schema(SEGMENT_SCHEMA)


def _binary(data: np.ndarray, lengths: np.ndarray) -> pa.Array:
    """Arrow binary array of len(lengths) values cut from one byte
    buffer."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.Array.from_buffers(
        pa.binary(), len(lengths),
        [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(data))],
    )


def encode_blocks(term: pa.Array, rng: np.ndarray, ids: np.ndarray,
                  tfs: np.ndarray, lens: np.ndarray, starts: np.ndarray,
                  adl: float, compress: bool) -> pa.RecordBatch:
    """Encode the blocks of sorted postings that begin at `starts` (the
    last one runs to the end) in one vectorized pass — per block the
    same bytes and maxima as _encode_block.  ids/tfs/lens are uint64."""
    counts = np.diff(np.append(starts, len(ids)))
    ends = starts + counts - 1
    if compress:
        ids_bin = _binary(*delta_varint_encode_concat(ids, counts))
        tfs_bin = _binary(*unary_encode_concat(tfs, counts, minimum=1))
    else:
        ids_bin = _binary(ids.astype("<u4").view(np.uint8), 4 * counts)
        tfs_bin = _binary(tfs.astype("<u4").view(np.uint8), 4 * counts)
    part = tfs / (BM25_K1 * ((1 - BM25_B) + BM25_B * (lens / adl)) + tfs)
    return pa.RecordBatch.from_arrays([
        pa.array(rng[starts], pa.int32()),
        term.take(pa.array(starts)).cast(pa.string()),
        pa.array(ids[starts].astype(np.int64)),
        pa.array(ids[ends].astype(np.int64)),
        pa.array(counts, pa.int32()),
        ids_bin,
        tfs_bin,
        _binary(lens.astype("<u4").view(np.uint8), 4 * counts),
        pa.array(np.maximum.reduceat(tfs, starts).astype(np.int32)),
        pa.array(np.maximum.reduceat(part, starts)),
    ], schema=SEGMENT_ARROW_SCHEMA)


def encode_partition(batches: Iterator[pa.RecordBatch], block_size: int,
                     adl: float, compress: bool) -> Iterator[pa.RecordBatch]:
    """(term, doc_range, doc_id, tf, doc_len) batches, sorted by (term,
    doc_id) -> segment block batches.  A block ends at a (term,
    doc_range) change or after block_size postings.  The last block of a
    batch may continue in the next one, so its rows are carried over
    (at most block_size of them): batches stream through, a partition is
    never concatenated."""
    carry = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        cols = [rb.column(c) for c in ("term", "doc_range", "doc_id", "tf", "doc_len")]
        term = cols[0]
        num = [np.asarray(c.to_numpy(), dtype=t) for c, t in
               zip(cols[1:], (np.int64, np.uint64, np.uint64, np.uint64))]
        if carry is not None:
            term = pa.concat_arrays([carry[0], term])
            num = [np.concatenate([a, b]) for a, b in zip(carry[1:], num)]
        rng = num[0]
        new_run = np.ones(len(rng), dtype=bool)
        new_run[1:] = (rng[1:] != rng[:-1]) | pc.not_equal(
            term.slice(1), term.slice(0, len(term) - 1)
        ).to_numpy(zero_copy_only=False)
        pos = np.arange(len(rng))
        pos -= np.maximum.accumulate(np.where(new_run, pos, 0))
        starts = np.flatnonzero(pos % block_size == 0)
        last = int(starts[-1])
        if len(starts) > 1:
            yield encode_blocks(term.slice(0, last), rng[:last],
                                *(a[:last] for a in num[1:]),
                                starts[:-1], adl, compress)
        carry = (term.slice(last), *(a[last:] for a in num))
    if carry is not None:
        yield encode_blocks(*carry, np.zeros(1, dtype=np.int64), adl, compress)


def build_segments(
    spark: SparkSession,
    out_dir: str,
    manifest: dict,
    postings: DataFrame,
    settings: IndexingSettings,
    n_docs: int,
    adl: float,
) -> None:
    """postings must carry (term, doc_id, tf, doc_len); n_docs/adl are
    the committed stats stage's.  One shuffle, one doc_range per task
    (doc ids are dense, so doc_range < n_ranges); the stage commits
    with its grid (range_size, n_ranges) in one manifest save."""
    n_ranges = max(spark.sparkContext.defaultParallelism, 8)
    range_size = max(1, -(-n_docs // n_ranges))  # ceil
    block_size = settings.block_size
    compress = settings.compression

    src = postings.withColumn(
        "doc_range", (F.col("doc_id") / F.lit(range_size)).cast("int")
    )
    seg = (
        src.repartitionById(n_ranges, "doc_range")
        .sortWithinPartitions("term", "doc_id")
        .select("term", "doc_range", "doc_id", "tf", "doc_len")
        .mapInArrow(
            partial(encode_partition, block_size=block_size, adl=adl,
                    compress=compress),
            SEGMENT_SCHEMA,
        )
    )
    ckpt.commit_stage(
        out_dir, manifest, "segments", seg, partition_by=["doc_range"],
        sort_within=["term", "min_doc_id"],
        options={"parquet.block.size": str(ckpt.ROW_GROUP_BYTES)},
        range_size=range_size, n_ranges=n_ranges,
    )


# ---------------------------------------------------------------------------
# MaxScore / block-max scorer (the kernel is index/maxscore.py)
# ---------------------------------------------------------------------------


def search_segments(
    spark: SparkSession,
    index,
    queries: DataFrame,
    k: int = 10,
    metric: str = "BM25",
    conjunctive: bool = False,
) -> DataFrame:
    """Top-k over the compressed segments with MaxScore pruning.

    Per (query_id, doc_range) an applyInPandas scorer fuses each query
    term's blocks in that range and runs the MaxScore kernel the serving
    sidecar runs (index/maxscore.py), with tombstones as a bool mask over
    the range.  Score-safe, so the returned top-k equals the exact
    path's.

    Shuffle profile: segments join broadcast(query terms) → shuffle by
    (query_id, doc_range) [rows = query's blocks, not postings] → ≤ k rows
    per group out → global window top-k over ≤ k·ranges rows.
    """
    import os

    from pulse_spark.query.search import tokenize_queries

    manifest = ckpt.read_committed(index.out_dir, "segments")[0]
    compress = index.settings.compression
    n, adl = index.n_docs, index.adl
    # live-docs tombstones (index/deletes.py), dropped during
    # accumulation by the kernel (maxscore_topk says why)
    from pulse_spark.index.deletes import deleted_id_array

    del_ids = deleted_id_array(index.out_dir)
    if metric.upper() not in ("BM25", "TFIDF"):
        raise ValueError(f"{metric} is not a valid metric")
    use_bm25 = metric.upper() == "BM25"

    qt = tokenize_queries(queries, index)
    qt = qt.join(index.terms.select("term", "df"), "term")
    # per-term occurrence weight (duplicate tokens score multiple times)
    qw = qt.groupBy("query_id", "term", "df").agg(
        F.count(F.lit(1)).cast("int").alias("w")
    )
    # one row per (query_id, distinct term): the query terms to scan,
    # and each query's conjunctive required-term count
    qw_rows = qw.select("query_id", "term").collect()
    if not qw_rows:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double"
        )
    q_terms = sorted({r["term"] for r in qw_rows})
    n_req = Counter(r["query_id"] for r in qw_rows)

    seg = spark.read.parquet(os.path.join(index.out_dir, "segments"))
    seg = seg.where(F.col("term").isin(q_terms))
    joined = seg.join(F.broadcast(qw), "term")

    range_size = int(manifest["stages"]["segments"]["range_size"])

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # Dense range-local accumulation: acc[doc_id - base] += score.
        # Memory: the dense arrays cover the doc ids actually present in
        # this range (≤ range_size entries × 13 B), bounded by
        # construction — at larger corpora n_ranges grows with the corpus
        # so range_size (and the accumulator) stays fixed per task.
        qid = int(pdf["query_id"].iloc[0])
        base = int(pdf["doc_range"].iloc[0]) * range_size
        size = int(pdf["max_doc_id"].max()) - base + 1
        cols = {c: pdf[c].tolist() for c in ("w", "df", *FUSED_COLUMNS)}
        w_df = dict(zip(cols["term"], zip(cols["w"], cols["df"])))
        terms = [(e, w_df[t][0], math.log(n / w_df[t][1]))
                 for t, e in fuse_terms(cols, compress, base).items()]
        cand, scores, _, _ = maxscore_topk(
            terms, k, bm25=use_bm25, adl=adl, conjunctive=conjunctive,
            n_required=n_req.get(qid, 0), base=base,
            buffers=(np.zeros(size), np.zeros(size, dtype=bool),
                     np.zeros(size, dtype=np.int32) if conjunctive else None),
            deleted=tombstone_mask(del_ids, base, size),
        )
        return pd.DataFrame({
            "query_id": np.full(len(cand), qid, dtype=np.int64),
            "doc_id": cand,
            "score": scores,
        })

    local = joined.groupBy("query_id", "doc_range").applyInPandas(
        score_group, "query_id long, doc_id long, score double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w) - 1)
        .where(F.col("rank") < k)
        .select("query_id", "rank", "doc_id", "score")
    )
