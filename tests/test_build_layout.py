"""Build-shape guards for the index build: how its work is laid out in
tasks and files, which correctness tests can't see — the doc-id stage's
single exchange, the postings stage written without a shuffle, one
segments task per doc range, term-sorted postings files and one
segments grid on every write path, and the vectorized segment
encoder's byte identity with the per-block encoder."""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.index import build as B
from pulse_spark.index.checkpoint import POSTINGS_COLUMNS
from pulse_spark.index.segments import _encode_block, encode_partition


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_assign_doc_ids_one_exchange_balanced(spark):
    """One range exchange and no second one: every one of the
    num_partitions range partitions carries rows into the stages that
    follow (the tokenizer runs on them), and ids stay the dense rank of
    (conv_id, turn_idx)."""
    df = spark.range(200).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
    )
    mapped, parted = B.assign_doc_ids(spark, df, 4)
    try:
        plan = _plan(parted)
        final = plan.split("== Initial Plan ==")[0]
        assert len(re.findall(r"(?<![A-Za-z])Exchange ", final)) == 1, plan
        assert "rangepartitioning" in final, plan
        sizes = mapped.rdd.glom().map(len).collect()
        assert len(sizes) == 4 and all(sizes), sizes
        rows = mapped.orderBy("doc_id").collect()
        assert [r["doc_id"] for r in rows] == list(range(200))
        keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
        assert keys == sorted(keys)
    finally:
        parted.unpersist()


def _small_transcripts(spark, n):
    return spark.range(n, numPartitions=4).select(
        F.col("id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.concat_ws(" ", F.lit("alpha"),
                    F.concat(F.lit("w"), (F.col("id") % 97).cast("string")))
        .alias("text"),
    )


@pytest.mark.parametrize("shuffle_partitions", [8, 16])
def test_postings_shuffle_sized_to_session(spark, tmp_path,
                                          shuffle_partitions):
    """No stage of a build runs more than spark.sql.shuffle.partitions
    tasks, at whatever width the session sets; the postings layout once
    ran term buckets x salts tasks (256 at the defaults).  Each task of
    the postings write (one per doc-id range partition) writes exactly
    one file."""
    from pulse_spark.index.persist import build_persisted_index

    tr = _small_transcripts(spark, 2000)
    sc = spark.sparkContext
    group = f"postings-shape-{shuffle_partitions}"
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(shuffle_partitions))
    sc.setJobGroup(group, "postings layout task bound")
    try:
        build_persisted_index(
            spark, tr, str(tmp_path / "idx"),
            IndexingSettings(store_text=False),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prev)
    st = sc.statusTracker()
    tasks = [
        st.getStageInfo(s).numTasks
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    ]
    bound = shuffle_partitions
    assert tasks and max(tasks) <= bound, (bound, tasks)
    files = glob.glob(str(tmp_path / "idx" / "postings" / "*.parquet"))
    assert sorted(map(_task_no, files)) == list(range(sc.defaultParallelism))


def _task_no(path: str) -> int:
    """The write task's partition number in a part-NNNNN-... file name."""
    return int(re.match(r"part-(\d+)-", os.path.basename(path)).group(1))


def test_build_writes_each_partition_without_layout_shuffle(spark, tmp_path):
    """The batch build writes postings from assign_doc_ids' range
    partitions, with no shuffle in between: the files' [min doc_id, max
    doc_id] intervals are disjoint (a shuffle by doc_id hash interleaves
    them), and each file is sorted by (term, doc_id).  The
    segments encode runs one doc_range per task: the doc_range dirs'
    files carry n_ranges distinct task numbers, one per range."""
    import json

    from pulse_spark.index.persist import build_persisted_index

    out = str(tmp_path / "idx")
    build_persisted_index(spark, _small_transcripts(spark, 2000), out,
                          IndexingSettings(store_text=False),
                          build_segments=True)
    files = glob.glob(os.path.join(out, "postings", "*.parquet"))
    assert _assert_sorted(files, ["term", "doc_id"]) >= 2
    spans = sorted(
        (min(ids), max(ids))
        for ids in (pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
                    for f in files)
    )
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), spans

    with open(os.path.join(out, "manifest.json")) as f:
        n_ranges = json.load(f)["stages"]["segments"]["n_ranges"]
    tasks = {
        os.path.basename(d): {_task_no(f) for f in
                              glob.glob(os.path.join(d, "*.parquet"))}
        for d in glob.glob(os.path.join(out, "segments", "doc_range=*"))
    }
    assert len(tasks) == n_ranges, tasks
    assert all(len(t) == 1 for t in tasks.values()), tasks
    assert len(set().union(*tasks.values())) == n_ranges, tasks


def _assert_sorted(files: list[str], cols: list[str]) -> int:
    for f in files:
        t = pq.read_table(f, columns=cols)
        keys = list(zip(*(t[c].to_pylist() for c in cols)))
        assert keys == sorted(keys), f
    return len(files)


def test_postings_files_term_sorted_on_every_write_path(spark, tmp_path):
    """Batch build, stream compaction, vacuum and merge write one
    postings file per write task with exactly POSTINGS_COLUMNS, sorted
    by (term, doc_id) — the order row-group min/max pruning on term
    relies on — and segments files sorted by (term, min_doc_id); a
    merge lays its segments on the grid a batch build of its corpus
    gets."""
    import json

    from pulse_spark.fixtures import gen_transcripts
    from pulse_spark.index.deletes import delete_docs, vacuum_index
    from pulse_spark.index.merge import merge_indexes
    from pulse_spark.index.persist import build_persisted_index
    from pulse_spark.streaming.incremental import (compact_stream_index,
                                                   start_incremental_build)

    settings = IndexingSettings(block_size=16)
    rows = gen_transcripts(n_convs=40, seed=11)
    src = tmp_path / "in"
    src.mkdir()
    types = {"conv_id": pa.string(), "turn_idx": pa.int32(),
             "role": pa.string(), "text": pa.string(), "tool": pa.string(),
             "ts": pa.timestamp("us")}
    pq.write_table(
        pa.table({c: pa.array([r[c] for r in rows], t)
                  for c, t in types.items()}),
        str(src / "part-0.parquet"),
    )
    batch = build_persisted_index(spark, spark.read.parquet(str(src)),
                                  str(tmp_path / "batch"), settings,
                                  build_segments=True)
    halves = [
        build_persisted_index(
            spark, spark.read.parquet(str(src)).where(
                F.pmod(F.xxhash64("conv_id"), F.lit(2)) == i),
            str(tmp_path / f"half{i}"), settings, build_segments=True)
        for i in range(2)
    ]
    merged = merge_indexes(spark, halves[0].out_dir, halves[1].out_dir,
                           str(tmp_path / "merged"))
    stream_out = str(tmp_path / "stream")
    start_incremental_build(spark, str(src), stream_out,
                            settings).awaitTermination(120)
    compacted = compact_stream_index(spark, stream_out,
                                     str(tmp_path / "compact"), settings)
    victims = [r["doc_no"] for r in batch.docs.limit(5).collect()]
    assert delete_docs(spark, batch.out_dir, victims) == 5
    vacuumed = vacuum_index(spark, batch.out_dir, str(tmp_path / "vac"))

    for idx in (batch, compacted, vacuumed, merged):
        files = glob.glob(os.path.join(idx.out_dir, "postings", "*.parquet"))
        assert _assert_sorted(files, ["term", "doc_id"]) >= 2
        assert all(pq.read_schema(f).names == list(POSTINGS_COLUMNS)
                   for f in files), files
        assert len(set(map(_task_no, files))) == len(files), files
        assert _assert_sorted(
            glob.glob(os.path.join(idx.out_dir, "segments", "*", "*.parquet")),
            ["term", "min_doc_id"])

    def range_size(idx):
        with open(os.path.join(idx.out_dir, "manifest.json")) as f:
            return json.load(f)["stages"]["segments"]["range_size"]

    assert range_size(merged) == range_size(batch)


# ---------------------------------------------------------------------------
# vectorized segment encoder == per-block encoder, byte for byte
# ---------------------------------------------------------------------------


def _reference_blocks(rows, block_size, adl, compress):
    """The per-posting loop the vectorized encoder replaced: cut a block
    at a (term, doc_range) change or after block_size postings."""
    out, key, buf = [], None, []
    for term, rng, did, tf, dl in rows:
        if (term, rng) != key or len(buf) >= block_size:
            if buf:
                out.append(_encode_block(*key, *map(list, zip(*buf)),
                                         adl, compress))
            key, buf = (term, rng), []
        buf.append((did, tf, dl))
    if buf:
        out.append(_encode_block(*key, *map(list, zip(*buf)), adl, compress))
    return out


def _batch(rows) -> pa.RecordBatch:
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays([
        pa.array(cols[0], pa.string()), pa.array(cols[1], pa.int32()),
        pa.array(cols[2], pa.int64()), pa.array(cols[3], pa.int32()),
        pa.array(cols[4], pa.int32()),
    ], names=["term", "doc_range", "doc_id", "tf", "doc_len"])


@pytest.mark.parametrize("compress", [True, False])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_vectorized_encoder_matches_per_block(compress, seed):
    block_size, range_size, adl = 16, 700, 187.25
    rs = np.random.default_rng(seed)
    rows = []
    # run lengths include exactly block_size and multiples of it; doc ids
    # span several doc_ranges, so one partition holds several ranges
    for t in range(30):
        n = int(rs.choice([1, 3, 15, 16, 17, 32, 48, 100, 400]))
        ids = np.sort(rs.choice(4000, size=n, replace=False))
        big = rs.random() < 0.1  # multi-byte varints and long unary runs
        for d in ids:
            rows.append((
                f"t{t:02d}", int(d) // range_size,
                int(d) * (1 << 40 if big else 1),
                int(rs.integers(1, 300 if big else 6)),
                int(rs.integers(1, 5000)),
            ))
    rows.sort(key=lambda r: (r[0], r[2]))
    cuts = np.sort(rs.choice(np.arange(1, len(rows)), size=25, replace=False))
    bounds = [0, *cuts.tolist(), len(rows)]
    batches = [_batch(rows[a:b]) for a, b in zip(bounds, bounds[1:])]
    batches.insert(2, batches[0].slice(0, 0))  # an empty batch mid-stream
    straddles = sum(
        rows[c - 1][:2] == rows[c][:2] for c in cuts.tolist()
    )
    assert straddles  # some (term, doc_range) runs cross a batch boundary

    got = [
        r for rb in encode_partition(iter(batches), block_size, adl, compress)
        for r in rb.to_pylist()
    ]
    want = _reference_blocks(rows, block_size, adl, compress)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w
    assert any(w["n"] == block_size for w in want)
    assert len({w["doc_range"] for w in want}) > 1
