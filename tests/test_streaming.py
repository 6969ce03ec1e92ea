"""Structured-Streaming incremental index: micro-batched delta build must
produce rank-identical search results to the one-shot batch build, and the
watermarked windowed agg must match its batch twin."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.fixtures import gen_transcripts
from pulse_spark.query.search import search_topk
from pulse_spark.streaming.incremental import (
    compact_stream_index,
    start_incremental_build,
)

SETTINGS = IndexingSettings(stopwords_removal=True, stemming=True)


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    """Fixture transcripts split across 3 parquet files (3 'arrivals')."""
    d = tmp_path_factory.mktemp("stream")
    src = d / "in"
    src.mkdir()
    rows = gen_transcripts(n_convs=60, seed=7)
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    for i, chunk in enumerate(chunks):
        table = pa.table({
            "conv_id": pa.array([r["conv_id"] for r in chunk], pa.string()),
            "turn_idx": pa.array([r["turn_idx"] for r in chunk], pa.int32()),
            "role": pa.array([r["role"] for r in chunk], pa.string()),
            "text": pa.array([r["text"] for r in chunk], pa.string()),
            "tool": pa.array([r["tool"] for r in chunk], pa.string()),
            "ts": pa.array([r["ts"] for r in chunk], pa.timestamp("us")),
        })
        pq.write_table(table, str(src / f"part-{i}.parquet"))
    return str(src), str(d / "out"), rows


def test_incremental_equals_batch(spark, stream_dirs, tmp_path):
    src, out, rows = stream_dirs
    q = start_incremental_build(spark, src, out, SETTINGS)
    q.awaitTermination(120)

    sidx = compact_stream_index(
        spark, out, str(tmp_path / "c1"), SETTINGS, build_segments=False
    )
    assert sidx.n_docs == len(rows)

    # batch build over the same data
    from pulse_spark.index import build as B

    batch_docs = B.docs_df(spark.read.parquet(src))
    batch_postings = B.postings_df(batch_docs, SETTINGS)
    batch_terms = {r["term"]: (r["df"], r["max_tf"])
                   for r in B.terms_df(batch_postings).collect()}
    stream_terms = {r["term"]: (r["df"], r["max_tf"])
                    for r in sidx.terms.collect()}
    assert stream_terms == batch_terms

    # query three terms that actually occur in this fixture (Zipf tail
    # makes most domain words absent from a 60-conv sample)
    some_terms = [r["term"] for r in sidx.terms.orderBy("term").limit(3).collect()]
    qdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(some_terms)], "query_id long, text string"
    )
    res = search_topk(sidx, qdf, k=5).collect()
    assert len(res) > 0

    # resume idempotence: restarting the finished stream adds nothing
    q2 = start_incremental_build(spark, src, out, SETTINGS)
    q2.awaitTermination(60)
    sidx2 = compact_stream_index(
        spark, out, str(tmp_path / "c2"), SETTINGS, build_segments=False
    )
    assert sidx2.n_docs == sidx.n_docs
    assert sidx2.postings.count() == sidx.postings.count()


def test_streaming_hourly_counts_matches_batch(spark, tmp_path):
    from pulse_spark.datapipe.events import hourly_counts
    from pulse_spark.streaming.incremental import streaming_hourly_counts

    import shutil

    # file streaming sources need a DIRECTORY basePath — stage the file
    stream_dir = tmp_path / "events_in"
    stream_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                str(stream_dir / "events.parquet"))
    events = spark.read.parquet(str(stream_dir))
    exp = {(r["hour"], r["event_type"]): (r["n"], r["sum_value"])
           for r in hourly_counts(events).collect()}

    # stream the same file through the watermarked agg (complete mode)
    sdf = streaming_hourly_counts(spark, str(stream_dir))
    q = (
        sdf.writeStream.format("memory").queryName("hourly_t")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["hour"], r["event_type"]): (r["n"], r["sum_value"])
           for r in spark.sql("select * from hourly_t").collect()}
    assert got == exp


# ---------------------------------------------------------------------------
# custom stateful operator: applyInPandasWithState sessionization
# ---------------------------------------------------------------------------


def _write_events(path, rows):
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array(["click"] * len(rows), pa.string()),
        "value": pa.array([r[3] for r in rows], pa.float64()),
        "props": pa.array([""] * len(rows), pa.string()),
    })
    pq.write_table(table, path)


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """Closed sessions emitted by the applyInPandasWithState operator
    must equal the batch sessionize over the same events, minus each
    user's final (still-open) session."""
    from datetime import datetime, timedelta

    from pulse_spark.datapipe.events import sessionize
    from pulse_spark.streaming.stateful import start_stateful_sessions

    t0 = datetime(2026, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + timedelta(minutes=minutes)

    # user 1: two sessions in batch 1 (gap 45 min); user 2: one session
    batch1 = [
        (1, ts(0), 1, 1.0), (2, ts(5), 1, 2.0),          # u1 s1
        (3, ts(50), 1, 3.0),                             # u1 s2 (gap 45)
        (4, ts(0), 2, 4.0), (5, ts(10), 2, 5.0),         # u2 s1
    ]
    # batch 2: sentinels 2h later close every open session and open a new one
    batch2 = [(6, ts(180), 1, 0.5), (7, ts(180), 2, 0.25)]

    src = tmp_path / "ev_in"
    out = tmp_path / "ev_out"
    src.mkdir()
    _write_events(str(src / "b1.parquet"), batch1)
    q = start_stateful_sessions(spark, str(src), str(out))
    q.awaitTermination(120)
    _write_events(str(src / "b2.parquet"), batch2)
    q = start_stateful_sessions(spark, str(src), str(out))
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(out / "sessions")).collect()
    }
    all_events = spark.createDataFrame(
        [(e, t, u, "click", v, "") for e, t, u, v in batch1 + batch2],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    batch = sessionize(all_events).collect()
    # drop each user's LAST session (still open in the stream's state)
    last_start = {}
    for r in batch:
        if r["session_start"] > last_start.get(r["user_id"], ""):
            last_start[r["user_id"]] = r["session_start"]
    exp = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in batch if r["session_start"] != last_start[r["user_id"]]
    }
    assert got == exp
    assert len(got) == 3  # u1 x2 closed + u2 x1 closed


def test_stateful_sessionizer_out_of_order_across_batches():
    """An event older than the open session's watermark (possible across
    micro-batches) folds into the session without moving `last` backwards
    or leaving `start` after the event (ADVICE round 2)."""
    import pandas as pd

    from pulse_spark.streaming.stateful import make_sessionizer

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    fn = make_sessionizer(gap_min=30)
    state = FakeState()
    base = pd.Timestamp("2026-01-01 12:00:00")

    def batch(rows):
        return pd.DataFrame(
            {"ts": [base + pd.Timedelta(minutes=m) for m, _ in rows],
             "value": [v for _, v in rows],
             "event_id": range(len(rows))}
        )

    # batch 1: events at t+0 and t+10 open a session
    list(fn((7,), iter([batch([(0, 1.0), (10, 1.0)])]), state))
    start1, last1, n1, _ = state.get
    # batch 2: a LATE event at t+5 (before the watermark) arrives
    list(fn((7,), iter([batch([(5, 1.0)])]), state))
    start2, last2, n2, _ = state.get
    assert n2 == 3                      # folded, not a new session
    assert last2 == last1               # watermark never moves backwards
    assert start2 == start1             # session start unchanged (t+0 < t+5)
    # batch 3: event at t+45 (gap 35 min from t+10) closes the session
    out = list(fn((7,), iter([batch([(45, 1.0)])]), state))
    closed = pd.concat(out)
    assert len(closed) == 1
    assert closed.iloc[0]["n_events"] == 3
    assert closed.iloc[0]["session_start"] == "2026-01-01 12:00:00"


# ---------------------------------------------------------------------------
# streaming near-dup: incremental MinHash/LSH banding (neardup.py)
# ---------------------------------------------------------------------------


# an edge corpus for the near-dup parity test, as 3 arrivals of
# (doc_id, text): empty and whitespace-only text, docs under SHINGLE_N
# tokens (NULL band keys), exact duplicates within one arrival and
# across arrivals, non-ASCII text, and later arrivals carrying doc ids
# below earlier ones
_BASE = "the quick brown fox jumps over the lazy dog near the river bank"
_LOREM = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
_SQL = "spark shuffle merge sort join window aggregate filter project scan"
_JA = "Café naïve résumé über straße 日本語 の テキスト 検索 エンジン です"
EDGE_ARRIVALS = [
    [
        (10, _BASE), (11, _BASE + " today"), (12, ""), (13, "hello world"),
        (14, "one"), (15, _BASE), (16, _JA), (17, "   "), (18, _SQL),
        (19, _LOREM),
    ],
    [
        (20, _SQL), (21, _JA.lower() + " 二"), (22, "hello world"),
        (23, ""), (24, _LOREM.replace("eiusmod", "tempor incididunt")),
        (25, "a b"), (26, "Ünïcödé wörds ärë hërë ând thërë ôn ëvërÿ line"),
        (27, "completely unrelated words about gardening tomatoes and soil"),
        (28, _SQL + " limit"), (29, "x y z"),
    ],
    [
        (1, _BASE.replace("river", "creek")), (2, _LOREM), (3, "hello"),
        (4, ""), (5, "Ünïcödé wörds ärë hërë ând thërë ôn ëvërÿ lïne"),
        (6, _JA), (7, "tomatoes and soil about gardening words completely"),
        (30, _SQL), (31, "ab cd"), (32, "the quick brown fox"),
    ],
]


def _write_arrivals(spark, src, corpus):
    """Write the corpus as 3 parquet files (3 'arrivals') into src and
    return the whole corpus as one (doc_id, text) DataFrame."""
    import shutil

    if corpus == "edge":
        for i, rows in enumerate(EDGE_ARRIVALS):
            pq.write_table(pa.table({
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }), str(src / f"part-{i}.parquet"))
        return spark.createDataFrame(
            [r for rows in EDGE_ARRIVALS for r in rows],
            "doc_id long, text string",
        )
    docs = spark.read.parquet(
        f"/root/testdata/{corpus}/documents.parquet"
    ).select("doc_id", "text")
    # three arrivals split by doc_id so near-dup pairs straddle batches
    for i in range(3):
        docs.where(f"doc_id % 3 = {i}").coalesce(1).write.parquet(
            str(src / f"arrival_{i}"), mode="overwrite"
        )
        part = next(
            p for p in (src / f"arrival_{i}").iterdir()
            if p.name.endswith(".parquet")
        )
        shutil.move(str(part), str(src / f"part-{i}.parquet"))
        shutil.rmtree(str(src / f"arrival_{i}"))
    return docs


@pytest.mark.parametrize("corpus", ["sf0.001", "edge"])
def test_streaming_neardup_equals_batch(spark, tmp_path, corpus):
    """The union of near-dup pairs emitted across micro-batches must
    equal the batch minhash_lsh_pairs over the full corpus — same pairs,
    same exact jaccard — and each pair must be emitted exactly once (in
    the batch where its LATER member arrived).  Re-running the finished
    stream adds nothing (exactly-once)."""
    from pulse_spark.datapipe.dedup import minhash_lsh_pairs
    from pulse_spark.streaming.neardup import (
        start_streaming_neardup,
        stream_pairs,
    )

    src = tmp_path / "docs_in"
    out = tmp_path / "nd_out"
    src.mkdir()
    docs = _write_arrivals(spark, src, corpus)
    exp = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert exp  # the corpus does contain near-dups

    q = start_streaming_neardup(spark, str(src), str(out))
    q.awaitTermination(180)

    got_rows = stream_pairs(spark, str(out)).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got_rows}
    assert len(got_rows) == len(got)  # no pair emitted twice
    assert got == exp

    # pairs actually straddle batches (old x new path exercised)
    with_batch = spark.read.parquet(str(out / "pairs"))
    assert with_batch.select("batch_id").distinct().count() > 1

    # exactly-once: restarting the finished stream emits nothing new
    q2 = start_streaming_neardup(spark, str(src), str(out))
    q2.awaitTermination(120)
    assert stream_pairs(spark, str(out)).count() == len(exp)


def test_streaming_neardup_failed_write_releases_cache(spark, tmp_path):
    """A micro-batch whose state write raises fails the query and leaves
    no persisted RDD behind: the batch's cache is released on failure,
    not only after its last write succeeds."""
    from pyspark.errors import StreamingQueryException

    from pulse_spark.streaming.neardup import start_streaming_neardup

    src = tmp_path / "docs_in"
    out = tmp_path / "nd_out"
    src.mkdir()
    _write_arrivals(spark, src, "edge")
    # a regular FILE where the bucket store's directory belongs: the
    # pairs write (which fills the batch's cache) succeeds, then the
    # bucket-state write under it fails
    (out / "state").mkdir(parents=True)
    (out / "state" / "buckets").write_text("not a directory")

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    q = start_streaming_neardup(spark, str(src), str(out))
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
    assert os.path.isdir(out / "pairs" / "batch_id=0")  # cache was filled
    assert jsc.getPersistentRDDs().size() == before


def test_compact_stream_index_serves_and_merges(spark, stream_dirs, tmp_path):
    """Stream -> compact -> (sidecar serve | merge into another index):
    the compacted index must be search-identical to a one-shot batch
    build with segments over the same transcripts."""
    import math

    from pulse_spark.index.persist import build_persisted_index
    from pulse_spark.serve import PointServer
    from pulse_spark.streaming.incremental import compact_stream_index

    src, out, rows = stream_dirs
    q = start_incremental_build(spark, src, out, SETTINGS)
    q.awaitTermination(120)

    compacted = compact_stream_index(
        spark, out, str(tmp_path / "cidx"), SETTINGS, build_segments=True
    )
    batch = build_persisted_index(
        spark, spark.read.parquet(src), str(tmp_path / "bidx"), SETTINGS,
        build_segments=True,
    )
    assert compacted.n_docs == batch.n_docs
    assert math.isclose(compacted.adl, batch.adl, rel_tol=1e-12)

    sc_, sb_ = PointServer(compacted.out_dir), PointServer(batch.out_dir)
    some_terms = [r["term"]
                  for r in compacted.terms.orderBy(F.desc("df")).limit(5).collect()]
    query = " ".join(some_terms[:3])
    rc = [(r.doc_no, round(r.score, 9)) for r in sc_.search(query, k=10)]
    rb = [(r.doc_no, round(r.score, 9)) for r in sb_.search(query, k=10)]
    assert rc == rb and rc  # identical ids (same dense assignment) + nonempty

    # compacted index participates in merge_indexes like any other —
    # including the delete -> compact-output -> merge chain: a doc
    # tombstoned on the compacted index must stay gone after the merge
    from pulse_spark.index.deletes import delete_docs
    from pulse_spark.index.merge import merge_indexes

    victim = rc[0][0]
    assert delete_docs(spark, compacted.out_dir, [victim]) == 1
    tr2 = spark.read.parquet(src).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))
    )
    other = build_persisted_index(spark, tr2, str(tmp_path / "oidx"),
                                  SETTINGS, build_segments=True)
    merged = merge_indexes(spark, compacted.out_dir, other.out_dir,
                           str(tmp_path / "midx"))
    assert merged.n_docs == 2 * batch.n_docs
    rm = [(r.doc_no, round(r.score, 9))
          for r in PointServer(merged.out_dir).search(query, k=10)]
    # doubled corpus: same text now exists under both conv prefixes; the
    # merged server must still return docs scored under the merged stats
    assert rm and all(s > 0 for _, s in rm)
    assert victim not in {d for d, _ in rm}


def test_compact_settings_come_from_stream_record(spark, stream_dirs, tmp_path):
    """compact must refuse settings that contradict the stream's record,
    and the CLI compacts with no preprocessing flags at all."""
    import json as _json

    from pulse_spark import cli
    from pulse_spark.streaming.incremental import compact_stream_index

    src, out, _rows = stream_dirs  # stream already ran in earlier test
    other = IndexingSettings(stopwords_removal=True, stemming=False)
    with pytest.raises(ValueError, match="differ from the stream"):
        compact_stream_index(spark, out, str(tmp_path / "x"), other)

    rc = cli.main(["compact", "--stream-dir", out,
                   "--output", str(tmp_path / "cliidx"), "--no-segments"])
    assert rc == 0
    import os as _os
    assert _os.path.isdir(str(tmp_path / "cliidx" / "postings"))


def test_stream_restart_refuses_changed_settings(spark, stream_dirs, tmp_path):
    src, out, _rows = stream_dirs
    changed = IndexingSettings(stopwords_removal=False, stemming=True)
    with pytest.raises(ValueError, match="mix incompatibly"):
        start_incremental_build(spark, src, out, changed)
