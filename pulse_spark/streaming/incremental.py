"""Structured-Streaming incremental index maintenance.

The reference is batch-only (SURVEY §2.6); this module extends the engine
the Spark-native way: transcripts arriving in a directory (stand-in for
Kafka/Iceberg CDC) are tokenized per micro-batch and appended as posting
DELTAS; compact_stream_index turns the deltas into a committed index
(on a schedule — the classic "segment + merge" search-engine pattern,
which is also exactly SPIMI's dump-then-merge
(pkg/spimi/spimi.go:44-90,123-228) reborn as streaming micro-batches).

Each micro-batch writes an idempotent parquet append keyed by batch_id
(exactly-once via the streaming checkpoint + overwrite-by-batch dir), so
a crashed stream resumes without double-counting — the streaming twin of
the batch builder's stage checkpoints.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.index import build as B

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def start_incremental_build(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    settings: IndexingSettings = IndexingSettings(),
    trigger_available_now: bool = True,
):
    """Start the stream: parquet files appearing in input_dir are indexed
    into out_dir/{docs_delta,postings_delta}/batch_id=N."""

    # persist the stream's preprocessing settings next to the deltas:
    # they BIND the delta semantics (postings are already tokenized), so
    # compaction must reuse them — never trust a caller to re-specify
    import json

    os.makedirs(out_dir, exist_ok=True)
    spath = os.path.join(out_dir, "stream_settings.json")
    if os.path.exists(spath):
        with open(spath) as f:
            prior = json.load(f)
        if prior != settings.to_dict():
            raise ValueError(
                f"stream at {out_dir} was started with {prior}; restarting "
                f"with {settings.to_dict()} would mix incompatibly "
                "tokenized deltas"
            )
    else:
        with open(spath, "w") as f:
            json.dump(settings.to_dict(), f)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = B.docs_df(batch_df)
        # overwrite the batch's own subdir -> idempotent on replay
        docs.write.mode("overwrite").parquet(
            os.path.join(out_dir, "docs_delta", f"batch_id={batch_id}")
        )
        postings = B.postings_df(docs, settings)
        postings.write.mode("overwrite").parquet(
            os.path.join(out_dir, "postings_delta", f"batch_id={batch_id}")
        )

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_hourly_counts(spark: SparkSession, input_dir: str, watermark: str = "2 hours"):
    """Watermarked tumbling-window aggregation over an event stream —
    the streaming form of datapipe.events.hourly_counts."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).parquet(input_dir)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type", "n", F.round("sum_value", 6).alias("sum_value"),
        )
    )


def compact_stream_index(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str,
    settings: IndexingSettings | None = None,
    build_segments: bool = True,
    num_doc_partitions: int | None = None,
):
    """Compact accumulated micro-batch deltas into a COMMITTED index —
    the terminal "merge" of the streaming SPIMI analogy, closing the
    loop: stream all day into deltas, compact once into the same
    doc_id-keyed, (term, doc_id)-sorted layout a batch build
    commits (+ compressed block segments unless build_segments=False),
    then query it with search_topk, serve it via serve.PointServer or
    absorb it into the main corpus index with index.merge.merge_indexes
    — all without ever re-tokenizing a turn (the deltas already hold
    posting rows; the only per-token work happened in the
    micro-batches).

    Shuffle profile: doc_id assignment (range partition on the stable
    key), one doc_no->doc_id equi-join of the posting deltas (no
    broadcast assumption — AQE picks the strategy), whose partitions
    write one postings file each with no shuffle of their own, and (with
    segments) the segments range shuffle.
    Token-linear Python: none.
    """
    import json

    from pulse_spark.index import checkpoint as ckpt
    from pulse_spark.index.persist import (commit_docs, finish_index,
                                           write_postings)

    # the stream's persisted settings are authoritative (they bound the
    # tokenization of the deltas); an explicit settings arg must agree
    spath = os.path.join(stream_dir, "stream_settings.json")
    if os.path.exists(spath):
        with open(spath) as f:
            stream_settings = IndexingSettings.from_dict(json.load(f))
        if settings is not None and settings != stream_settings:
            raise ValueError(
                f"compact settings {settings.to_dict()} differ from the "
                f"stream's recorded {stream_settings.to_dict()}"
            )
        settings = stream_settings
    elif settings is None:
        raise ValueError(
            f"no stream_settings.json at {stream_dir} and no settings "
            "given — cannot infer the deltas' tokenization"
        )

    docs_delta = spark.read.parquet(os.path.join(stream_dir, "docs_delta"))
    postings_delta = spark.read.parquet(
        os.path.join(stream_dir, "postings_delta")
    )
    npart = num_doc_partitions or spark.sparkContext.defaultParallelism
    manifest = ckpt.begin_rewrite(out_dir, settings)

    d, cached = B.assign_doc_ids(spark, docs_delta, npart)
    docs, stats = commit_docs(out_dir, manifest, settings, d)

    # deltas key postings by doc_no; map to the dense ids via ONE
    # equi-join against the committed docs stage (never re-tokenize)
    p = postings_delta.join(docs.select("doc_no", "doc_id"), "doc_no")
    ckpt.record_stage(out_dir, manifest, "postings",
                      write_postings(p, out_dir))
    postings = ckpt.read_stage(spark, out_dir, "postings")
    cached.unpersist()
    return finish_index(spark, out_dir, manifest, settings, docs, postings,
                        stats=stats, segments=build_segments)
