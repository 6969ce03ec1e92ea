"""Timestamped-event operators — the batch twins of the streaming
pipeline (pulse_spark.streaming runs the same aggregations incrementally
with watermarks; these DataFrame forms are what each micro-batch
computes, and are DuckDB-oracle-checkable)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_MIN = 30


def hourly_counts(events: DataFrame) -> DataFrame:
    """(hour, event_type, n, sum_value): tumbling 1-hour aggregation —
    the batch form of a windowed streaming agg."""
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def sessionize(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """(user_id, session_start, n_events, sum_value): gap-based sessions
    (new session when >gap_min since the user's previous event) — the
    batch twin of a session-window streaming agg.

    Scale note: the lag/cumsum window shuffles once on user_id and sorts
    within user — the same distribution a streaming groupByKey state
    operator would use; skewed users are bounded by session count, not
    event count, after the cumsum."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond epochs: DuckDB's epoch(ts) keeps the sub-second part,
    # and unix_timestamp would drop it (a 30 min + 0.5 s gap must split).
    # NTZ timestamps are interpreted as UTC (session tz), matching
    # DuckDB's epoch() on naive timestamps
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = events.withColumn(
        "_new",
        (epoch - F.lag(epoch, 1).over(w) > gap_min * 60 * 1_000_000).cast("int"),
    ).withColumn("_new", F.coalesce(F.col("_new"), F.lit(1)))
    sess = flagged.withColumn(
        "_sess", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "_sess")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("user_id").cast("long"), "session_start", "n_events", "sum_value"
        )
    )
