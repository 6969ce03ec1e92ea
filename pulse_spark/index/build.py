"""Distributed inverted-index build — the Spark-first replacement for the
reference's SPIMI pipeline (pkg/spimi/spimi.go:33-228).

Where the reference tokenizes on worker goroutines behind a mutex-guarded
in-memory lexicon, spills partial indexes on a memory watchdog, and merges
them sequentially, this builder declares the same computation as a
DataFrame plan and lets Spark's shuffle machinery do the spilling and the
merge:

  transcripts ──mapInPandas tokenize──► exploded terms
      ──groupBy(doc,term).count()──► postings (tf)           [shuffle 1]
      ──groupBy(term).agg(df,max_tf)──► terms                [shuffle 2*]
      ──agg(count,avg)──► stats (N, ADL)

(*) partial/map-side aggregation makes shuffle 2 carry one row per
(task, term) — the salted two-phase pattern the north rule asks for is
exactly Catalyst's partial+final HashAggregate; an explicit salt column is
only needed for order-sensitive merges (segment building), where we avoid
per-term grouping entirely by range-partitioning on (term, doc_id) and
cutting bounded blocks inside each partition (segments.py).

The build is stage-checkpointed: each stage commits a parquet directory
and a manifest entry with per-partition row counts (lineage); re-running
with the same out_dir skips completed stages (see checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.text.udfs import doc_no, make_term_freq_udf, trimmed

# ---------------------------------------------------------------------------
# logical-plan builders (no IO) — shared by the persisted build and the
# in-memory harness queries
# ---------------------------------------------------------------------------


def docs_df(transcripts: DataFrame) -> DataFrame:
    """One row per turn: (doc_no, conv_id, turn_idx, text, doc_len).

    doc_len = bytes of ASCII-trimmed raw text (reference spimi.go:109 via
    ms-marco.go:70); every turn counts toward N/ADL even if it tokenizes
    to nothing (builder.add is unconditional, builder.go:38-47).
    """
    t = trimmed("text")
    return transcripts.select(
        doc_no().alias("doc_no"),
        "conv_id",
        "turn_idx",
        t.alias("text"),
        F.octet_length(t).alias("doc_len"),
    )


def postings_df(
    docs: DataFrame,
    settings: IndexingSettings,
    id_col: str = "doc_no",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(term, <id_col>, tf, doc_len [, extra_cols]): the exploded
    inverted index.  Tokenize + doc-local tf run inside one fused Arrow
    pandas UDF (preprocess.Frequencies, preprocess.go:36-46), so the
    stage is ZERO-shuffle.

    Equivalent of the reference's per-partition Lexicon accumulation +
    global merge (lexicon.go:28-42, spimi.go:123-228).  doc_len (and
    optionally doc_id) are denormalized into the posting row so scoring
    never joins the docs table (the reference likewise reads
    (docno, size) per hit).
    """
    keep = [id_col, "doc_len", *extra_cols]
    tf = make_term_freq_udf(settings.preprocess)
    exploded = docs.select(
        *keep, F.explode(tf(F.col("text"))).alias("p")
    )
    return exploded.select(
        F.col("p.term").alias("term"), *keep, F.col("p.tf").alias("tf")
    )


def terms_df(postings: DataFrame) -> DataFrame:
    """Global term table: (term, df, max_tf) — the merged lexicon
    (df summed, max_tf maxed across partitions; spimi.go:196-197).
    Catalyst's partial+final hash aggregate is the salted two-phase merge."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.max("tf").alias("max_tf"),
    )


def stats_df(docs: DataFrame) -> DataFrame:
    """(n_docs, adl): corpus size + average doc length (stats.go:8-12).
    Exact mean — the reference's incremental/weighted mean converges to
    the same value (collection.go:22, stats.go:19-23)."""
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("adl"),
    )


def assign_doc_ids(
    spark: SparkSession, docs: DataFrame, num_partitions: int
) -> tuple[DataFrame, DataFrame]:
    """Dense, deterministic doc_id = rank of (conv_id, turn_idx).

    Scalable two-phase assignment (no global window, ONE exchange):
    range-partition by the key, sort each partition by it, number rows
    within the partition, then add exclusive partition-offset prefix sums
    (tiny driver-side table, broadcast back).  The within-partition
    number is monotonically_increasing_id() minus its partition prefix
    (spark_partition_id() << 33): a row's position in its sorted range
    partition, so the id is still a pure function of the data.  (A
    window keyed on the partition id would add a second, hash exchange
    into spark.sql.shuffle.partitions that lands the range partitions on
    fewer tasks than there are cores.)
    """
    # JVM-side numbering (a mapInPandas tag was measured 2-3x slower
    # here — it streams every text payload through Arrow+Python just to
    # add two ints)
    pid = F.spark_partition_id()
    parted = (
        docs.repartitionByRange(num_partitions, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .withColumn("_pid", pid)
        .withColumn(
            "_local",
            F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33),
        )
        .persist()
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    from pulse_spark.sources.readers import local_table

    off_df = local_table(
        spark, [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
    )
    out = (
        parted.join(F.broadcast(off_df), "_pid")
        .withColumn("doc_id", F.col("_local") + F.col("_off"))
        .drop("_pid", "_local", "_off")
    )
    return out, parted  # caller unpersists `parted` after materializing out


def with_term_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable hash bucket of the term — the physical partition key of the
    postings/segments layout. Query-side computes the same bucket for its
    terms and gets partition pruning on the scan."""
    return df.withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
