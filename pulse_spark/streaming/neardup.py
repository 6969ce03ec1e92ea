"""Streaming near-duplicate detection — MinHash/LSH banding over a
document stream (the dedup-family extension of incremental.py's pattern).

Documents arriving in a directory (stand-in for Kafka/Iceberg CDC) go
through the SAME helpers as the batch datapipe.dedup.minhash_lsh_pairs:
each micro-batch builds one per-doc frame (doc_id, shingle set, n_sh,
band keys), posexplodes it into band rows, joins those on band_key
against themselves (new×new) and the accumulated bucket store (new×old),
and exact-verifies the candidates with size(array_intersect) against
the new docs' shingle sets plus the accumulated shingle store — so the
emitted pairs carry the same exact jaccard as the batch operator.

State layout, under out_dir/state/, one batch_id=N subdir per batch:
  - buckets/   (doc_id, n_sh, band, band_key): one row per band of a
               banded doc (zero-shingle docs have none).
  - shingles/  (doc_id, _shd): one row per doc, its distinct-shingle
               array.

Why foreachBatch + a keyed parquet store rather than
applyInPandasWithState: exact verification needs the shingle SETS of
both pair members, and a per-bucket state cell cannot see other buckets'
shingles — the growing stores ARE the operator state, partitioned and
joinable.  Each batch's work is bounded: one equi-join of the new docs'
band rows against the store (no rescan of old×old), exactly the
incremental cost profile a 10^12-turn stream needs.  At scale the stores
would live in Iceberg with band_key-bucketed layout and periodic
compaction; here they are plain parquet with batch_id subdirs.

Exactly-once: every pair (a, b) is emitted in precisely the batch where
the LATER member arrives; batch outputs overwrite their own batch_id
subdir and the state read excludes the current batch_id, so a replayed
batch neither double-emits nor self-joins its own first attempt.

Correctness oracle: the union of emitted pairs over the whole stream
equals dedup.minhash_lsh_pairs over the whole corpus (tests/
test_streaming.py), assuming unique doc ids across the stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, text string"


def start_streaming_neardup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    min_jaccard: float = 0.2,
    id_col: str = "doc_id",
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = 1,
):
    """Stream parquet doc files from input_dir; append verified near-dup
    pairs to out_dir/pairs/batch_id=N and maintain the bucket/shingle
    state under out_dir/state/."""
    from pulse_spark.datapipe import dedup

    store_bk = os.path.join(out_dir, "state", "buckets")
    store_sh = os.path.join(out_dir, "state", "shingles")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        per_doc = dedup._minhash_frame(batch_df, id_col).persist()
        try:
            bk_new = dedup._band_rows(per_doc, id_col)
            sh_new = per_doc.select(id_col, "_shd")
            bk_all, sh_all = bk_new, sh_new
            if os.path.isdir(store_bk):
                # state read EXCLUDES the current batch_id: a replay of a
                # half-committed batch must not pair new docs against
                # their own previous attempt
                bk_all = bk_new.unionByName(
                    spark.read.parquet(store_bk)
                    .where(F.col("batch_id") < batch_id).drop("batch_id")
                )
                sh_all = sh_new.unionByName(
                    spark.read.parquet(store_sh)
                    .where(F.col("batch_id") < batch_id).drop("batch_id")
                )
            # new×(new ∪ old) on band_key, ordered id_a < id_b with each
            # member's shingle count carried along for the verify
            x = bk_new.select(
                F.col(id_col).alias("_x"), F.col("n_sh").alias("_nx"),
                "band", "band_key",
            )
            y = bk_all.select(
                F.col(id_col).alias("_y"), F.col("n_sh").alias("_ny"),
                "band", "band_key",
            )
            x_first = F.col("_x") < F.col("_y")
            cand = (
                x.join(y, ["band", "band_key"])
                .where(F.col("_x") != F.col("_y"))
                .select(
                    F.least("_x", "_y").alias("id_a"),
                    F.greatest("_x", "_y").alias("id_b"),
                    F.when(x_first, F.col("_nx")).otherwise(F.col("_ny"))
                    .alias("n_a"),
                    F.when(x_first, F.col("_ny")).otherwise(F.col("_nx"))
                    .alias("n_b"),
                )
                .distinct()
            )
            pairs = dedup._verify_jaccard(cand, sh_all, id_col, min_jaccard)
            pairs.write.mode("overwrite").parquet(
                os.path.join(out_dir, "pairs", f"batch_id={batch_id}")
            )
            bk_new.write.mode("overwrite").parquet(
                os.path.join(store_bk, f"batch_id={batch_id}")
            )
            sh_new.write.mode("overwrite").parquet(
                os.path.join(store_sh, f"batch_id={batch_id}")
            )
        finally:
            # released on failure too: a raising write must not leak the
            # batch's cache for the life of the session
            per_doc.unpersist()

    stream = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = stream.parquet(input_dir)
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", os.path.join(out_dir, "_stream_checkpoint")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """All near-dup pairs emitted so far: (id_a, id_b, jaccard)."""
    return spark.read.parquet(os.path.join(out_dir, "pairs")).select(
        "id_a", "id_b", "jaccard"
    )
