"""Document deletion: tombstones + vacuum — the index-lifecycle piece
the reference lacks (its index is immutable once built; a production
corpus needs takedowns and re-ingests without a 10^12-turn rebuild).

Semantics are Lucene's live-docs model, stated explicitly:

  tombstone (delete_docs)  deleted docs stop appearing in ANY result
      (DataFrame path, segments scorer, sidecar), but corpus statistics
      — N, ADL, df — are NOT recomputed: surviving docs keep their exact
      scores.  This is what makes deletion O(deleted), not O(corpus),
      and it is also what Lucene does between merges.
  vacuum (vacuum_index)    physically rewrites the index without the
      deleted docs into a NEW directory (immutable index dirs, like
      merge/compact; vacuuming an index into its own directory is
      refused): dense doc_ids reassigned by the same deterministic
      rank, terms/stats recomputed, segments rebuilt — scores now
      reflect the reduced corpus, and the result is indistinguishable
      from a fresh build over the surviving corpus.  Still zero
      re-tokenization: postings rows are filtered and re-keyed, never
      re-derived from text.

Tombstones are an append-only parquet dir (out_dir/deletes/): each
delete_docs call writes (doc_no, doc_id) rows into its OWN uuid-named
subdirectory — no read-modify-write, and no two writers ever share an
output path (concurrent `mode("append")` jobs into one directory share
the FileOutputCommitter's `_temporary` staging dir and can clobber each
other's commits; per-call subdirs make concurrent deleters safe by
construction).  Duplicates across calls are harmless (every consumer
treats the set as membership).  Readers list the tree recursively, so
pre-subdir flat layouts keep working.  Tombstones are keyed on one
run's doc_ids, so every rewrite of an index dir (merge, vacuum, stream
compaction) clears deletes/ in checkpoint.begin_rewrite; merge then
carries its inputs' tombstones forward, shifted into the merged ids.

Scale note: query paths consume tombstones as an anti-join (DataFrame
path — arbitrarily large delete sets) or as an in-memory sorted id array
(segments scorer + sidecar — the live-docs-bitmap envelope: 10^8 deleted
ids ≈ 800 MB; beyond that, vacuum).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulse_spark.index import checkpoint as ckpt


def _deletes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "deletes")


def delete_docs(spark: SparkSession, out_dir: str, doc_nos) -> int:
    """Tombstone documents by doc_no (list[str] or a 1-column DataFrame).
    Returns how many ids resolved against the docs table (unknown
    doc_nos are ignored).  Appends; never rewrites prior tombstones."""
    if not isinstance(doc_nos, DataFrame):
        doc_nos = spark.createDataFrame(
            [(str(d),) for d in doc_nos], "doc_no string"
        )
    docs = ckpt.read_stage(spark, out_dir, "docs")
    resolved = docs.select("doc_no", "doc_id").join(
        F.broadcast(doc_nos.select("doc_no").distinct()), "doc_no"
    )
    n = resolved.count()
    if n:
        import uuid

        resolved.write.mode("overwrite").parquet(
            os.path.join(_deletes_dir(out_dir), uuid.uuid4().hex)
        )
    return n


def load_deletes(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """(doc_no, doc_id) tombstones, or None if nothing was ever deleted."""
    d = _deletes_dir(out_dir)
    if not os.path.isdir(d):
        return None
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(d)
        .select("doc_no", "doc_id")
    )


def deleted_id_array(out_dir: str) -> np.ndarray | None:
    """Sorted unique deleted doc_ids as int64 (driver/sidecar-side, via
    pyarrow — no Spark).  None if no tombstones."""
    d = _deletes_dir(out_dir)
    if not os.path.isdir(d):
        return None
    import pyarrow.parquet as pq

    try:
        t = pq.read_table(d, columns=["doc_id"])
    except FileNotFoundError:
        return None
    return np.unique(t["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64))


def vacuum_index(spark: SparkSession, in_dir: str, out_dir: str,
                 num_doc_partitions: int | None = None):
    """Physically drop tombstoned docs: write a NEW committed index over
    the survivors (see module docstring for semantics).  Returns the new
    Index."""
    from pulse_spark.config import IndexingSettings
    from pulse_spark.index import build as B
    from pulse_spark.index.persist import (commit_docs, finish_index,
                                           write_postings)

    src_manifest = ckpt.read_committed(in_dir)[0]
    settings = IndexingSettings.from_dict(src_manifest["settings"])
    manifest = ckpt.begin_rewrite(out_dir, settings,
                                  vacuumed_from=os.path.abspath(in_dir))

    dels = load_deletes(spark, in_dir)
    docs = ckpt.read_stage(spark, in_dir, "docs")
    if dels is not None:
        docs = docs.join(dels.select("doc_no"), "doc_no", "left_anti")

    # dense re-rank over the survivors: same deterministic key as the
    # builder (rank of (conv_id, turn_idx)), so a vacuumed index is
    # bit-compatible with a fresh build over the surviving corpus.
    # assign_doc_ids is the builder's range-partitioned two-phase
    # numbering (no global window — the 10^12-doc-safe path); the id_map
    # rows carry only ids + the 2-column key, never text.
    npart = num_doc_partitions or spark.sparkContext.defaultParallelism
    mapped, parted = B.assign_doc_ids(
        spark,
        docs.select(F.col("doc_id").alias("_old_id"), "conv_id", "turn_idx"),
        npart,
    )
    id_map = mapped.select("_old_id", "doc_id")

    def _reid(df):
        return (
            df.withColumnRenamed("doc_id", "_old_id")
            .join(id_map, "_old_id")
            .drop("_old_id")
        )

    docs, stats = commit_docs(out_dir, manifest, settings, _reid(docs))

    postings = ckpt.read_stage(spark, in_dir, "postings")
    if dels is not None:
        postings = postings.join(
            dels.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    wall = write_postings(_reid(postings), out_dir)
    ckpt.record_stage(out_dir, manifest, "postings", wall)
    postings = ckpt.read_stage(spark, out_dir, "postings")
    parted.unpersist()
    return finish_index(spark, out_dir, manifest, settings, docs, postings,
                        stats=stats,
                        segments="segments" in src_manifest["stages"])
