"""Persisted index build + load.

Layout (out_dir):
  manifest.json                 settings + stage lineage (checkpoint.py)
  docs/                         (doc_no, conv_id, turn_idx, doc_len
                                 [, text when settings.store_text]
                                 [, doc_id when assign_ids])
  postings/bucket=B/            (term, <id>, tf, doc_len) where <id> is
                                the 8-byte doc_id when assign_ids=True
                                (slim layout — no doc_no string on the
                                wire) else the doc_no string; sorted by
                                (term, <id>) within files → parquet
                                row-group min/max prune on term.  Written
                                only by write_postings: hash(<id>) into
                                max(shuffle.partitions, salt_partitions)
                                reducers, each writing one file per bucket
  terms/                        (term, df, max_tf)
  stats/                        single row (n_docs, adl)
  segments/doc_range=R/         (M3) block-compressed postings, see
                                segments.py

Equivalent of the reference's data/dump/<i>/ files (SURVEY §1.2) with the
merge (spimi.go:123-228) replaced by shuffles.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.index import build as B
from pulse_spark.index import checkpoint as ckpt


def _fingerprint_metrics():
    """Order-independent input checksum columns: row count + bit-xor of
    a per-row hash over (conv_id, turn_idx, doc_len).  bit_xor (not sum)
    — sum(xxhash64) overflows under ANSI mode; xor is also insensitive
    to row order, which Observation metrics arrive in nondeterministic-
    ally."""
    return (
        F.count(F.lit(1)).alias("fp_rows"),
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "doc_len")).alias("fp_xor"),
    )


def write_postings(
    p: DataFrame, out_dir: str, settings: IndexingSettings, id_col: str
) -> float:
    """Write the postings stage layout from (term, <id_col>, tf, doc_len)
    rows — the one writer of it (batch build, stream compaction, vacuum).
    Records nothing; returns wall seconds.

    The layout shuffle has max(spark.sql.shuffle.partitions,
    salt_partitions) reducers, so its task count follows the session, not
    term_buckets x salts.  Salted (salt_partitions > 1): rows go to
    reducers by a hash of the doc id, so every bucket, and a hot term
    inside it, is split across all reducers; a bare repartition by bucket
    would send a hot term's millions of postings (Zipf text guarantees
    them) to ONE task.  partitionBy("bucket") still groups each reducer's
    rows into one file per bucket dir, so query-side bucket pruning is
    unchanged.  Unsalted: reducers by bucket, each bucket in one task.
    """
    n_reducers = max(
        int(p.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        settings.salt_partitions,
    )
    key = id_col if settings.salt_partitions > 1 else "bucket"
    p = B.with_term_bucket(p, settings.term_buckets).repartition(n_reducers, key)
    return ckpt.write_stage(
        p, out_dir, "postings", partition_by=["bucket"], sort_within=["term", id_col]
    )


def write_stats(
    spark: SparkSession, out_dir: str, manifest: dict, n_docs: int, adl: float
) -> None:
    """Commit the 1-row stats stage DRIVER-side via pyarrow: a Spark job
    for one row is pure scheduling overhead."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = time.time()
    stats_dir = os.path.join(out_dir, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    pq.write_table(
        pa.table({"n_docs": pa.array([n_docs], pa.int64()),
                  "adl": pa.array([adl], pa.float64())}),
        os.path.join(stats_dir, "part-00000.parquet"),
    )
    ckpt.record_stage(spark, out_dir, manifest, "stats", round(time.time() - t0, 3))


@dataclass
class Index:
    out_dir: str
    settings: IndexingSettings
    docs: DataFrame
    postings: DataFrame
    terms: DataFrame
    n_docs: int
    adl: float

    @property
    def has_segments(self) -> bool:
        return os.path.isdir(os.path.join(self.out_dir, "segments"))


def build_persisted_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    settings: IndexingSettings = IndexingSettings(),
    num_doc_partitions: int | None = None,
    build_segments: bool = False,
    assign_ids: bool | None = None,
) -> Index:
    """Stage-checkpointed build; resumable — completed stages are skipped.

    assign_ids: dense deterministic doc_ids (rank of (conv_id, turn_idx)).
    Needed only by the compressed-segments layout (delta-varint wants
    ints); the DataFrame query path keys on doc_no, like the reference's
    doc numbers.  Defaults to build_segments — skipping it removes a
    range-sample pass, a full-corpus shuffle, and a count job from the
    build's critical path.
    """
    if assign_ids is None:
        assign_ids = build_segments
    if build_segments and not assign_ids:
        raise ValueError("segments need dense doc_ids (assign_ids=True)")
    manifest = ckpt.load_manifest(out_dir)
    ckpt.check_settings(manifest, settings)
    ckpt.save_manifest(out_dir, manifest)
    npart = num_doc_partitions or spark.sparkContext.defaultParallelism

    do_docs = not ckpt.stage_done(manifest, "docs")
    do_postings = not ckpt.stage_done(manifest, "postings")
    do_stats = not ckpt.stage_done(manifest, "stats")

    # The in-memory docs plan is the single source of truth for BOTH the
    # docs and postings stages: it is a pure deterministic function of the
    # input (assign_doc_ids pins ids via a materialized range-partition),
    # so a resumed build recomputes the identical rows without reading
    # the committed text back.
    d_full = B.docs_df(transcripts)
    cached = None
    if assign_ids and (do_docs or do_postings):
        d_full, cached = B.assign_doc_ids(spark, d_full, npart)

    # stage: docs.  With store_text=False this is METADATA ONLY — the
    # reference's doc.bin stores (docno, size), not text; at 10^12 turns
    # copying the text corpus into the index doubles the largest IO in
    # the build for nothing (the source table remains the text store).
    obs = None
    if do_docs:
        meta_cols = ["doc_no", "conv_id", "turn_idx", "doc_len"]
        if settings.store_text:
            meta_cols.insert(3, "text")
        if assign_ids:
            meta_cols.append("doc_id")
        d_write = d_full.select(*meta_cols)
        # stats (N, ADL) + the INPUT FINGERPRINT ride the docs WRITE as
        # accumulator metrics — zero extra jobs, zero extra scans
        # (spimi's running mean, stats.go:19-23, as an Observation)
        from pyspark.sql import Observation

        obs = Observation("corpus_stats")
        d_write = d_write.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("doc_len").alias("adl"),
            *_fingerprint_metrics(),
        )
        docs = ckpt.commit_stage(out_dir, manifest, "docs", d_write)
    else:
        docs = ckpt.read_stage(spark, out_dir, "docs")

    stats_vals: tuple[int, float] | None = None
    if obs is not None:
        # read the Observation NOW, while the listener bus holds only the
        # docs stage's events — deferring this past the postings stage
        # makes obs.get block behind thousands of queued task events
        # (measured: 14-25 s stall for a 1-row result)
        m = obs.get
        if do_stats:
            stats_vals = (int(m["n_docs"]), float(m["adl"]))
        # the fingerprint (rows + order-independent key/len checksum) is
        # what a resumed postings build must match: postings recompute
        # their rows from the SOURCE, not the committed docs stage, so a
        # source that changed between run and resume would silently give
        # the committed docs and the resumed postings diverging doc_ids
        manifest["input_fingerprint"] = {
            "rows": int(m["fp_rows"]),
            "xor": int(m["fp_xor"]) if m["fp_xor"] is not None else 0,
        }
        ckpt.save_manifest(out_dir, manifest)

    # stage: postings, hash-bucketed by term, term-sorted within files
    if do_postings:
        # doc_id rides through the tokenizer — no join back to docs, so
        # the only shuffle here is the bucket layout one.  With dense ids
        # the posting row carries ONLY the 8-byte id (doc_no is recovered
        # at output time from the docs table): at 10^12 turns the doc_no
        # string would dominate shuffle/storage bytes.
        id_col = "doc_id" if assign_ids else "doc_no"
        # RESUME GUARD: when the docs stage is committed but postings are
        # not, the postings rows are recomputed from the source — observe
        # the recomputed per-doc plan and refuse to record the stage if
        # its fingerprint doesn't match the committed docs stage's (the
        # source changed, or duplicate (conv_id, turn_idx) keys made the
        # doc_id assignment order ambiguous).  The check rides the
        # postings write: no extra scan.
        fp_obs = None
        expected_fp = manifest.get("input_fingerprint") if not do_docs else None
        d_postings_src = d_full
        if expected_fp is not None:
            from pyspark.sql import Observation

            fp_obs = Observation("resume_fp")
            d_postings_src = d_full.observe(fp_obs, *_fingerprint_metrics())
        p = B.postings_df(d_postings_src, settings, id_col=id_col)
        # write first, verify the fingerprint, THEN record: on mismatch
        # the stage is never marked committed (the partial files are
        # overwritten by the next attempt)
        wall = write_postings(p, out_dir, settings, id_col)
        if fp_obs is not None:
            m = fp_obs.get
            got = {
                "rows": int(m["fp_rows"]),
                "xor": int(m["fp_xor"]) if m["fp_xor"] is not None else 0,
            }
            if got != expected_fp:
                raise ValueError(
                    "resume refused: the input no longer matches the "
                    f"committed docs stage (expected {expected_fp}, "
                    f"recomputed {got}) — the resumed postings' doc_ids "
                    "would silently diverge from the committed docs "
                    "table; rebuild into a fresh out_dir"
                )
        postings = ckpt.record_stage(spark, out_dir, manifest, "postings", wall)
    else:
        postings = ckpt.read_stage(spark, out_dir, "postings")
    if cached is not None:
        cached.unpersist()

    # stage: terms (global lexicon merge: df sum, max_tf max)
    if ckpt.stage_done(manifest, "terms"):
        terms = ckpt.read_stage(spark, out_dir, "terms")
    else:
        terms = ckpt.commit_stage(out_dir, manifest, "terms", B.terms_df(postings))

    # stage: stats (from the docs-write Observation when available —
    # resume runs fall back to a column-pruned scan of committed docs)
    if not do_stats:
        row = ckpt.read_stage(spark, out_dir, "stats").collect()[0]
        n_docs, adl = int(row["n_docs"]), float(row["adl"])
    else:
        if stats_vals is None:
            row = B.stats_df(docs).collect()[0]
            stats_vals = (int(row["n_docs"]), float(row["adl"]))
        n_docs, adl = stats_vals
        write_stats(spark, out_dir, manifest, n_docs, adl)

    if build_segments and not ckpt.stage_done(manifest, "segments"):
        from pulse_spark.index import segments as seg
        seg.build_segments(spark, out_dir, manifest, postings, settings,
                           n_docs, adl)

    return Index(
        out_dir=out_dir,
        settings=settings,
        docs=docs,
        postings=postings,
        terms=terms,
        n_docs=n_docs,
        adl=adl,
    )


def load_index(spark: SparkSession, out_dir: str, cache_terms: bool = True) -> Index:
    """Open an existing index; settings come from the manifest, mirroring
    the reference's stats.bin coupling (engine.go:38-43).

    cache_terms: Spark-cache the terms table — the query path joins it on
    every search (the reference mmaps its lexicon once at load,
    engine.go:45-54; distributed cache is the Spark analog)."""
    manifest = ckpt.load_manifest(out_dir)
    if manifest["settings"] is None:
        raise FileNotFoundError(f"no index manifest at {out_dir}")
    settings = IndexingSettings.from_dict(manifest["settings"])
    docs = ckpt.read_stage(spark, out_dir, "docs")
    postings = ckpt.read_stage(spark, out_dir, "postings")
    terms = ckpt.read_stage(spark, out_dir, "terms")
    if cache_terms:
        terms = terms.cache()
    row = ckpt.read_stage(spark, out_dir, "stats").collect()[0]
    return Index(
        out_dir=out_dir, settings=settings, docs=docs,
        postings=postings, terms=terms,
        n_docs=int(row["n_docs"]), adl=float(row["adl"]),
    )
