"""Persisted index build + load.

Layout (out_dir):
  manifest.json                 settings + stage lineage (checkpoint.py)
  docs/                         docs_columns(settings): (doc_no,
                                conv_id, turn_idx [, text when
                                settings.store_text], doc_len, doc_id)
  postings/                     (term, doc_id, tf, doc_len):
                                keyed on the dense 8-byte doc_id, never
                                the doc_no string (doc_no is joined back
                                over the k·q winners, document.go:47-61);
                                one file per input partition of
                                write_postings (build, stream compaction,
                                vacuum and merge alike), sorted by
                                (term, doc_id) → row-group min/max prune
                                on term (an older index's term bucket,
                                a column or bucket=B/ dirs, is not read)
  terms/                        (term, df, max_tf)
  stats/                        single row (n_docs, adl); doc_ids are
                                dense, so n_docs also sizes every
                                doc_id-indexed array
  segments/doc_range=R/         (M3) block-compressed postings, see
                                segments.py
  deletes/<uuid>/               (doc_no, doc_id) tombstones, see
                                deletes.py; not a manifest stage, and
                                every rewrite (merge, vacuum, stream
                                compaction) clears it in
                                checkpoint.begin_rewrite

Each stage has one writer, whichever of build, stream compaction,
vacuum and merge writes the index: docs go through commit_docs,
postings through write_postings, and terms, stats and segments through
finish_index, which every index writer ends in.  Readers of a finished
index take its manifest and stats from checkpoint.read_committed.

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


def write_postings(p: DataFrame, out_dir: str) -> float:
    """Write the postings stage (ckpt.POSTINGS_COLUMNS) — the one writer
    of it (batch build, stream compaction, vacuum, merge).
    Records nothing; returns wall seconds.

    No shuffle: each input partition writes one file, as each pulse
    SPIMI worker writes out its own block (spimi.go:33-228).  In the
    batch build these are assign_doc_ids' balanced doc-id range
    partitions, so a hot term is split across all of them; in the
    rewrites they are the feeding scan's or join's, so the file count
    follows the input size.  Rows sort by (term, doc_id) in
    ROW_GROUP_BYTES row groups, as the segments stage's do: a query's
    term literals prune row groups, as pulse seeks its sorted lexicon
    (search.go:89-117).
    """
    return ckpt.write_stage(
        p.select(*ckpt.POSTINGS_COLUMNS), out_dir, "postings",
        sort_within=["term", "doc_id"],
        options={"parquet.block.size": str(ckpt.ROW_GROUP_BYTES)},
    )


def write_stats(out_dir: str, manifest: dict, n_docs: int, adl: float) -> None:
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
    ckpt.record_stage(out_dir, manifest, "stats", round(time.time() - t0, 3))


def docs_columns(settings: IndexingSettings) -> list[str]:
    """The committed docs stage's columns, in order.  With
    store_text=False the stage is metadata only: the reference's doc.bin
    stores (docno, size), not text, and the source table stays the text
    store."""
    text = ["text"] if settings.store_text else []
    return ["doc_no", "conv_id", "turn_idx", *text, "doc_len", "doc_id"]


def commit_docs(
    out_dir: str, manifest: dict, settings: IndexingSettings, docs: DataFrame
) -> tuple[DataFrame, tuple[int, float]]:
    """Commit the docs stage (docs_columns of `docs`) and return it with
    its (n_docs, adl): the one docs writer of build, stream compaction,
    vacuum and merge.  The stats and the input fingerprint ride the
    write as Observation metrics, no extra job (spimi's running mean,
    stats.go:19-23).  They are read right after the write: deferred past
    the postings stage, obs.get blocks behind thousands of queued task
    events (measured: 14-25 s for a 1-row result).  An empty input is
    refused before the stage is recorded."""
    from pyspark.sql import Observation

    obs = Observation("corpus_stats")
    d = docs.select(*docs_columns(settings)).observe(
        obs, F.avg("doc_len").alias("adl"), *_fingerprint_metrics()
    )
    wall = ckpt.write_stage(d, out_dir, "docs")
    m = obs.get
    n_docs = int(m["fp_rows"])
    if not n_docs:
        raise ValueError(
            f"refusing to index an empty input (no documents for {out_dir})"
        )
    manifest["input_fingerprint"] = {"rows": n_docs, "xor": int(m["fp_xor"])}
    ckpt.record_stage(out_dir, manifest, "docs", wall)
    docs = ckpt.read_stage(docs.sparkSession, out_dir, "docs")
    return docs, (n_docs, float(m["adl"]))


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
        """Whether the committed manifest lists a segments stage."""
        return "segments" in ckpt.read_committed(self.out_dir)[0]["stages"]


def finish_index(
    spark: SparkSession,
    out_dir: str,
    manifest: dict,
    settings: IndexingSettings,
    docs: DataFrame,
    postings: DataFrame,
    terms: DataFrame | None = None,
    stats: tuple[int, float] | None = None,
    segments: bool = False,
) -> Index:
    """Commit the stages after postings and return the Index: the tail
    every index writer (build, stream compaction, vacuum, merge) ends in.
    A stage the manifest already records is read back, not rewritten
    (build resume).

    terms: the lexicon plan (default: terms_df of the committed
    postings).  stats: (n_docs, adl) from commit_docs (default, on a
    resume whose docs stage an earlier run committed: one aggregate
    over docs).  segments: build the block segments over the committed
    postings at the committed stats."""
    if not ckpt.stage_done(manifest, "terms"):
        if terms is None:
            terms = B.terms_df(postings)
        ckpt.commit_stage(out_dir, manifest, "terms", terms)
    terms = ckpt.read_stage(spark, out_dir, "terms")
    if ckpt.stage_done(manifest, "stats"):
        stats = ckpt.read_committed(out_dir)[1:]
    else:
        if stats is None:
            row = B.stats_df(docs).first()
            stats = int(row["n_docs"]), float(row["adl"])
        write_stats(out_dir, manifest, *stats)
    n_docs, adl = stats
    if segments and not ckpt.stage_done(manifest, "segments"):
        from pulse_spark.index import segments as seg

        seg.build_segments(spark, out_dir, manifest, postings, settings,
                           n_docs, adl)
    return Index(out_dir=out_dir, settings=settings, docs=docs,
                 postings=postings, terms=terms, n_docs=n_docs, adl=adl)


def build_persisted_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    settings: IndexingSettings = IndexingSettings(),
    num_doc_partitions: int | None = None,
    build_segments: bool = False,
) -> Index:
    """Stage-checkpointed build; resumable — completed stages are skipped.

    Every doc gets a dense deterministic doc_id (rank of (conv_id,
    turn_idx)), the one key of the postings stage and of the segments'
    delta-varint id lists — the reference's docID array
    (inverseindex.Document: O(1) lookup by id).
    """
    manifest = ckpt.load_manifest(out_dir)
    ckpt.check_settings(manifest, settings)
    ckpt.save_manifest(out_dir, manifest)
    npart = num_doc_partitions or spark.sparkContext.defaultParallelism

    do_docs = not ckpt.stage_done(manifest, "docs")
    do_postings = not ckpt.stage_done(manifest, "postings")

    # The in-memory docs plan is the single source of truth for BOTH the
    # docs and postings stages: it is a pure deterministic function of the
    # input (assign_doc_ids pins ids via a materialized range-partition),
    # so a resumed build recomputes the identical rows without reading
    # the committed text back.
    d_full = B.docs_df(transcripts)
    cached = None
    if do_docs or do_postings:
        d_full, cached = B.assign_doc_ids(spark, d_full, npart)

    # stage: docs.  With store_text=False this is METADATA ONLY (see
    # docs_columns): at 10^12 turns copying the text corpus into the
    # index doubles the largest IO in the build for nothing.  Its
    # fingerprint is what a resumed postings build must match: postings
    # recompute their rows from the SOURCE, not the committed docs
    # stage, so a source that changed between run and resume would
    # silently give the committed docs and the resumed postings
    # diverging doc_ids.
    stats_vals: tuple[int, float] | None = None
    if do_docs:
        docs, stats_vals = commit_docs(out_dir, manifest, settings, d_full)
    else:
        docs = ckpt.read_stage(spark, out_dir, "docs")

    # stage: postings, sorted by (term, doc_id) within files
    if do_postings:
        # doc_id rides through the tokenizer — no join back to docs and
        # no shuffle (write_postings).  The posting row
        # carries ONLY the 8-byte id (doc_no is recovered at output time
        # from the docs table): at 10^12 turns the doc_no string would
        # dominate shuffle/storage bytes.
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
        p = B.postings_df(d_postings_src, settings, id_col="doc_id")
        # write first, verify the fingerprint, THEN record: on mismatch
        # the stage is never marked committed (the partial files are
        # overwritten by the next attempt)
        wall = write_postings(p, out_dir)
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
        ckpt.record_stage(out_dir, manifest, "postings", wall)
    postings = ckpt.read_stage(spark, out_dir, "postings")
    if cached is not None:
        cached.unpersist()

    # terms (global lexicon merge: df sum, max_tf max), stats (from the
    # docs-write Observation when available; resume runs fall back to a
    # column-pruned scan of committed docs) and segments
    return finish_index(spark, out_dir, manifest, settings, docs, postings,
                        stats=stats_vals, segments=build_segments)


def load_index(spark: SparkSession, out_dir: str, cache_terms: bool = True) -> Index:
    """Open an existing index; settings come from the manifest, mirroring
    the reference's stats.bin coupling (engine.go:38-43).

    cache_terms: Spark-cache the terms table — the query path joins it on
    every search (the reference mmaps its lexicon once at load,
    engine.go:45-54; distributed cache is the Spark analog)."""
    manifest, n_docs, adl = ckpt.read_committed(out_dir)
    settings = IndexingSettings.from_dict(manifest["settings"])
    docs = ckpt.read_stage(spark, out_dir, "docs")
    postings = ckpt.read_stage(spark, out_dir, "postings")
    terms = ckpt.read_stage(spark, out_dir, "terms")
    if cache_terms:
        terms = terms.cache()
    return Index(
        out_dir=out_dir, settings=settings, docs=docs,
        postings=postings, terms=terms, n_docs=n_docs, adl=adl,
    )
