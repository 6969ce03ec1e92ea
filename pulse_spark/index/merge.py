"""Merge committed indexes into one — the artifact-level analog of the
reference's SPIMI partial-index merge (spimi.go:123-228), re-expressed
over the parquet stage layout.

Why it exists: a production corpus arrives in batches (daily transcript
drops, per-tenant backfills).  Rebuilding 10^12 turns to add 10^9 is a
non-starter; merging committed indexes touches only index artifacts
(postings/terms/stats/segments), never the source text, and every step is
a union + aggregation — no tokenization, no per-token work at all.

Mechanics (N-way; doc_nos must be disjoint across inputs; input i's
doc_ids are shifted by the cumulative n_docs of inputs 0..i-1, so merged
ids stay dense and n_docs sizes every doc_id-indexed array):

  docs      union, input_i.doc_id += offset_i, written by
            persist.commit_docs, whose write observes the merged
            n_docs, ADL and input fingerprint as a build's does
  postings  union, shifted, written by persist.write_postings — the
            build's writer, so a merged index has a fresh build's
            postings file layout
  terms     groupBy(term): df = sum, max_tf = max  (lexicon.go:37-42),
            cheaper than re-aggregating the postings
  deletes   tombstones (index/deletes.py) are CARRIED FORWARD: each
            input's (doc_no, doc_id) rows are doc_id-shifted by that
            input's offset and written into the output's deletes/ tree
            (which checkpoint.begin_rewrite cleared of any earlier run's),
            so a doc deleted before the merge stays deleted after it
            (takedown safety — merging must never resurrect).  Live-docs
            semantics are preserved: merged N/ADL/df still count the
            tombstoned docs, exactly as they did in the input.
  segments  rebuilt by segments.build_segments over the merged
            postings, as a build does: the merged index gets a fresh
            build's range grid (range_size from the merged n_docs), and
            every block's max_part is computed at the merged ADL by
            construction.  An input's stored bound would not do: max_part
            is increasing in ADL, so a bound computed against an input's
            own (smaller) ADL understates scores under the merged ADL and
            would make MaxScore pruning drop true top-k docs.

Terms, stats and segments are committed by persist.finish_index, the
tail every index writer ends in.  The merge starts, as vacuum and
stream compaction do, with checkpoint.begin_rewrite, which refuses an
out_dir that is one of the inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.index import checkpoint as ckpt
from pulse_spark.index.persist import (Index, commit_docs, finish_index,
                                       write_postings)


def merge_indexes(
    spark: SparkSession,
    a_dir: str,
    b_dir: str,
    out_dir: str,
    check_disjoint: bool = True,
) -> Index:
    """Two-way convenience form of merge_many (A absorbs B)."""
    return merge_many(spark, [a_dir, b_dir], out_dir,
                      check_disjoint=check_disjoint)


def _shift(df, off: int):
    """df with its doc_ids moved up by off — input i's place in the
    merged id space (docs, postings and tombstones alike)."""
    return df.withColumn("doc_id", F.col("doc_id") + F.lit(off)) if off else df


def _spans_disjoint(spans: list[tuple]) -> bool:
    """True iff every input's [min,max] doc_no interval is disjoint from
    every other's — a PROOF of doc_no disjointness that costs one
    shuffle-free agg per input (see check_disjoint below)."""
    spans = sorted(spans)
    return all(
        spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
    )


def merge_many(
    spark: SparkSession,
    in_dirs: list[str],
    out_dir: str,
    check_disjoint: bool = True,
) -> Index:
    """Merge N committed indexes into out_dir in ONE pass (a pairwise
    fold would rewrite the accumulated artifacts N-1 times; this unions
    all inputs once — the same single-pass shape as the reference's
    N-way SPIMI merge, spimi.go:123-146, which heap-merges all partial
    indexes together rather than two at a time).

    Requires identical IndexingSettings on all inputs (an index's
    preprocessing binds its query path — engine.go:38-43 — so merging
    differently-preprocessed indexes would corrupt semantics).  Segments
    are built iff ALL inputs have them; the inputs' own segments are not
    read (see the module docstring).

    check_disjoint: assert no doc_no occurs in two inputs (one count
    aggregation over the union of docs tables — cheap next to the
    postings union; disable for trusted disjoint batches)."""
    if len(in_dirs) < 2:
        raise ValueError("merge needs at least two inputs")
    manifests, n_i, _ = zip(*(ckpt.read_committed(d) for d in in_dirs))
    # compare parsed settings: raw dicts differ by an older index's deleted keys
    settings = IndexingSettings.from_dict(manifests[0]["settings"])
    for d, m in zip(in_dirs, manifests):
        other = IndexingSettings.from_dict(m["settings"])
        if other != settings:
            raise ValueError(
                f"settings mismatch: {settings.to_dict()} != "
                f"{other.to_dict()} ({d}) — an index's preprocessing binds "
                "its query semantics"
            )

    if any(n == 0 for n in n_i):
        raise ValueError("refusing to merge an empty index (nothing to do)")
    offsets = [0]
    for n in n_i[:-1]:
        offsets.append(offsets[-1] + n)
    do_segments = all("segments" in m["stages"] for m in manifests)

    docs_in = [ckpt.read_stage(spark, d, "docs") for d in in_dirs]
    for d, df in zip(in_dirs, docs_in):
        if sorted(df.columns) != sorted(docs_in[0].columns):
            raise ValueError(
                "docs schema mismatch (e.g. one side built with store_text "
                f"and the other not): {sorted(docs_in[0].columns)}"
                f" != {sorted(df.columns)} ({d})"
            )

    if check_disjoint:
        # cheap exact pre-pass: per-input (min,max) doc_no is a
        # map-side-combine agg (one row to the driver, NO shuffle).
        # Corpora are usually ingested in disjoint doc_no ranges
        # (per-batch prefixes, monotone ids) — when every pair of
        # intervals is disjoint the inputs are PROVABLY disjoint and the
        # O(total-docs) union+groupBy below is skipped entirely; only
        # overlapping intervals pay for the full check (round-4 advisor:
        # at 10^12 docs the unconditional shuffle dominated the merge's
        # "cheap" guard)
        intervals_disjoint = _spans_disjoint([
            tuple(df.agg(F.min("doc_no"), F.max("doc_no")).collect()[0])
            for df in docs_in
        ])
    if check_disjoint and not intervals_disjoint:
        # count DISTINCT source inputs per doc_no — a duplicate doc_no
        # WITHIN one input is that input's own business (the old
        # pairwise intersect accepted it; a raw union-count would
        # misreport it as a cross-input overlap)
        union_nos = docs_in[0].select("doc_no").withColumn("_src", F.lit(0))
        for i, df in enumerate(docs_in[1:], start=1):
            union_nos = union_nos.unionByName(
                df.select("doc_no").withColumn("_src", F.lit(i))
            )
        dup = (
            union_nos.groupBy("doc_no")
            .agg(F.countDistinct("_src").alias("_n_src"))
            .where(F.col("_n_src") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"doc_no {dup[0]['doc_no']!r} exists in both inputs — "
                "merge requires disjoint corpora"
            )

    manifest = ckpt.begin_rewrite(
        out_dir, settings, merged_from=[os.path.abspath(d) for d in in_dirs]
    )
    docs_u = docs_in[0]
    for df, off in zip(docs_in[1:], offsets[1:]):
        docs_u = docs_u.unionByName(_shift(df, off))
    docs, stats = commit_docs(out_dir, manifest, settings, docs_u)

    posts_in = [ckpt.read_stage(spark, d, "postings") for d in in_dirs]
    posts_u = posts_in[0]
    for df, off in zip(posts_in[1:], offsets[1:]):
        posts_u = posts_u.unionByName(_shift(df, off))
    ckpt.record_stage(out_dir, manifest, "postings",
                      write_postings(posts_u, out_dir))
    postings = ckpt.read_stage(spark, out_dir, "postings")

    terms_u = ckpt.read_stage(spark, in_dirs[0], "terms")
    for d in in_dirs[1:]:
        terms_u = terms_u.unionByName(ckpt.read_stage(spark, d, "terms"))
    terms = terms_u.groupBy("term").agg(
        F.sum("df").alias("df"), F.max("max_tf").alias("max_tf")
    )

    _merge_tombstones(spark, in_dirs, offsets, out_dir)
    return finish_index(spark, out_dir, manifest, settings, docs, postings,
                        terms=terms, stats=stats, segments=do_segments)


def _merge_tombstones(spark, in_dirs, offsets, out_dir):
    """Carry every input's live-docs tombstones into the output with its
    doc_ids shifted by the same offset the docs union used — deleting
    then merging must equal merging then deleting (takedown safety;
    pinned in tests/test_merge.py).  O(deleted) rows, zero cost when no
    input has tombstones.  Post-merge `delete_docs` calls append fresh
    uuid subdirs as usual."""
    from pulse_spark.index.deletes import load_deletes

    parts = []
    for d, off in zip(in_dirs, offsets):
        dels = load_deletes(spark, d)
        if dels is None:
            continue
        parts.append(_shift(dels, off))
    if not parts:
        return
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    merged.write.mode("overwrite").parquet(
        os.path.join(out_dir, "deletes", "merged")
    )
