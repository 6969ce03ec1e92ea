"""Checkpoint-resumable staged index build with per-partition lineage.

The reference resumes nothing — a crashed SPIMI run restarts from zero.
Per the north rule, this build commits each stage as an immutable parquet
directory plus a manifest entry, so a re-run with the same out_dir skips
every committed stage (the analog of Iceberg snapshot commits; plain
parquet + _SUCCESS-style manifest keeps the sandbox dependency-free while
the layout stays Iceberg-shaped: swap `write.parquet` for
`writeTo(...).using("iceberg")` when the catalog jar is present).

manifest.json:
{
  "settings": {...},                       # persisted like stats.bin does
                                           # (engine.go:38-43 reads settings
                                           #  from the index, not the CLI)
  "stages": {
     "docs":     {"rows": N, "partitions": {"0": n0, ...}, "wall_sec": s},
     "postings": {...}, "terms": {...}, "stats": {...}, "segments": {...}
  }
}

A build resumes from its manifest; merge, vacuum and stream compaction
rewrite every stage and start through begin_rewrite.  Readers of a
finished index open it through read_committed.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from pulse_spark.config import IndexingSettings

MANIFEST = "manifest.json"

# Parquet row-group size of the term-sorted stages (postings, segments):
# row-group min/max stats are the only pruning unit a term-filtered
# reader gets (pushdown decodes whole row groups; the sidecar's pyarrow
# scan does no page-level pruning).  With Spark's 128 MB default, one cold
# hot-term lookup at a 9M-doc corpus read hundreds of MB (1.48 s); 1 MB
# groups, about one term's local run, made it ~10x faster cold, for a few
# % more footer overhead on full scans.
ROW_GROUP_BYTES = 1 << 20

# The postings stage's columns, in order: what write_postings commits and
# what read_stage returns of any postings stage.
POSTINGS_COLUMNS = ("term", "doc_id", "tf", "doc_len")


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST)


def load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"settings": None, "stages": {}}


def save_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))  # atomic commit


def read_committed(out_dir: str, stage: str = "stats") -> tuple[dict, int, float]:
    """(manifest, n_docs, adl) of a committed index, read without Spark:
    the manifest, then the one-row stats stage through pyarrow.  Raises
    FileNotFoundError when out_dir holds no index manifest or the
    manifest does not list `stage` (every finished index lists stats;
    the servers and the segments scorer ask for segments)."""
    import pyarrow.parquet as pq

    manifest = load_manifest(out_dir)
    if manifest["settings"] is None:
        raise FileNotFoundError(f"no index manifest at {out_dir}")
    for s in ("stats", stage):
        if s not in manifest["stages"]:
            raise FileNotFoundError(f"no committed {s} stage at {out_dir}")
    row = pq.read_table(os.path.join(out_dir, "stats")).to_pylist()[0]
    return manifest, int(row["n_docs"]), float(row["adl"])


def begin_rewrite(out_dir: str, settings: IndexingSettings, **lineage) -> dict:
    """Start a full rewrite of out_dir (merge, vacuum, stream compaction)
    and return its manifest: settings + lineage and no stages, so
    nothing of a previous run there is reused.

    Refuses an out_dir that one of the lineage's source dirs resolves to
    (realpath, so a symlink alias is caught too): the rewrite would
    clear its own input before reading it.  Refuses an out_dir holding
    an index built with other settings (check_settings).  The empty
    manifest is committed first, then the previous run's stage
    directories and its deletes/ tombstones are removed: tombstones are
    keyed on that run's doc_ids and would silently hide live docs of the
    new index."""
    out = os.path.realpath(out_dir)
    for src in lineage.values():
        for d in [src] if isinstance(src, str) else src:
            if os.path.realpath(d) == out:
                raise ValueError(
                    "rewrite out_dir must differ from every input dir "
                    f"({d})"
                )
    check_settings(load_manifest(out_dir), settings)
    manifest = {"settings": settings.to_dict(), "stages": {}, **lineage}
    save_manifest(out_dir, manifest)
    for d in ("docs", "postings", "terms", "stats", "segments", "deletes"):
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    return manifest


def stage_done(manifest: dict, stage: str) -> bool:
    return stage in manifest["stages"]


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> float:
    """Parquet write only — the thread-safe half of commit_stage (no
    manifest mutation), so independent stages can write CONCURRENTLY from
    separate driver threads (one SparkContext schedules both job DAGs and
    back-fills each job's straggler tail with the other's tasks).
    Returns wall seconds.

    The in-partition sort leads with the partition_by columns: a
    partitioned write requires that order, and when the plan does not
    already provide it Spark's planned write puts its own Sort
    [partition_by] on top, which replaces sort_within outright."""
    path = os.path.join(out_dir, stage)
    t0 = time.time()
    w = df
    if sort_within:
        lead = [c for c in partition_by or () if c not in sort_within]
        w = w.sortWithinPartitions(*lead, *sort_within)
    writer = w.write.mode("overwrite")
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return round(time.time() - t0, 3)


def record_stage(
    out_dir: str, manifest: dict, stage: str, wall_sec: float, **extra,
) -> None:
    """Record lineage for an already-written stage.  Lineage = rows per
    committed file, read from parquet FOOTERS only — no Spark job, no
    data scan.  `extra` keys join the stage entry in the same (atomic)
    save.  A caller whose downstream stages consume the committed data
    re-reads it with read_stage (boundaries stay deterministic for
    resume); the others skip that read's schema-inference job."""
    path = os.path.join(out_dir, stage)
    part_counts = _footer_row_counts(path)
    manifest["stages"][stage] = {
        "rows": int(sum(part_counts.values())),
        "partitions": part_counts,
        "wall_sec": wall_sec,
        **extra,
    }
    save_manifest(out_dir, manifest)


def commit_stage(
    out_dir: str,
    manifest: dict,
    stage: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    options: dict[str, str] | None = None,
    **extra,
) -> None:
    """write_stage + record_stage (the sequential convenience form)."""
    wall = write_stage(df, out_dir, stage, partition_by, sort_within, options)
    record_stage(out_dir, manifest, stage, wall, **extra)


def _footer_row_counts(path: str) -> dict[str, int]:
    """{relative_file_path: num_rows} from parquet footers (driver-side,
    metadata-only)."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, path)
                out[rel] = pq.ParquetFile(full).metadata.num_rows
    return out


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(out_dir, stage))
    if stage != "postings":
        return df
    if "doc_id" not in df.columns:
        # every reader (search, merge, vacuum, resume) joins postings on
        # the dense doc_id; an older doc_no-keyed index must not be read
        raise ValueError(
            f"{out_dir}: postings have no doc_id column (an index built "
            "with doc_no-keyed postings); rebuild the index"
        )
    # an older index also carries a term bucket, as a data column or as
    # bucket=B/ directories; no reader sees it
    return df.select(*POSTINGS_COLUMNS)


def check_settings(manifest: dict, settings: IndexingSettings) -> None:
    if manifest["settings"] is None:
        manifest["settings"] = settings.to_dict()
        return
    # from_dict gives a field the stored dict lacks its default and drops
    # stored keys that are no longer fields, so every older index resumes
    stored = IndexingSettings.from_dict(manifest["settings"]).to_dict()
    if stored != settings.to_dict():
        raise ValueError(
            "index at this path was built with different settings; "
            f"manifest={stored} requested={settings.to_dict()}"
        )
