"""Torn index files: what a crash or a partial copy leaves in an index
directory must either be ignored (a leftover manifest temp file) or
fail loudly at open (a truncated manifest or segment file) — never
silently restart a build or serve partial results."""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.fixtures import gen_queries
from pulse_spark.index.merge import merge_many
from pulse_spark.index.persist import build_persisted_index

SETTINGS = IndexingSettings(term_buckets=4, block_size=32)


def _garbage_tmp(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "manifest.json.tmp"), "w") as f:
        f.write('{"settings": {"term_buck')


def test_torn_manifest_and_segment_files(spark, transcripts_path, tmp_path):
    from pulse_spark.serve import PointServer

    tr = spark.read.parquet(transcripts_path)
    a, b = (str(tmp_path / n) for n in ("a", "b"))
    build_persisted_index(spark, tr.where(F.col("conv_id") < "c000060"), a,
                          SETTINGS)
    idx_b = build_persisted_index(
        spark, tr.where(F.col("conv_id") >= "c000060"), b, SETTINGS,
        build_segments=True)

    # a leftover manifest.json.tmp (a crash between the temp write and
    # the rename) is ignored: the build resumes from manifest.json,
    # skips its committed stages and commits the missing segments stage
    _garbage_tmp(a)
    with open(os.path.join(a, "manifest.json")) as f:
        before = json.load(f)["stages"]
    idx_a = build_persisted_index(spark, tr.where(F.col("conv_id") < "c000060"),
                                  a, SETTINGS, build_segments=True)
    with open(os.path.join(a, "manifest.json")) as f:
        after = json.load(f)["stages"]
    assert {s: after[s] for s in before} == before
    assert "segments" in after
    # ... and a merge into a directory holding one succeeds
    m = str(tmp_path / "m")
    _garbage_tmp(m)
    merged = merge_many(spark, [a, b], m)
    assert merged.n_docs == idx_a.n_docs + idx_b.n_docs == tr.count()
    srv = PointServer(m)
    assert any(srv.search(text, k=3) for _, text in gen_queries())

    # a truncated manifest.json raises; it must not read as an empty
    # manifest and restart the build over the committed stages
    path = os.path.join(a, "manifest.json")
    with open(path, "rb") as f:
        raw = f.read()
    with open(path, "wb") as f:
        f.write(raw[: len(raw) // 2])
    with pytest.raises(json.JSONDecodeError):
        build_persisted_index(spark, tr.where(F.col("conv_id") < "c000060"),
                              a, SETTINGS)

    # a segments file cut to half its bytes fails the server's open
    # instead of serving the blocks that are left
    seg = max(glob.glob(os.path.join(m, "segments", "*", "*.parquet")),
              key=os.path.getsize)
    with open(seg, "rb") as f:
        raw = f.read()
    with open(seg, "wb") as f:
        f.write(raw[: len(raw) // 2])
    with pytest.raises(pa.ArrowInvalid, match="(?i)parquet"):
        PointServer(m)
