"""Torn index files: what a crash or a partial copy leaves in an index
directory must either be ignored (a leftover manifest temp file) or
fail loudly at open (a truncated manifest or segment file) — never
silently restart a build or serve partial results.  A build killed
between its writes resumes, and an index an older version wrote still
opens."""

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

SETTINGS = IndexingSettings(block_size=32)


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


def test_segments_stage_commits_with_its_grid(spark, transcripts_path,
                                             tmp_path, monkeypatch):
    """No saved manifest lists the segments stage without its grid
    (range_size, n_ranges): the scorer and the sharded server read both,
    and a resume skips a listed stage.  A build killed at the save that
    commits segments resumes into an index both serve, with the results
    of a fresh build."""
    from pulse_spark.index import checkpoint as ckpt
    from pulse_spark.index.persist import load_index
    from pulse_spark.index.segments import search_segments
    from pulse_spark.serve import ShardedServer

    tr = spark.read.parquet(transcripts_path)
    real_save = ckpt.save_manifest
    saved = []

    def spy(out_dir, manifest):
        saved.append(json.loads(json.dumps(manifest)))
        real_save(out_dir, manifest)

    monkeypatch.setattr(ckpt, "save_manifest", spy)
    fresh = str(tmp_path / "fresh")
    build_persisted_index(spark, tr, fresh, SETTINGS, build_segments=True)
    listed = [m["stages"]["segments"] for m in saved
              if "segments" in m["stages"]]
    assert listed
    assert all({"range_size", "n_ranges"} <= set(s) for s in listed), listed

    class Killed(Exception):
        pass

    def kill_at_grid(out_dir, manifest):
        if "n_ranges" in manifest["stages"].get("segments", {}):
            raise Killed
        real_save(out_dir, manifest)

    torn = str(tmp_path / "torn")
    monkeypatch.setattr(ckpt, "save_manifest", kill_at_grid)
    with pytest.raises(Killed):
        build_persisted_index(spark, tr, torn, SETTINGS, build_segments=True)
    monkeypatch.setattr(ckpt, "save_manifest", real_save)
    build_persisted_index(spark, tr, torn, SETTINGS, build_segments=True)

    qdf = spark.createDataFrame(gen_queries(), "query_id long, text string")

    def served(out_dir):
        seg = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in search_segments(spark, load_index(spark, out_dir),
                                     qdf, k=10).collect()
        )
        with ShardedServer(out_dir, n_shards=2) as sh:
            shard = [[(r.doc_no, round(r.score, 9)) for r in
                      sh.search(text, k=10)] for _, text in gen_queries()]
        return seg, shard

    got = served(torn)
    assert got[0] and any(got[1])
    assert got == served(fresh)


def test_manifest_with_deleted_setting_still_opens(spark, transcripts_path,
                                                    tmp_path):
    """An index whose manifest still stores salt_partitions (a setting
    since deleted: the postings layout no longer shuffles) opens through
    load_index and PointServer, resumes a build and merges with an index
    written without it."""
    from pulse_spark.index.merge import merge_indexes
    from pulse_spark.index.persist import load_index
    from pulse_spark.serve import PointServer

    tr = spark.read.parquet(transcripts_path)
    halves = (tr.where(F.col("conv_id") < "c000060"),
              tr.where(F.col("conv_id") >= "c000060"))
    old, new = (str(tmp_path / n) for n in ("old", "new"))
    build_persisted_index(spark, halves[0], old, SETTINGS)
    build_persisted_index(spark, halves[1], new, SETTINGS,
                          build_segments=True)
    path = os.path.join(old, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["settings"]["salt_partitions"] = 8
    with open(path, "w") as f:
        json.dump(manifest, f)

    assert load_index(spark, old).settings == SETTINGS
    idx = build_persisted_index(spark, halves[0], old, SETTINGS,
                                build_segments=True)
    with open(path) as f:
        stages = json.load(f)["stages"]
    assert {s: stages[s] for s in manifest["stages"]} == manifest["stages"]
    assert "segments" in stages
    with PointServer(old) as srv:
        assert any(srv.search(text, k=3) for _, text in gen_queries())

    merged = merge_indexes(spark, old, new, str(tmp_path / "m"))
    assert merged.settings == SETTINGS
    assert merged.n_docs == idx.n_docs + load_index(spark, new).n_docs
    assert merged.n_docs == tr.count()
    with PointServer(merged.out_dir) as srv:
        assert any(srv.search(text, k=3) for _, text in gen_queries())


def test_empty_input_is_refused_before_any_stage_commits(spark,
                                                         transcripts_path,
                                                         tmp_path):
    out = str(tmp_path / "empty")
    tr = spark.read.parquet(transcripts_path).where(F.lit(False))
    with pytest.raises(ValueError, match="empty input"):
        build_persisted_index(spark, tr, out, SETTINGS)
    with open(os.path.join(out, "manifest.json")) as f:
        assert json.load(f)["stages"] == {}


@pytest.fixture(scope="module")
def rewrite_sources(spark, transcripts_path, tmp_path_factory):
    """Inputs of the three index rewrites plus `old`: an index with
    segments and doc_ids 0, 1 and 2 tombstoned, the earlier run that a
    reused out_dir holds.  Input a (no segments) has one tombstone of
    its own; the stream dir holds half b's deltas."""
    from pulse_spark.index.deletes import delete_docs
    from pulse_spark.streaming.incremental import start_incremental_build

    base = tmp_path_factory.mktemp("rewrites")
    tr = spark.read.parquet(transcripts_path)
    half_a = tr.where(F.col("conv_id") < "c000060")
    half_b = tr.where(F.col("conv_id") >= "c000060")
    old = build_persisted_index(spark, tr, str(base / "old"), SETTINGS,
                                build_segments=True)
    first3 = [r["doc_no"] for r in old.docs.where(F.col("doc_id") < 3).collect()]
    assert delete_docs(spark, old.out_dir, first3) == 3
    a = build_persisted_index(spark, half_a, str(base / "a"), SETTINGS)
    assert delete_docs(spark, a.out_dir,
                       [a.docs.select("doc_no").first()["doc_no"]]) == 1
    b = build_persisted_index(spark, half_b, str(base / "b"), SETTINGS)
    half_b.write.parquet(str(base / "arrivals"))
    stream = str(base / "stream")
    start_incremental_build(spark, str(base / "arrivals"), stream,
                            SETTINGS).awaitTermination(120)
    return {
        "old": old.out_dir,
        "merge": ["merge", "--a", a.out_dir, "--b", b.out_dir],
        "vacuum": ["vacuum", "--index", a.out_dir],
        "compact": ["compact", "--stream-dir", stream, "--no-segments"],
    }


@pytest.mark.parametrize("rewrite", ["merge", "vacuum", "compact"])
def test_rewrite_into_reused_out_dir_equals_fresh(spark, rewrite_sources,
                                                  rewrite, tmp_path, capsys):
    """A merge, vacuum or stream compaction into an out_dir that holds an
    earlier index keeps nothing of it: neither its segments stage (none
    of these rewrites builds one here) nor its tombstones, which are
    keyed on the old run's doc_ids and would hide live docs."""
    import shutil

    from pulse_spark import cli
    from pulse_spark.index.deletes import deleted_id_array
    from pulse_spark.index.persist import load_index
    from pulse_spark.query.search import search_topk

    def run(out):
        assert cli.main([*rewrite_sources[rewrite], "--output", out]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    reused, fresh = str(tmp_path / "reused"), str(tmp_path / "fresh")
    shutil.copytree(rewrite_sources["old"], reused)
    printed = run(reused)
    run(fresh)

    def tombstones(d):
        ids = deleted_id_array(d)
        return [] if ids is None else ids.tolist()

    assert tombstones(reused) == tombstones(fresh)
    with open(os.path.join(reused, "manifest.json")) as f:
        listed = "segments" in json.load(f)["stages"]
    idx = load_index(spark, reused)
    assert idx.has_segments == printed["segments"] == listed

    qdf = spark.createDataFrame(gen_queries(), "query_id long, text string")

    def topk(index):
        return sorted(
            (r["query_id"], r["rank"], r["doc_no"], round(r["score"], 9))
            for r in search_topk(index, qdf, k=10).collect()
        )

    assert topk(idx) == topk(load_index(spark, fresh))
