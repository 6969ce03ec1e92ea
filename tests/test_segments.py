"""Segments path: compressed block segments + MaxScore scorer must return
exactly the same top-k as the exact DataFrame path, for both metrics and
both modes, compressed and uncompressed."""

from __future__ import annotations

import math

import pytest

from pulse_spark.config import IndexingSettings
from pulse_spark.fixtures import gen_queries
from pulse_spark.index.persist import build_persisted_index
from pulse_spark.index.segments import search_segments
from pulse_spark.query.search import search_topk


@pytest.fixture(scope="module", params=[True, False], ids=["compressed", "raw"])
def seg_index(spark, transcripts_path, tmp_path_factory, request):
    out = str(tmp_path_factory.mktemp("segidx") / f"idx_{request.param}")
    settings = IndexingSettings(
        stopwords_removal=True, stemming=True,
        compression=request.param, block_size=32,
    )
    transcripts = spark.read.parquet(transcripts_path)
    return build_persisted_index(
        spark, transcripts, out, settings, build_segments=True
    )


@pytest.mark.parametrize("metric", ["BM25", "TFIDF"])
@pytest.mark.parametrize("conjunctive", [False, True])
def test_segments_equal_exact(spark, seg_index, metric, conjunctive):
    k = 10
    qdf = spark.createDataFrame(gen_queries(), "query_id long, text string")
    exact = search_topk(seg_index, qdf, k=k, metric=metric, conjunctive=conjunctive)
    # exact path keys by doc_no; map to doc_id for comparison
    doc_map = {
        r["doc_no"]: r["doc_id"] for r in seg_index.docs.select("doc_no", "doc_id").collect()
    }
    exp: dict[int, list] = {}
    for r in exact.collect():
        exp.setdefault(r["query_id"], []).append(
            (doc_map[r["doc_no"]], r["score"], r["rank"])
        )

    got_rows = search_segments(spark, seg_index, qdf, k=k, metric=metric,
                               conjunctive=conjunctive).collect()
    got: dict[int, list] = {}
    for r in got_rows:
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"], r["rank"]))

    assert set(got) == set(exp)
    for qid in exp:
        e = sorted(exp[qid], key=lambda t: t[2])
        g = sorted(got[qid], key=lambda t: t[2])
        assert len(e) == len(g), qid
        # same score sequence
        for (ed, es, _), (gd, gs, _) in zip(e, g):
            assert math.isclose(es, gs, rel_tol=1e-9, abs_tol=1e-12), (qid, es, gs)
        # same doc membership within equal-score groups
        def groups(lst):
            out, cur, cs = [], set(), None
            for d, s, _ in lst:
                if cs is None or abs(s - cs) > 1e-9:
                    if cur:
                        out.append(cur)
                    cur, cs = set(), s
                cur.add(d)
            if cur:
                out.append(cur)
            return out

        for i, (ge, gg) in enumerate(zip(groups(e), groups(g))):
            last = i == len(groups(e)) - 1
            if not last:
                assert ge == gg, (qid, i)


def test_segment_blocks_structure(spark, seg_index):
    import pyspark.sql.functions as F

    seg = spark.read.parquet(f"{seg_index.out_dir}/segments")
    s = seg.agg(
        F.max("n").alias("max_n"),
        F.min("n").alias("min_n"),
        F.count(F.lit(1)).alias("blocks"),
    ).collect()[0]
    assert s["max_n"] <= 32  # block_size cap
    assert s["min_n"] >= 1
    # block doc ranges are internally consistent
    bad = seg.where(F.col("min_doc_id") > F.col("max_doc_id")).count()
    assert bad == 0
    # posting count preserved
    total = seg.agg(F.sum("n")).collect()[0][0]
    assert total == seg_index.postings.count()
