"""Semantics pins for the weighted scorer, filtered search, RM3
expansion, and more-like-this (query/search.py weight + doc_filter,
query/expand.py) on hand-built corpora where the expected behavior is
derivable by inspection.  Cross-engine value-equality at sf0.01 is the
DuckDB oracle gate's job (tests/test_harness_oracle.py rows
bm25_filtered_topk / bm25_rm3_topk / more_like_this)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.index.build import postings_df, terms_df
from pulse_spark.query.expand import (
    more_like_this_occurrences,
    more_like_this_topk,
    rm3_topk,
    rm3_weighted_occurrences,
    topk_from_tables,
)
from pulse_spark.text.udfs import doc_len_bytes

SETTINGS = IndexingSettings(stopwords_removal=True, stemming=False)


def _corpus(spark, rows):
    """rows: [(doc_id, text)] -> (postings, terms, docs_text, n, adl)"""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with_len = docs.select(
        "doc_id", "text", doc_len_bytes("text").cast("long").alias("doc_len")
    )
    p = postings_df(with_len, SETTINGS, id_col="doc_id")
    t = terms_df(p)
    st = with_len.agg(F.count(F.lit(1)), F.avg("doc_len")).collect()[0]
    return p, t, docs, int(st[0]), float(st[1])


def _ranked(res):
    return [
        (r["doc_id"], r["score"])
        for r in sorted(res.collect(), key=lambda r: (r["query_id"], r["rank"]))
    ]


def test_weight_column_scales_contribution(spark):
    """An occurrence's score contribution is linear in its weight: the
    same query with weight w scores exactly w x the unweighted run."""
    p, t, _, n, adl = _corpus(
        spark, [(1, "spark merge merge"), (2, "spark spark join"), (3, "join")]
    )
    occ = spark.createDataFrame(
        [(1, 0, "spark"), (1, 1, "merge")], "query_id long, pos int, term string"
    )
    plain = dict(_ranked(topk_from_tables(p, t, occ, n, adl, k=3, id_col="doc_id")))
    w = occ.withColumn("weight", F.lit(2.5))
    weighted = dict(
        _ranked(topk_from_tables(p, t, w, n, adl, k=3, id_col="doc_id"))
    )
    assert set(plain) == set(weighted)
    for d, s in plain.items():
        assert weighted[d] == pytest.approx(2.5 * s, rel=1e-12)


def test_doc_filter_restricts_candidates_not_stats(spark):
    """Filtered search returns the top-k AMONG allowed docs, with scores
    identical to the same docs' scores in the unfiltered run (df/adl/N
    stay global — the Lucene filter-query model)."""
    rows = [(i, "spark join" if i % 2 else "spark merge") for i in range(1, 9)]
    p, t, _, n, adl = _corpus(spark, rows)
    occ = spark.createDataFrame(
        [(1, 0, "spark"), (1, 1, "join")], "query_id long, pos int, term string"
    )
    full = dict(_ranked(topk_from_tables(p, t, occ, n, adl, k=8, id_col="doc_id")))
    allowed = spark.createDataFrame([(2,), (4,), (5,)], "doc_id long")
    filt = _ranked(
        topk_from_tables(p, t, occ, n, adl, k=8, id_col="doc_id", doc_filter=allowed)
    )
    assert {d for d, _ in filt} == {2, 4, 5}
    for d, s in filt:
        assert s == pytest.approx(full[d], rel=1e-12)


def test_rm3_alpha_one_is_rank_identical_to_plain(spark):
    """alpha=1.0 short-circuits expansion; uniform 1/n_occ weights scale
    every score by the same constant, so ranking is unchanged."""
    rows = [(i, txt) for i, txt in enumerate(
        ["spark join merge", "spark spark filter", "join filter scan",
         "merge scan spark", "filter filter join"])]
    p, t, docs, n, adl = _corpus(spark, rows)
    occ = spark.createDataFrame(
        [(1, 0, "spark"), (1, 1, "join")], "query_id long, pos int, term string"
    )
    plain = _ranked(topk_from_tables(p, t, occ, n, adl, k=5, id_col="doc_id"))
    rm3 = _ranked(
        rm3_topk(p, t, occ, docs, n, adl, SETTINGS.preprocess,
                 k=5, alpha=1.0, id_col="doc_id")
    )
    assert [d for d, _ in rm3] == [d for d, _ in plain]
    for (d1, s1), (d2, s2) in zip(rm3, plain):
        assert s1 == pytest.approx(s2 / 2.0, rel=1e-12)  # n_occ == 2


def test_rm3_expansion_terms_exclude_originals_and_recall_new_doc(spark):
    """The relevance model only contains non-query terms, and expansion
    retrieves a doc sharing NO term with the original query (the whole
    point of pseudo-relevance feedback): doc 9 contains only 'window',
    which co-occurs with 'spark' in the feedback docs."""
    rows = [
        (1, "spark window"), (2, "spark window"), (3, "spark window"),
        (9, "window window window"),
        (10, "scan filter"), (11, "scan merge"),
    ]
    p, t, docs, n, adl = _corpus(spark, rows)
    occ = spark.createDataFrame(
        [(1, 0, "spark")], "query_id long, pos int, term string"
    )
    first = topk_from_tables(p, t, occ, n, adl, k=3, id_col="doc_id", tie_round=6)
    wq = rm3_weighted_occurrences(
        docs, first, occ, SETTINGS.preprocess, id_col="doc_id",
        fb_k=3, fb_terms=5, alpha=0.6,
    ).collect()
    exp_terms = {r["term"] for r in wq if r["pos"] >= 1_000_000}
    assert "spark" not in exp_terms  # originals carry alpha, not expansion
    assert "window" in exp_terms
    # expansion weights sum to 1-alpha; originals to alpha
    assert sum(r["weight"] for r in wq if r["pos"] >= 1_000_000) == pytest.approx(0.4)
    assert sum(r["weight"] for r in wq if r["pos"] < 1_000_000) == pytest.approx(0.6)
    res = _ranked(
        rm3_topk(p, t, occ, docs, n, adl, SETTINGS.preprocess,
                 k=6, alpha=0.6, id_col="doc_id")
    )
    assert 9 in {d for d, _ in res}  # unreachable without expansion
    plain = _ranked(topk_from_tables(p, t, occ, n, adl, k=6, id_col="doc_id"))
    assert 9 not in {d for d, _ in plain}


def test_more_like_this_excludes_source_and_finds_near_dup(spark):
    """The source doc never appears in its own neighbors; a near-copy of
    the source ranks first; the query model is the top tf-idf terms."""
    rows = [
        (1, "spark merge window window"),
        (2, "spark merge window window filter"),  # near-copy of 1
        (3, "scan scan scan join"),
        (4, "filter join scan"),
        (5, "spark filter"),
    ]
    p, t, docs, n, adl = _corpus(spark, rows)
    src = spark.createDataFrame([(1,)], "doc_id long")
    occ = more_like_this_occurrences(
        docs, src, t, n, SETTINGS.preprocess, id_col="doc_id", top_terms=2
    ).collect()
    # doc 1 terms by tf*idf: window tf=2 beats spark/merge tf=1
    assert {r["term"] for r in occ} >= {"window"}
    assert len(occ) == 2 and all(r["weight"] == 1.0 for r in occ)
    res = _ranked(
        more_like_this_topk(p, t, docs, src, n, adl, SETTINGS.preprocess,
                            k=3, top_terms=2, id_col="doc_id")
    )
    assert 1 not in {d for d, _ in res}
    assert res[0][0] == 2


def test_search_topk_doc_filter_on_committed_index(spark, transcripts_path,
                                                   tmp_path_factory):
    """Index-level wiring: doc_filter by doc_no works through the slim
    doc_id-only postings layout (filter translated by one semi-join) and
    returns the unfiltered scores for the surviving docs."""
    from pulse_spark.index.persist import build_persisted_index
    from pulse_spark.query.search import search_topk

    out = str(tmp_path_factory.mktemp("fidx") / "idx")
    transcripts = spark.read.parquet(transcripts_path)
    idx = build_persisted_index(
        spark, transcripts, out,
        IndexingSettings(stopwords_removal=True, stemming=False),
    )
    from pulse_spark.fixtures import gen_queries

    # pick a fixture query with enough matches to split into a subset
    full_rows = {}
    for qid, text in gen_queries():
        q = spark.createDataFrame([(1, text)], "query_id long, text string")
        full_rows = {r["doc_no"]: r["score"]
                     for r in search_topk(idx, q, k=50).collect()}
        if len(full_rows) >= 4:
            break
    # allow an arbitrary strict subset of the full run's results
    allowed = sorted(full_rows)[::2]
    assert allowed and len(allowed) < len(full_rows)
    filt = search_topk(
        idx, q, k=50,
        doc_filter=spark.createDataFrame([(d,) for d in allowed], "doc_no string"),
    ).collect()
    got = {r["doc_no"]: r["score"] for r in filt}
    assert set(got) == set(allowed)
    for d, s in got.items():
        assert s == pytest.approx(full_rows[d], rel=1e-12)
