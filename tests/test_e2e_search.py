"""End-to-end rank-identity: Spark engine vs the pure-Python pulse
oracle on the deterministic transcripts fixture — BM25/TFIDF ×
disjunctive/conjunctive over the full reference query set (FIXTURES.md §2),
plus index-table golds (df/max_tf/N/ADL) and the per-turn text-equality
invariant (north rule)."""

from __future__ import annotations

import math

import pytest

from pulse_spark import oracle
from pulse_spark.config import IndexingSettings
from pulse_spark.fixtures import gen_queries
from pulse_spark.index.persist import build_persisted_index, load_index
from pulse_spark.query.search import search_topk


@pytest.fixture(scope="session")
def settings():
    return IndexingSettings(stopwords_removal=True, stemming=True, term_buckets=8)


@pytest.fixture(scope="session")
def spark_index(spark, transcripts_path, settings, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "idx")
    transcripts = spark.read.parquet(transcripts_path)
    # assign_ids=True exercises the dense doc_id path even without segments
    return build_persisted_index(spark, transcripts, out, settings, assign_ids=True)


@pytest.fixture(scope="session")
def oracle_index(oracle_docs, settings):
    return oracle.build_index(oracle_docs, settings.preprocess)


def groups(ranked):
    """Collapse a ranked [(doc, score)] list into equal-score groups for
    tie-insensitive comparison (reference heap order is unspecified)."""
    out, cur, cur_s = [], set(), None
    for doc, s in ranked:
        if cur_s is None or abs(s - cur_s) > 1e-9:
            if cur:
                out.append((cur_s, cur))
            cur, cur_s = set(), s
        cur.add(doc)
    if cur:
        out.append((cur_s, cur))
    return out


def assert_rank_identical(spark_rows, oracle_ranked, k):
    got = [(r["doc_no"], r["score"]) for r in sorted(spark_rows, key=lambda r: r["rank"])]
    exp = oracle_ranked[:k]
    assert len(got) == len(exp)
    g_groups, e_groups = groups(got), groups(exp)
    # group-by-group: same score, same membership — except possibly the
    # last (cut) group, where only containment within the oracle's full
    # equal-score cohort is required
    full = None
    for i, ((gs, gdocs), (es, edocs)) in enumerate(zip(g_groups, e_groups)):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12), (i, gs, es)
        if i < len(g_groups) - 1:
            assert gdocs == edocs, (i, gdocs ^ edocs)
        else:
            full = gdocs, gs
    if full is not None:
        gdocs, gs = full
        # last group may be truncated by k: verify membership in the
        # oracle's full cohort at that score
        assert gdocs <= full_cohort(oracle_ranked, gs), gdocs


def full_cohort(ranked, s):
    return {d for d, sc in ranked if math.isclose(sc, s, rel_tol=1e-9, abs_tol=1e-12)}


@pytest.mark.parametrize("metric", ["BM25", "TFIDF"])
@pytest.mark.parametrize("conjunctive", [False, True])
def test_topk_rank_identity(spark, spark_index, oracle_index, metric, conjunctive):
    k = 10
    queries = gen_queries()
    qdf = spark.createDataFrame(queries, "query_id long, text string")
    res = search_topk(spark_index, qdf, k=k, metric=metric, conjunctive=conjunctive)
    by_q = {}
    for r in res.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, text in queries:
        exp = oracle.search(oracle_index, text, k=k, metric=metric, conjunctive=conjunctive)
        got = by_q.get(qid, [])
        assert_rank_identical(got, exp, k)


def test_terms_table_matches_oracle(spark_index, oracle_index):
    got = {r["term"]: (r["df"], r["max_tf"]) for r in spark_index.terms.collect()}
    exp = {
        t: (len(p), max(p.values()))
        for t, p in oracle_index.postings.items()
    }
    assert got == exp


def test_stats_match_oracle(spark_index, oracle_index):
    assert spark_index.n_docs == oracle_index.n_docs
    assert math.isclose(spark_index.adl, oracle_index.adl, rel_tol=1e-12)


def test_doc_ids_dense_and_ordered(spark_index):
    rows = spark_index.docs.select("doc_id", "conv_id", "turn_idx").collect()
    rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    ids = [r["doc_id"] for r in rows]
    assert ids == list(range(len(rows)))  # dense rank of (conv_id, turn_idx)


def test_per_turn_text_equality_invariant(spark, spark_index, transcripts_path):
    """North-rule invariant: the docs stage must reproduce
    (conv_id, turn_idx) -> trimmed text exactly under stable ordering."""
    import pyarrow.parquet as pq

    src = pq.read_table(transcripts_path).to_pylist()
    exp = {(r["conv_id"], r["turn_idx"]): r["text"].strip(oracle.ASCII_WS) for r in src}
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in spark_index.docs.select("conv_id", "turn_idx", "text").collect()
    }
    assert got == exp


def test_resume_skips_completed_stages(spark, spark_index, oracle_index):
    """Re-opening and re-building over a completed index must not recompute
    (manifest short-circuit) and must serve identical results."""
    idx2 = load_index(spark, spark_index.out_dir)
    assert idx2.n_docs == spark_index.n_docs
    assert idx2.settings == spark_index.settings
    assert idx2.terms.count() == len(oracle_index.postings)


def test_distributed_query_tokenizer_fallback(spark, spark_index):
    """Query sets larger than max_driver_queries take the distributed
    pandas-UDF tokenizer path — it must return exactly what the
    driver-side path returns."""
    queries = gen_queries()
    qdf = spark.createDataFrame(queries, "query_id long, text string")
    a = search_topk(spark_index, qdf, k=10)
    b = search_topk(spark_index, qdf, k=10, max_driver_queries=0)
    rows_a = {(r["query_id"], r["rank"]): (r["doc_no"], round(r["score"], 9))
              for r in a.collect()}
    rows_b = {(r["query_id"], r["rank"]): (r["doc_no"], round(r["score"], 9))
              for r in b.collect()}
    assert rows_a == rows_b


def test_partial_resume_recomputes_only_missing_stages(spark, transcripts_path,
                                                       settings, tmp_path):
    """Kill the build after postings (simulated by deleting the terms and
    stats stages + manifest entries): the re-run must recompute ONLY
    those, leaving the committed docs/postings bytes untouched, and the
    resumed index must serve identical results."""
    import json
    import os
    import shutil

    from pulse_spark.index.persist import build_persisted_index

    out = str(tmp_path / "idx")
    transcripts = spark.read.parquet(transcripts_path)
    idx1 = build_persisted_index(spark, transcripts, out, settings)
    terms1 = {r["term"]: (r["df"], r["max_tf"]) for r in idx1.terms.collect()}

    # record committed file mtimes of the heavy stages
    def mtimes(stage):
        root = os.path.join(out, stage)
        return {
            os.path.relpath(os.path.join(r, f), root): os.path.getmtime(
                os.path.join(r, f))
            for r, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
        }

    docs_m, post_m = mtimes("docs"), mtimes("postings")

    # simulate the crash: terms + stats gone, manifest says so
    shutil.rmtree(os.path.join(out, "terms"))
    shutil.rmtree(os.path.join(out, "stats"))
    with open(os.path.join(out, "manifest.json")) as f:
        m = json.load(f)
    del m["stages"]["terms"], m["stages"]["stats"]
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f)

    idx2 = build_persisted_index(spark, transcripts, out, settings)
    assert mtimes("docs") == docs_m          # untouched
    assert mtimes("postings") == post_m      # untouched
    assert idx2.n_docs == idx1.n_docs
    assert abs(idx2.adl - idx1.adl) < 1e-9
    terms2 = {r["term"]: (r["df"], r["max_tf"]) for r in idx2.terms.collect()}
    assert terms2 == terms1


def test_resume_tolerates_manifest_from_older_settings_schema(
    spark, transcripts_path, settings, tmp_path
):
    """A manifest written before a new IndexingSettings field existed
    must resume under that field's default (strict dict equality would
    refuse every pre-upgrade index); unknown stored keys are ignored."""
    import json
    import os

    from pulse_spark.index.persist import build_persisted_index

    out = str(tmp_path / "idx")
    transcripts = spark.read.parquet(transcripts_path)
    idx1 = build_persisted_index(spark, transcripts, out, settings)

    mp = os.path.join(out, "manifest.json")
    with open(mp) as f:
        m = json.load(f)
    del m["settings"]["store_text"]          # pre-upgrade manifest
    m["settings"]["future_knob"] = 42        # post-upgrade manifest
    with open(mp, "w") as f:
        json.dump(m, f)

    idx2 = build_persisted_index(spark, transcripts, out, settings)  # resumes
    assert idx2.n_docs == idx1.n_docs

    import pytest as _p

    from pulse_spark.config import IndexingSettings as _S

    with _p.raises(ValueError):  # REAL mismatches still refuse
        build_persisted_index(
            spark, transcripts, out,
            _S(stopwords_removal=False, stemming=True, term_buckets=8),
        )


def test_resume_refuses_changed_input(spark, transcripts_path, settings, tmp_path):
    """A resume whose recomputed input no longer matches the committed
    docs stage's fingerprint must fail loudly (the resumed postings'
    doc_ids would silently diverge from the committed docs table);
    resuming over the UNCHANGED input must still work."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    out = str(tmp_path / "idx")
    transcripts = spark.read.parquet(transcripts_path)
    idx1 = build_persisted_index(spark, transcripts, out, settings)
    t1 = {r["term"]: (r["df"], r["max_tf"]) for r in idx1.terms.collect()}

    def crash_after_docs():
        for stage in ("postings", "terms", "stats"):
            shutil.rmtree(os.path.join(out, stage))
        mp = os.path.join(out, "manifest.json")
        with open(mp) as f:
            m = json.load(f)
        assert m["input_fingerprint"]["rows"] == idx1.n_docs
        for stage in ("postings", "terms", "stats"):
            del m["stages"][stage]
        with open(mp, "w") as f:
            json.dump(m, f)

    crash_after_docs()
    drifted = transcripts.withColumn(
        "text", F.concat(F.col("text"), F.lit(" drifted"))
    )
    with pytest.raises(ValueError, match="resume refused"):
        build_persisted_index(spark, drifted, out, settings)

    # the failed attempt recorded nothing: the unchanged input resumes
    idx2 = build_persisted_index(spark, transcripts, out, settings)
    assert idx2.n_docs == idx1.n_docs
    t2 = {r["term"]: (r["df"], r["max_tf"]) for r in idx2.terms.collect()}
    assert t2 == t1


def test_pagination_is_continuation_of_page_one(spark, spark_index):
    """bounded_topk(offset=k): page 2 carries absolute ranks [k, 2k),
    is disjoint from page 1, and page1+page2 == one k=2k run."""
    from pyspark.sql import functions as F

    from pulse_spark.query.search import bounded_topk, scored_candidates

    idx = spark_index
    # query the two highest-df terms so the candidate set is deep enough
    top_terms = [r["term"] for r in
                 idx.terms.orderBy(F.desc("df"), "term").limit(2).collect()]
    occ = spark.createDataFrame(
        [(0, i, t) for i, t in enumerate(top_terms)],
        "query_id long, pos int, term string",
    )
    n_cand = scored_candidates(
        idx.postings, idx.terms, occ, idx.n_docs, idx.adl, id_col="doc_id"
    ).count()
    assert n_cand > 4  # enough matches to paginate
    k = min(10, n_cand // 2)
    per_doc = scored_candidates(
        idx.postings, idx.terms, occ, idx.n_docs, idx.adl, id_col="doc_id"
    )
    p1 = bounded_topk(per_doc, k, "doc_id").collect()
    p2 = bounded_topk(per_doc, k, "doc_id", offset=k).collect()
    assert [r["rank"] for r in sorted(p1, key=lambda r: r["rank"])] == list(range(k))
    assert [r["rank"] for r in sorted(p2, key=lambda r: r["rank"])] == \
        list(range(k, 2 * k))
    assert not {r["doc_id"] for r in p1} & {r["doc_id"] for r in p2}
    full = bounded_topk(per_doc, 2 * k, "doc_id").collect()
    assert sorted((r["rank"], r["doc_id"]) for r in p1 + p2) == \
        sorted((r["rank"], r["doc_id"]) for r in full)


def test_scored_candidates_df_column_needs_flag(spark, spark_index):
    """An occurrences frame that happens to carry a `df` column is scored
    with the TERMS table's df unless the caller says the df is attached
    (df_attached=True, the harness's driver-side lookup)."""
    from pyspark.sql import functions as F

    from pulse_spark.query.search import scored_candidates

    idx = spark_index
    rows = idx.terms.orderBy(F.desc("df"), "term").limit(3).collect()
    occ = spark.createDataFrame(
        [(0, i, r["term"]) for i, r in enumerate(rows)],
        "query_id long, pos int, term string",
    )
    # a df unrelated to the corpus: 1 for every term
    occ_junk_df = occ.withColumn("df", F.lit(1).cast("long"))
    occ_true_df = spark.createDataFrame(
        [(0, i, r["term"], int(r["df"])) for i, r in enumerate(rows)],
        "query_id long, pos int, term string, df long",
    )

    def scores(q, **kw):
        return sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in scored_candidates(
                idx.postings, idx.terms, q, idx.n_docs, idx.adl,
                id_col="doc_id", **kw,
            ).collect()
        )

    want = scores(occ)
    assert want
    assert scores(occ_junk_df) == want
    assert scores(occ_true_df, df_attached=True) == want
    # the flag really does take the attached df as given
    assert scores(occ_junk_df, df_attached=True) != want
