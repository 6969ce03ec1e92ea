"""Physical-plan shape guards — the scale properties that correctness
tests can't see: predicate pushdown of the query's terms into the
postings scan, broadcast of the small side, and the two-phase
(partial) top-k.  A regression here is invisible at sf0.001
and fatal at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.index.persist import build_persisted_index
from pulse_spark.query.search import search_topk


@pytest.fixture(scope="module")
def plan_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx") / "idx")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tr = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        "text",
    )
    return build_persisted_index(
        spark, tr, out, IndexingSettings()
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_filters(plan: str, key: str) -> list[str]:
    """The `key: [...]` filter lists (PartitionFilters, PushedFilters)
    of every postings FileScan (the scan that outputs tf) in plan, as
    one string per scan."""
    out = []
    for ln in plan.splitlines():
        if "FileScan" not in ln or ",tf#" not in ln.split("]")[0]:
            continue
        rest, depth = ln.split(f"{key}: [", 1)[1], 1
        for i, ch in enumerate(rest):
            depth += {"[": 1, "]": -1}.get(ch, 0)
            if not depth:
                out.append(rest[:i])
                break
    return out


def test_search_plan_pushdown_and_pruning(spark, plan_index, tmp_path,
                                          bucket_layout_copy):
    """The query terms reach the postings scan as a pushed row-group
    filter on the (term, doc_id)-sorted files, with no bucket filter and
    no partition filter; an index whose postings sit under bucket=B/
    directories ranks the same, with the term filter still pushed."""
    from pulse_spark.index.persist import load_index

    q = spark.createDataFrame(
        [(1, "spark join merge")], "query_id long, text string"
    )
    res = search_topk(plan_index, q, k=5)
    plan = _plan(res)
    pushed = _scan_filters(plan, "PushedFilters")
    assert pushed and all(
        "In(term, [join,merg,spark])" in f and "bucket" not in f
        for f in pushed
    ), plan
    assert _scan_filters(plan, "PartitionFilters") == [""] * len(pushed)
    # the tiny sides (query terms, result map-back) broadcast — the big
    # postings table must never be the shuffled side of a join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    old = load_index(spark, bucket_layout_copy(
        plan_index, str(tmp_path / "old"), "bucket_dirs"))
    old_res = search_topk(old, q, k=5)
    assert sorted(old_res.collect()) == sorted(res.collect())
    old_plan = _plan(old_res)
    pushed = _scan_filters(old_plan, "PushedFilters")
    assert pushed and all("In(term, [join,merg,spark])" in f
                          for f in pushed), old_plan


def test_search_plan_partial_topk(spark, plan_index):
    """The two-phase top-k is SIZE-GATED (r6): above
    SLICE_TOPK_MIN_CANDIDATES possible candidates the plan must show two
    window nodes — per-(query, slice) bounded top-k BEFORE the global
    per-query window (search.go:49-74's two-phase heap shape); at small
    corpus bounds the slice phase is skipped (its exchange+sort+window
    are pure overhead there) and a single window remains."""
    from pulse_spark.query.search import (SLICE_TOPK_MIN_CANDIDATES,
                                          bounded_topk, prepare_query_scan,
                                          scored_candidates)

    q = spark.createDataFrame([(1, "spark join")], "query_id long, text string")
    # small corpus (plan_index is 500 docs): gate skips the slice phase
    small_plan = _plan(search_topk(plan_index, q, k=5))
    assert small_plan.count("Window") == 1, small_plan

    # at-scale shape: same scorer with a candidate bound above the gate
    qt, postings = prepare_query_scan(plan_index, q)
    id_col = "doc_id"
    per_doc = scored_candidates(
        postings, plan_index.terms, qt, plan_index.n_docs, plan_index.adl,
        id_col=id_col,
    )
    big_plan = _plan(bounded_topk(
        per_doc, 5, id_col, approx_candidates=SLICE_TOPK_MIN_CANDIDATES + 1
    ))
    assert big_plan.count("Window") >= 2, big_plan


def test_no_cartesian_in_datapipe_scale_paths(spark):
    """The near-dup operators' candidate generation must be equi-joins."""
    from pulse_spark.datapipe.dedup import minhash_lsh_pairs, simhash_near_dup_pairs
    from pulse_spark.datapipe.similarity import embedding_near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for df in (
        minhash_lsh_pairs(docs),
        simhash_near_dup_pairs(docs),
        embedding_near_dup_pairs(emb),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_plan_is_pinned(spark):
    """minhash_lsh_pairs over sf0.001 documents keeps its shape: ONE
    Arrow UDF eval (the band keys, computed once into the cached per-doc
    frame that every branch scans) and four exchanges — the bucket-pair
    distinct's shuffle plus three broadcasts (the self-join's build side
    and the two verify lookups)."""
    import contextlib
    import io
    import re

    from pulse_spark.datapipe.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        minhash_lsh_pairs(docs).explain("formatted")
    # the formatted plan's details list every physical node once
    nodes = re.findall(r"^\(\d+\) (\w+)", buf.getvalue(), re.MULTILINE)
    assert nodes.count("ArrowEvalPython") == 1, buf.getvalue()
    assert nodes.count("Exchange") == 1, buf.getvalue()
    assert nodes.count("BroadcastExchange") == 3, buf.getvalue()


def test_expand_and_filter_plans_are_scale_safe(spark):
    """RM3 / more-like-this / filtered search: every join hash-based (no
    cartesian/nested-loop), the doc_filter a semi-join, and RM3's
    exclude-originals anti-join broadcast (the query's own term set is
    tiny by contract — a sort-merge anti there would shuffle the
    feedback model for nothing)."""
    from pulse_spark import harness

    sf = "/root/testdata/sf0.001"
    for name in ("bm25_filtered_topk", "bm25_rm3_topk", "more_like_this"):
        plan = _plan(harness.FULLTEXT_QUERIES[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in plan, name
        if name == "bm25_filtered_topk":
            assert "LeftSemi" in plan, plan


def test_snippet_and_facet_plans_are_scale_safe(spark):
    """Snippet extraction / facet counts: hash joins only, the
    result-doc restriction a semi-join (only k·q docs ever tokenized),
    and the facet matched-set dedup a partial (two-stage) aggregate —
    the properties that keep both O(results)/O(matched) at 100 TB."""
    from pulse_spark import harness

    sf = "/root/testdata/sf0.001"
    for name in ("snippet_extract", "facet_counts"):
        plan = _plan(harness.FULLTEXT_QUERIES[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in plan, name
    snip_plan = _plan(harness.FULLTEXT_QUERIES["snippet_extract"](spark, sf))
    assert "LeftSemi" in snip_plan, snip_plan
    facet_plan = _plan(harness.FULLTEXT_QUERIES["facet_counts"](spark, sf))
    # matched-set dedup and the facet count both partial-aggregate
    assert facet_plan.count("HashAggregate") >= 4, facet_plan


def test_wildcard_plans_are_scale_safe(spark):
    """Prefix/fuzzy expansion (query/wildcard.py): the lexicon scan is a
    predicated filter (StartsWith / levenshtein expressions — never a
    join against the lexicon), the bounded expansion set reaches the
    postings scan as an In(term, ...) literal filter, and every join is
    hash-based — what keeps expansion O(lexicon scan) + O(expanded
    postings) at 100 TB."""
    from pulse_spark import harness

    sf = "/root/testdata/sf0.001"
    for name in ("bm25_prefix_topk", "bm25_fuzzy_topk", "bm25_regexp_topk"):
        plan = _plan(harness.FULLTEXT_QUERIES[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in plan, name
        # the expanded term set is pushed into the postings scan as
        # literals (term-pruned), not joined
        import re

        assert re.search(r"term#\d+ IN(SET)?\s*\(", plan), name

    from pulse_spark.query.wildcard import _expand_probes

    t = harness._terms(spark, sf)
    exp = _expand_probes(
        t, [(1, 0, "s")], lambda c, p: c.startswith(p), 4
    )
    eplan = _plan(exp)
    assert "StartsWith" in eplan, eplan
    assert "SortMergeJoin" not in eplan, eplan


def test_boolean_and_slop_plans_are_scale_safe(spark):
    """Boolean composition: ONE postings aggregation folds score +
    must-coverage + veto (no second scan or join per clause kind),
    clause table broadcast, hash joins only.  Sloppy phrase: a single
    corpus projection — zero joins, zero shuffles."""
    from pulse_spark import harness

    sf = "/root/testdata/sf0.001"
    bool_plan = _plan(harness.FULLTEXT_QUERIES["bm25_boolean_topk"](spark, sf))
    assert "CartesianProduct" not in bool_plan
    assert "BroadcastNestedLoopJoin" not in bool_plan
    assert "SortMergeJoin" not in bool_plan
    # the BIG table (the postings cache — the only scan carrying both
    # doc_id and tf) is read ONCE: a plan that re-scanned postings per
    # clause kind would show one such scan per clause.  (Column-pruned
    # [term, tf] scans are the lexicon cache's own build lineage.)
    import re

    posting_scans = re.findall(
        r"InMemoryTableScan \[[^\]]*doc_id#[^\]]*tf#", bool_plan
    )
    assert len(posting_scans) == 1, bool_plan

    # zero joins; the ONLY exchange permitted is the gated small-input
    # spread (readers.read_parquet_spread — hash by doc_id, a no-op once
    # the input scans as >= cores splits), so the at-scale plan remains
    # a single corpus projection with no shuffle
    for qname in ("phrase_slop_match", "near_match"):
        qplan = _plan(harness.FULLTEXT_QUERIES[qname](spark, sf))
        assert "Join" not in qplan, qplan
        exch = [
            ln for ln in qplan.splitlines() if "Exchange" in ln
        ]
        assert len(exch) <= 1, qplan
        assert all("hashpartitioning(doc_id" in ln for ln in exch), qplan


def test_salted_layout_splits_hot_term(spark, tmp_path):
    """A term carrying ~25% of all postings is split across the
    postings files: the build writes each doc-id range partition's
    postings as they are, so no committed file holds more than n/2.5 of
    the hot term's n postings (a layout keyed on the term's bucket would
    put all n in one task's file; at scale that task is the stage).
    Counted from the committed files themselves."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = 20_000
    hot = " ".join(["transformers"] * 5)
    tr = spark.range(n, numPartitions=8).select(
        F.col("id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.concat(
            F.lit(hot + " "),
            F.concat_ws(
                " ",
                F.concat(F.lit("tok"), (F.col("id") % 997).cast("string")),
                F.concat(F.lit("word"), (F.col("id") % 401).cast("string")),
                F.concat(F.lit("term"), (F.col("id") % 4099).cast("string")),
            ),
        ).alias("text"),
    )
    out = str(tmp_path / "skew")
    idx = build_persisted_index(
        spark, tr, out, IndexingSettings(store_text=False)
    )
    hot_term = idx.terms.orderBy(F.desc("df")).first()
    assert hot_term["df"] == n and hot_term["max_tf"] == 5
    per_file = [
        pc.sum(pc.equal(pq.read_table(f, columns=["term"])["term"],
                        hot_term["term"])).as_py() or 0
        for f in glob.glob(f"{out}/postings/*.parquet")
    ]
    assert sum(per_file) == n
    assert max(per_file) * 2.5 <= n, per_file


def test_explain_plan_is_scale_safe(spark):
    """Score explanation (query/explain.py): the winners frame (k·q
    rows) joins back BROADCAST — a sort-merge there would shuffle the
    per-term matched set by (query,doc) a second time; the per-term
    pass reads the term-pruned postings, not the corpus."""
    from pulse_spark import harness

    plan = _plan(
        harness.FULLTEXT_QUERIES["bm25_explain"](spark, "/root/testdata/sf0.001")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_suggest_plan_is_scale_safe(spark):
    """Spell suggestions (query/wildcard.py suggest_terms): ONE
    predicated lexicon scan (levenshtein expressions, never a join
    against the lexicon), tiny probe table broadcast, no cartesian —
    O(lexicon scan) at any corpus size."""
    from pulse_spark import harness

    plan = _plan(
        harness.FULLTEXT_QUERIES["spell_suggest"](spark, "/root/testdata/sf0.001")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "levenshtein" in plan
    assert "BroadcastHashJoin" in plan


def test_collapse_plan_is_scale_safe(spark):
    """Field collapsing (query/collapse.py): the collapse key is an
    expression (zero-join — a doc->group table would shuffle the
    candidate set a second time), the per-group best + final cut are
    windows over candidates only, all joins hash-based."""
    from pulse_spark import harness

    plan = _plan(
        harness.FULLTEXT_QUERIES["bm25_collapse_topk"](
            spark, "/root/testdata/sf0.001")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_synonym_plan_is_scale_safe(spark):
    """Synonym blending (query/synonym.py): group table + group-df table
    broadcast, the blend and score aggregations partial, no cartesian —
    one extra candidates-only shuffle over plain top-k."""
    from pulse_spark import harness

    plan = _plan(
        harness.FULLTEXT_QUERIES["bm25_synonym_topk"](
            spark, "/root/testdata/sf0.001")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
