"""Top-k BM25/TFIDF search as a DataFrame plan.

The reference's DAAT k-way posting merge (search.go:119-159) is a
docID-aligned merge — relationally, exactly `GROUP BY doc` over the
exploded postings of the query terms.  Its per-partition bounded heap +
global heap merge (search.go:49-74) is Spark's partial top-k; here it is a
two-phase bounded top-k (per-partition prune, then a global window over
the survivors); the MaxScore/block-max path in index/segments.py does
real per-partition pruning inside applyInPandas.

Scale notes (the part that must survive 100 TB):
  - Query terms are collected driver-side (a query set is tiny by
    definition) and pushed into the postings scan as a `term IN (...)`
    literal → parquet row-group min/max pruning on the (term,
    doc_id)-sorted files. Only matching posting lists are ever read —
    the same "pushdown by construction" the reference gets from its
    lexicon seek (search.go:89-117).
  - The per-occurrence query-term table is broadcast; the big side never
    shuffles before aggregation.
  - groupBy(query_id, doc_id) uses partial aggregation; the final top-k
    window sees only the per-query survivor sets; doc_no is joined back
    over the k·q winners only (with_doc_no).

Semantics pinned to the reference:
  - duplicate query tokens score once PER OCCURRENCE (search.go:30-46
    never dedups) — posexplode keeps multiplicity;
  - terms absent from the corpus are silently dropped, and conjunctive
    mode then requires all REMAINING distinct terms (search.go:113-116,
    138-141);
  - BM25 k1=1.3 b=0.5, natural log, global df, doc_len in bytes
    (metric.go:18-19, search.go:174-187);
  - tie-break (score desc, doc_id asc) on a committed index, i.e.
    (conv_id, turn_idx) order — the reference's heap order is
    unspecified; tests compare equal-score groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pulse_spark.config import BM25_B, BM25_K1
from pulse_spark.index.persist import Index
from pulse_spark.text.udfs import make_tokenizer_udf


def score_expr(metric: str, n_docs: int, adl: float) -> Column:
    """Per-(posting-row, query-token-occurrence) score contribution."""
    idf = F.log(F.lit(float(n_docs)) / F.col("df"))
    tf = F.col("tf").cast("double")
    if metric.upper() == "BM25":
        denom = BM25_K1 * ((1 - BM25_B) + BM25_B * (F.col("doc_len") / F.lit(adl))) + tf
        return tf / denom * idf
    if metric.upper() == "TFIDF":
        return (1 + F.log(tf)) * idf
    raise ValueError(f"{metric} is not a valid metric")


def order_key(tie_round: int | None):
    """The ranking sort key: round(score, tie_round) when set — the
    cross-engine determinism contract (ulps absorbed before tie-break) —
    else the raw score.  Single definition; every ranking path (top-k,
    collapse winners, hit max_score) must order by THIS."""
    return (
        F.round("score", tie_round) if tie_round is not None else F.col("score")
    )


def tokenize_queries(queries: DataFrame, index: Index) -> DataFrame:
    """(query_id, pos, term): one row per token OCCURRENCE, preprocessed
    with the settings persisted in the index (engine.go:38-43 coupling)."""
    tok = make_tokenizer_udf(index.settings.preprocess)
    return queries.select(
        "query_id", F.posexplode(tok(F.col("text"))).alias("pos", "term")
    )


def topk_from_tables(
    postings: DataFrame,
    terms: DataFrame,
    q_occurrences: DataFrame,
    n_docs: int,
    adl: float,
    k: int = 10,
    metric: str = "BM25",
    conjunctive: bool = False,
    id_col: str = "doc_no",
    tie_round: int | None = None,
    deletes: DataFrame | None = None,
    doc_filter: DataFrame | None = None,
    offset: int = 0,
    df_attached: bool = False,
) -> DataFrame:
    """Core scorer over raw index tables.

    postings:      (term, <id_col>, tf, doc_len, ...)
    terms:         (term, df, ...)
    q_occurrences: (query_id, pos, term) — one row per token OCCURRENCE.
                   May carry an optional `weight` double column: each
                   occurrence's score contribution is multiplied by it
                   (weighted-query retrieval — RM3 expansion, BM25F-style
                   field boosts, more-like-this all reduce to this).
                   Absent column = weight 1.0 per occurrence (the
                   reference's per-occurrence semantics, search.go:30-46).
    deletes:       optional tombstones carrying <id_col> (index/deletes.py
                   live-docs semantics: excluded from results, stats
                   untouched) — anti-joined BEFORE top-k selection, so a
                   page of deleted docs can never under-fill k
    doc_filter:    optional DataFrame carrying <id_col>: restrict the
                   CANDIDATE set to these docs (metadata-filtered search,
                   e.g. lang='en' or one conversation).  Global statistics
                   (df, idf, adl, N) are NOT re-derived over the filtered
                   subset — standard filtered-retrieval semantics (scores
                   comparable across filters; Lucene's filter-query model).
                   Semi-joined on the term-pruned matched rows, so the
                   filter never touches unmatched postings; Spark/AQE
                   broadcasts it when small (the common single-conv case).
    Returns (query_id, rank, <id_col>, score), rank 0-based.

    tie_round: if set, ranking orders by round(score, tie_round) so that
    mathematically-equal scores (which can differ by summation-order ulps
    across engines) tie-break deterministically on id_col — used by the
    cross-engine oracle harness.

    df_attached: see scored_candidates.
    """
    per_doc = scored_candidates(
        postings, terms, q_occurrences, n_docs, adl, metric=metric,
        conjunctive=conjunctive, id_col=id_col, deletes=deletes,
        doc_filter=doc_filter, df_attached=df_attached,
    )
    return bounded_topk(
        per_doc, k, id_col, tie_round, offset=offset,
        approx_candidates=n_docs,
    )


def scored_candidates(
    postings: DataFrame,
    terms: DataFrame,
    q_occurrences: DataFrame,
    n_docs: int,
    adl: float,
    metric: str = "BM25",
    conjunctive: bool = False,
    id_col: str = "doc_no",
    deletes: DataFrame | None = None,
    doc_filter: DataFrame | None = None,
    df_attached: bool = False,
) -> DataFrame:
    """The scoring stage of topk_from_tables without the top-k cut:
    every candidate doc's total score as (query_id, <id_col>, score)
    — one row per (query, matching doc).  Shared by top-k, collapse,
    and anything else that ranks the candidate set differently.

    df_attached: q_occurrences already carries each term's corpus `df`
    (a bounded driver-side lookup, e.g. harness._occ_with_df) with the
    corpus-absent terms dropped, so the global-term join and its
    broadcast-build job are skipped.  Otherwise the df comes from
    `terms`, and a `df` column the occurrences happen to carry is
    ignored."""
    if metric.upper() not in ("BM25", "TFIDF"):
        raise ValueError(f"{metric} is not a valid metric")  # metric.go:30-37
    qt, matched = match_postings(
        postings, terms, q_occurrences, n_docs, adl, metric, df_attached
    )
    if doc_filter is not None:
        matched = matched.join(
            doc_filter.select(id_col), id_col, "left_semi"
        )

    per_doc = matched.groupBy("query_id", id_col).agg(
        F.sum("part_score").alias("score"),
        F.count_distinct("term").alias("_hit_terms"),
    )

    if conjunctive:
        n_terms = qt.groupBy("query_id").agg(
            F.count_distinct("term").alias("_n_terms")
        )
        per_doc = per_doc.join(F.broadcast(n_terms), "query_id").where(
            F.col("_hit_terms") == F.col("_n_terms")
        )
    if deletes is not None:
        per_doc = per_doc.join(
            deletes.select(id_col).distinct(), id_col, "left_anti"
        )
    return per_doc.select("query_id", id_col, "score")


def match_postings(
    postings: DataFrame,
    terms: DataFrame,
    q_occurrences: DataFrame,
    n_docs: int,
    adl: float,
    metric: str,
    df_attached: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The scorer's match step, shared with explain: (qt, matched) — the
    occurrences with their term's df (absent terms dropped, search.go:29-46)
    and one row per (posting, occurrence) with its `part_score` (times
    `weight` when present).  df_attached: see scored_candidates."""
    if df_attached:
        qt = q_occurrences
    else:
        qt = q_occurrences.drop("df").join(terms.select("term", "df"), "term")
    part = score_expr(metric, n_docs, adl)
    if "weight" in q_occurrences.columns:
        part = part * F.col("weight")
    return qt, postings.join(F.broadcast(qt), "term").withColumn(
        "part_score", part
    )


def hit_stats(
    postings: DataFrame,
    terms: DataFrame,
    q_occurrences: DataFrame,
    n_docs: int,
    adl: float,
    metric: str = "BM25",
    conjunctive: bool = False,
    id_col: str = "doc_no",
    tie_round: int | None = None,
    deletes: DataFrame | None = None,
    doc_filter: DataFrame | None = None,
    df_attached: bool = False,
) -> DataFrame:
    """Total-hits response header (Lucene TotalHitCountCollector / ES
    `hits.total` + `max_score`): per query the exact candidate count and
    the best score, WITHOUT materializing a ranked list.  One partial
    aggregation over the scored candidates — queries matching nothing
    produce no row (there is no count to report).

    df_attached: see scored_candidates.

    Returns (query_id, n_hits, max_score)."""
    per_doc = scored_candidates(
        postings, terms, q_occurrences, n_docs, adl, metric=metric,
        conjunctive=conjunctive, id_col=id_col, deletes=deletes,
        doc_filter=doc_filter, df_attached=df_attached,
    )
    score = order_key(tie_round)
    return per_doc.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.max(score).alias("max_score"),
    )


# below this many candidate rows per query the phase-1 slice prune is
# pure overhead (an extra exchange + sort + window whose only job is to
# bound a window partition that is already tiny)
SLICE_TOPK_MIN_CANDIDATES = 1_000_000


def bounded_topk(
    per_doc: DataFrame, k: int, id_col: str, tie_round: int | None = None,
    offset: int = 0, approx_candidates: int | None = None,
) -> DataFrame:
    """Two-phase top-k (search.go:49-74's per-partition bounded heap +
    global merge, relationally) over a (query_id, <id_col>, score) frame
    in which each (query, doc) appears exactly once: phase 1 keeps ≤
    offset+k rows per (query, source partition slice), so the global
    window never sees a hot query's full candidate set in ONE task — at
    100 TB a single window partition over millions of matching docs is
    the scale-killer.  The global top-k is a subset of the union of
    slice top-ks (correctness unchanged).  Returns (query_id, rank,
    <id_col>, score), rank 0-based, ties broken on id_col asc (over
    round(score, tie_round) when set — the cross-engine determinism
    contract).

    offset: pagination (ES `from`): skip the first `offset` ranks and
    return ranks [offset, offset+k) with their ABSOLUTE rank numbers —
    page 2 of a deterministic ranking is the tail of page-1's order, so
    deep paging costs O(offset+k) per slice, the classic deep-paging
    caveat, kept explicit rather than hidden.

    approx_candidates: optional UPPER BOUND on any query's candidate
    count (callers pass the corpus doc count — a query can never match
    more docs than exist).  When it is provably small the slice phase is
    skipped: the global window alone handles it in one tiny task, and
    the pre-prune's exchange + sort + window are measured constant
    overhead (r6, sf0.1: ~2 jobs per top-k query).  At scale — or when
    no bound is known — the two-phase shape is kept; the result set is
    identical either way (the global top-k is a subset of the slice
    top-ks)."""
    key = order_key(tie_round)
    if (
        approx_candidates is not None
        and approx_candidates <= SLICE_TOPK_MIN_CANDIDATES
    ):
        w1 = Window.partitionBy("query_id").orderBy(F.desc(key), F.asc(id_col))
        return (
            per_doc.withColumn("rank", F.row_number().over(w1) - 1)
            .where((F.col("rank") < offset + k) & (F.col("rank") >= offset))
            .select("query_id", "rank", id_col, "score")
        )
    sliced = per_doc.withColumn("_slice", F.spark_partition_id())
    w_local = Window.partitionBy("query_id", "_slice").orderBy(
        F.desc(key), F.asc(id_col)
    )
    pre = (
        sliced.withColumn("_lr", F.row_number().over(w_local))
        .where(F.col("_lr") <= offset + k)
        .drop("_lr", "_slice")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(key), F.asc(id_col))
    return (
        pre.withColumn("rank", F.row_number().over(w) - 1)
        .where((F.col("rank") < offset + k) & (F.col("rank") >= offset))
        .select("query_id", "rank", id_col, "score")
    )


def with_doc_no(
    index: Index, results: DataFrame,
    cols: tuple[str, ...] = ("query_id", "rank", "doc_no", "score"),
) -> DataFrame:
    """Map the k·q winners' doc_id back to doc_no (inverseindex.Document's
    O(1) id lookup, document.go:47-61): broadcast of the tiny result
    side, the docs table never shuffles.  Returns `cols`."""
    return (
        index.docs.select("doc_id", "doc_no")
        .join(F.broadcast(results), "doc_id")
        .select(*cols)
    )


def with_doc_metadata(index: Index, results: DataFrame) -> DataFrame:
    """Q11 (doc metadata fetch, inverseindex/document.go:47-61): join the
    k·q winning doc_nos back to the docs table — broadcast of the tiny
    result side, the big table never shuffles."""
    return index.docs.select("doc_no", "conv_id", "turn_idx", "doc_len").join(
        F.broadcast(results), "doc_no"
    )


def prepare_query_scan(
    index: Index,
    queries: DataFrame,
    max_driver_queries: int = 10_000,
):
    """Shared front half of every index-level query path (search_topk,
    explain_search): driver-side tokenization with the index's persisted
    settings (distributed pandas-UDF fallback past max_driver_queries)
    and term literal pruning of the postings scan.

    Returns (qt, postings); qt is None when the query set tokenizes to
    nothing (callers return their empty frame).  qt is the (query_id,
    pos, term) occurrence table; postings is index.postings pruned to
    the query terms, keyed on doc_id (the caller maps the k·q winners
    back to doc_no with with_doc_no).
    """
    spark = queries.sparkSession
    head = queries.limit(max_driver_queries + 1).collect()
    if len(head) > max_driver_queries:
        qt = tokenize_queries(queries, index)  # distributed fallback
        q_terms = [r["term"] for r in qt.select("term").distinct().collect()]
    else:
        from pulse_spark.text.normalize import tokens as py_tokens

        occ = []
        for r in head:
            if r["text"] is None:  # mirror the UDF's None -> [] mapping
                continue
            for pos, t in enumerate(py_tokens(r["text"], index.settings.preprocess)):
                occ.append((r["query_id"], pos, t))
        if not occ:
            return None, None
        from pulse_spark.sources.readers import local_table

        qt = local_table(spark, occ, "query_id long, pos int, term string")
        q_terms = sorted({t for _, _, t in occ})

    if not q_terms:
        return None, None
    return qt, index.postings.where(F.col("term").isin(q_terms))


def search_topk(
    index: Index,
    queries: DataFrame,
    k: int = 10,
    metric: str = "BM25",
    conjunctive: bool = False,
    max_driver_queries: int = 10_000,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Returns (query_id, rank, doc_no, score); rank 0-based like the
    reference's TREC output (cmd/search.go:92-95).

    doc_filter: optional DataFrame with a doc_no column — restrict
    results to these docs (e.g. index.docs.where(conv-predicate)
    .select("doc_no")); global df/adl statistics stay corpus-wide (see
    topk_from_tables).  The filter is translated to the postings' doc_ids
    by one semi-join against the docs table before scoring.

    Latency plan: a query set is small by contract (the reference loads
    its whole TSV in memory, query.go:19-51), so queries are tokenized
    DRIVER-side with the exact same Python pipeline the index-build UDF
    runs — this keeps the per-query Spark job count at 1 scoring job
    plus at most 1 tiny one (collecting the query set), instead of a
    pandas-UDF job + two collect jobs + the scoring job (~4x lower
    point-query latency).  Query sets larger than max_driver_queries fall
    back to the distributed tokenizer path.
    """
    if metric.upper() not in ("BM25", "TFIDF"):
        raise ValueError(f"{metric} is not a valid metric")  # metric.go:30-37
    spark = queries.sparkSession

    qt, postings = prepare_query_scan(
        index, queries, max_driver_queries=max_driver_queries
    )
    if qt is None:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_no string, score double"
        )
    from pulse_spark.index.deletes import load_deletes

    dels = load_deletes(spark, index.out_dir)
    if doc_filter is not None:
        doc_filter = index.docs.join(
            doc_filter.select("doc_no"), "doc_no", "left_semi"
        ).select("doc_id")
    res = topk_from_tables(
        postings, index.terms, qt, index.n_docs, index.adl,
        k=k, metric=metric, conjunctive=conjunctive, id_col="doc_id",
        deletes=dels, doc_filter=doc_filter,
    )
    return with_doc_no(index, res)
