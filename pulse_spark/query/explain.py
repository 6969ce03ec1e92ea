"""Per-term score explanation for top-k results (Lucene's `explain`).

For every (query, winning doc) pair of a top-k run, emit one row per
matched query term carrying the term's full scoring evidence: tf, df,
idf, the number of query-token occurrences of the term (duplicate query
tokens score per occurrence — search.go:30-46 semantics), and the
term's summed score contribution.  The invariant `sum(term_score) over
a doc == that doc's total score` is what makes this a debugging tool
rather than a reimplementation; tests pin it.

Scale shape (100 TB):
  - The winners frame is at most k·|queries| rows → broadcast; the
    per-term pass touches only term-pruned postings (same pushdown as
    topk_from_tables), never the full index.
  - One groupBy(query, doc, term) over the matched rows — partial
    aggregation applies; the join to winners then discards everything
    but the k·q winning docs before any further work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulse_spark.query.search import (
    match_postings,
    prepare_query_scan,
    topk_from_tables,
    with_doc_no,
)

_OUT_COLS = (
    "query_id", "rank", "doc_no", "score", "term", "tf", "df",
    "occurrences", "idf", "term_score",
)


def explain_topk(
    postings: DataFrame,
    terms: DataFrame,
    q_occurrences: DataFrame,
    n_docs: int,
    adl: float,
    k: int = 10,
    metric: str = "BM25",
    id_col: str = "doc_no",
    tie_round: int | None = None,
    deletes: DataFrame | None = None,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Top-k search + per-term score breakdown for the winners.

    Returns one row per (query_id, winning doc, matched term):
      (query_id, rank, <id_col>, score, term, tf, df, occurrences,
       idf, term_score)
    where `score` is the doc's total (identical to topk_from_tables'
    output) and `term_score` is this term's contribution summed over
    its query-token occurrences: sum(term_score) == score per doc.
    """
    winners = topk_from_tables(
        postings, terms, q_occurrences, n_docs, adl, k=k, metric=metric,
        id_col=id_col, tie_round=tie_round, deletes=deletes,
        doc_filter=doc_filter,
    )
    _, matched = match_postings(
        postings, terms, q_occurrences, n_docs, adl, metric
    )
    per_term = matched.groupBy("query_id", id_col, "term").agg(
        F.max("tf").alias("tf"),
        F.max("df").alias("df"),
        F.count("*").alias("occurrences"),
        F.sum("part_score").alias("term_score"),
    )
    idf = F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        per_term.join(F.broadcast(winners), ["query_id", id_col])
        .withColumn("idf", idf)
        .select(
            "query_id", "rank", id_col, "score", "term", "tf", "df",
            "occurrences", "idf", "term_score",
        )
    )


def explain_search(index, queries: DataFrame, k: int = 10,
                   metric: str = "BM25",
                   max_driver_queries: int = 10_000) -> DataFrame:
    """Index-level explain: the shared prepare_query_scan front half
    (driver-side tokenize with distributed fallback, term scan
    pruning — identical to search_topk), then the per-term breakdown
    instead of the bare ranked list, mapped back to doc_no.

    queries: (query_id, text).  Returns one row per (query, winning
    doc, matched term): (query_id, rank, doc_no, score, term, tf, df,
    occurrences, idf, term_score)."""
    spark = queries.sparkSession
    from pulse_spark.index.deletes import load_deletes

    qt, postings = prepare_query_scan(
        index, queries, max_driver_queries=max_driver_queries
    )
    if qt is None:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_no string, score double,"
                " term string, tf long, df long, occurrences long,"
                " idf double, term_score double"
        )
    res = explain_topk(
        postings, index.terms, qt, index.n_docs, index.adl, k=k,
        metric=metric, id_col="doc_id",
        deletes=load_deletes(spark, index.out_dir),
    )
    return with_doc_no(index, res, _OUT_COLS)
