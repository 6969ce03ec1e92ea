"""Facet counts over a query's matched set (Spark-first extension).

The reference engine returns ranked lists only; a production search UI
additionally wants, per query, the distribution of the MATCHED documents
over metadata fields ("faceted search" / Elasticsearch terms
aggregations: 42 results, en:30 de:12, web:25 chat:17).  Relationally
this is a term-pruned semi-join followed by a low-cardinality count —
exactly the shape that scales:

  - only the query terms' posting lists are ever read (the same
    term pushdown search_topk uses when given a pruned postings
    scan), never the full postings table;
  - the matched (query_id, doc) set is deduplicated with a partial
    aggregate before touching metadata;
  - the facet aggregation groups on (query_id, facet, value) — a few
    hundred groups regardless of corpus size, so the final shuffle is
    bytes, not terabytes.

Matched = disjunctive match (any corpus-present query term), the
candidate set of search.go:119-159's DAAT merge before ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def facet_counts(
    postings: DataFrame,
    q_occurrences: DataFrame,
    docs_meta: DataFrame,
    facet_cols: list[str],
    id_col: str = "doc_no",
) -> DataFrame:
    """Per-query facet histograms of the matched document set.

    postings:      (term, <id_col>, ...) — pass a term-pruned scan for
                   point queries (search.py prepare_query_scan) so only
                   the query terms' lists are read.
    q_occurrences: (query_id, ..., term) — duplicate terms are harmless
                   (matched docs are deduplicated); absent terms drop
                   out in the postings join.
    docs_meta:     (<id_col>, <facet_cols...>).
    facet_cols:    metadata columns to histogram, e.g. ["lang",
                   "source"].  NULL facet values count under value NULL.

    Returns (query_id, facet, value, n_docs): one row per query x facet
    column x observed value, n_docs = distinct matched docs carrying it.
    """
    if not facet_cols:
        raise ValueError("facet_cols must name at least one column")
    qt = q_occurrences.select("query_id", "term").distinct()
    matched = (
        postings.select("term", id_col)
        .join(F.broadcast(qt), "term")
        .select("query_id", id_col)
        .distinct()  # partial-aggregated: a doc matching 3 terms ships once
    )
    pairs = F.array(*[
        F.struct(F.lit(c).alias("facet"), F.col(c).cast("string").alias("value"))
        for c in facet_cols
    ])
    return (
        matched.join(docs_meta.select(id_col, *facet_cols), id_col)
        .select("query_id", F.explode(pairs).alias("fv"))
        .groupBy("query_id", F.col("fv.facet").alias("facet"),
                 F.col("fv.value").alias("value"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
