"""Query expansion and query-by-document on top of the weighted scorer.

Two classic IR operators the reference does not have, added Spark-first
(SURVEY.md §2 extensions) — both reduce to building a WEIGHTED
occurrence table and re-entering `topk_from_tables` (whose optional
`weight` column multiplies each occurrence's score contribution):

- RM3-style pseudo-relevance feedback (Lavrenko & Croft 2001, the
  relevance-model variant popularized by Anserini's BM25+RM3 runs):
  run the original query, treat its top `fb_k` docs as relevant, build
  a feedback language model P(t|d) = tf/|d| averaged over the feedback
  docs, keep the `fb_terms` heaviest non-query terms, and interpolate —
  original occurrences carry alpha split evenly per occurrence,
  expansion terms share (1-alpha) proportional to their normalized
  feedback weight.

- More-like-this (Lucene's MLT model): a document IS the query — its
  `top_terms` best terms by tf·idf form a unit-weight query, and the
  source doc is excluded from results.

Scale design (the part that must survive 100 TB): both operators touch
document TEXT only for a driver-bounded handful of docs (fb_k·|q| resp.
|sources|).  The doc vectors come from re-tokenizing just those rows —
a broadcast semi-join prunes the docs scan, then the term-frequency
kernel the index build uses runs on ≤ a few dozen rows — NOT from
the inverted postings table (fetching a doc's terms from an inverted
index is a full scan; a forward index is the classical alternative, and
here the docs table IS the forward index).  Everything between the two
scoring passes is a few-hundred-row DataFrame; the second pass reuses
the pruned, broadcast-query-side plan of the first.

Determinism contract (mirrors the DuckDB oracle in harness.py):
feedback-doc selection uses the scorer's (round(score,6) desc, id asc)
order; expansion-term selection uses (round(weight,6) desc, term asc);
the rounded weight is also the weight USED, so both engines score with
bit-equal query models.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulse_spark.query.search import (bounded_topk, scored_candidates,
                                      topk_from_tables)
from pulse_spark.text.normalize import PreprocessSettings
from pulse_spark.text.udfs import term_freq_rows


def _doc_term_freqs(
    docs_text: DataFrame,
    wanted: DataFrame,
    settings: PreprocessSettings,
    id_col: str,
) -> DataFrame:
    """(term, <id_col>, tf, n_toks) for ONLY the docs in `wanted` —
    broadcast semi-join prune, then the term_freq_rows kernel over the
    survivors; n_toks (the doc's token count) is the doc's sum of tf."""
    picked = docs_text.join(
        F.broadcast(wanted.select(id_col).distinct()), id_col, "left_semi"
    )
    return term_freq_rows(picked, settings, (id_col,)).withColumn(
        "n_toks", F.sum("tf").over(Window.partitionBy(id_col))
    )


def rm3_weighted_occurrences(
    docs_text: DataFrame,
    first_pass: DataFrame,
    q_occurrences: DataFrame,
    settings: PreprocessSettings,
    id_col: str = "doc_no",
    fb_k: int = 3,
    fb_terms: int = 5,
    alpha: float = 0.6,
) -> DataFrame:
    """Build the RM3 query model.

    docs_text:     (<id_col>, text) forward table
    first_pass:    (query_id, rank, <id_col>, score) — output of
                   topk_from_tables on the ORIGINAL query (run it with
                   tie_round=6 for cross-engine determinism)
    q_occurrences: (query_id, pos, term) original occurrences
    Returns (query_id, pos, term, weight) ready for topk_from_tables.

    Weights: each original occurrence gets alpha/n_occ(query) (n_occ
    counts ALL tokenized occurrences, corpus-absent ones included — both
    engines can compute it before any df lookup); expansion term t gets
    (1-alpha) · w(t)/Σw over the selected terms, where w(t) =
    round(Σ_{d∈fb} tf(t,d)/|d|, 6).  Queries with no feedback docs
    (all terms corpus-absent) keep their original-only model.
    alpha=1.0 short-circuits to the original occurrences (weight 1/n_occ
    each — rank-identical to the unexpanded query, uniform scaling)."""
    n_occ = q_occurrences.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n_occ")
    )
    orig = q_occurrences.join(F.broadcast(n_occ), "query_id").select(
        "query_id", "pos", "term",
        (F.lit(float(alpha)) / F.col("_n_occ")).alias("weight"),
    )
    if alpha >= 1.0:
        return orig

    fb = first_pass.where(F.col("rank") < fb_k).select("query_id", id_col)
    dtf = _doc_term_freqs(docs_text, fb, settings, id_col)
    # feedback model: w(t) = Σ_d tf/|d| over each query's feedback docs,
    # rounded to the selection precision so the oracle agrees bit-exactly
    fbw = (
        fb.join(dtf, id_col)
        .groupBy("query_id", "term")
        .agg(F.round(F.sum(F.col("tf") / F.col("n_toks")), 6).alias("w"))
        .join(
            # expansion terms only — originals carry alpha; the query's
            # own term set is tiny by contract, broadcast the anti side
            F.broadcast(q_occurrences.select("query_id", "term").distinct()),
            ["query_id", "term"],
            "left_anti",
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("w"), F.asc("term")
    )
    picked = (
        fbw.withColumn("_r", F.row_number().over(w_rank))
        .where(F.col("_r") <= fb_terms)
    )
    w_sum = Window.partitionBy("query_id")
    exp = picked.select(
        "query_id",
        # synthetic positions after the original query's tokens
        (F.lit(1_000_000) + F.col("_r")).alias("pos"),
        "term",
        (F.lit(1.0 - float(alpha)) * F.col("w") / F.sum("w").over(w_sum)).alias(
            "weight"
        ),
    )
    return orig.unionByName(exp)


def rm3_topk(
    postings: DataFrame,
    terms: DataFrame,
    q_occurrences: DataFrame,
    docs_text: DataFrame,
    n_docs: int,
    adl: float,
    settings: PreprocessSettings,
    k: int = 10,
    fb_k: int = 3,
    fb_terms: int = 5,
    alpha: float = 0.6,
    metric: str = "BM25",
    id_col: str = "doc_no",
    tie_round: int | None = None,
) -> DataFrame:
    """Two-pass RM3 retrieval over raw index tables: original-query
    top-fb_k → feedback model → weighted re-retrieval.  The first pass
    always ranks on round(score,6) ties (feedback-doc SELECTION must be
    cross-engine deterministic even when the final ranking is not
    rounded)."""
    first = topk_from_tables(
        postings, terms, q_occurrences, n_docs, adl,
        k=fb_k, metric=metric, id_col=id_col, tie_round=6,
    )
    wq = rm3_weighted_occurrences(
        docs_text, first, q_occurrences, settings,
        id_col=id_col, fb_k=fb_k, fb_terms=fb_terms, alpha=alpha,
    )
    return topk_from_tables(
        postings, terms, wq, n_docs, adl,
        k=k, metric=metric, id_col=id_col, tie_round=tie_round,
    )


def more_like_this_occurrences(
    docs_text: DataFrame,
    sources: DataFrame,
    terms: DataFrame,
    n_docs: int,
    settings: PreprocessSettings,
    id_col: str = "doc_no",
    top_terms: int = 5,
) -> DataFrame:
    """Query-by-document: each source doc becomes a query of its
    `top_terms` best terms by round(tf·ln(N/df), 6) (ties: term asc),
    weight 1 per term (Lucene MLT's boost-free default).

    sources: DataFrame with <id_col> (the docs to find neighbors for).
    Returns (query_id=<source id>, pos, term, weight=1.0)."""
    dtf = _doc_term_freqs(docs_text, sources, settings, id_col)
    scored = dtf.join(terms.select("term", "df"), "term").select(
        F.col(id_col).alias("query_id"),
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("w"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("w"), F.asc("term"))
    return (
        scored.withColumn("_r", F.row_number().over(w_rank))
        .where(F.col("_r") <= top_terms)
        .select(
            "query_id",
            (F.col("_r") - 1).alias("pos"),
            "term",
            F.lit(1.0).alias("weight"),
        )
    )


def more_like_this_topk(
    postings: DataFrame,
    terms: DataFrame,
    docs_text: DataFrame,
    sources: DataFrame,
    n_docs: int,
    adl: float,
    settings: PreprocessSettings,
    k: int = 10,
    top_terms: int = 5,
    metric: str = "BM25",
    id_col: str = "doc_no",
    tie_round: int | None = None,
) -> DataFrame:
    """Find the k docs most similar to each source doc (excluded from
    its own results)."""
    occ = more_like_this_occurrences(
        docs_text, sources, terms, n_docs, settings,
        id_col=id_col, top_terms=top_terms,
    )
    per_doc = scored_candidates(
        postings, terms, occ, n_docs, adl, metric=metric, id_col=id_col,
    ).where(F.col("query_id") != F.col(id_col))
    return bounded_topk(
        per_doc, k, id_col, tie_round, approx_candidates=n_docs
    )
