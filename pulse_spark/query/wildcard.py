"""Prefix (wildcard) and fuzzy term-expansion queries (Spark-first
extension; the Lucene PrefixQuery / FuzzyQuery family the reference
engine doesn't offer).

Both rewrite a probe into the set of matching lexicon terms, keep the
`max_expansions` most frequent (Lucene's top-terms rewrite: highest-df
expansions carry the candidates; ties term-asc for determinism), then
score the expanded term set through the standard BM25/TFIDF pipeline —
per probe OCCURRENCE, consistent with the engine's duplicate-token
semantics.

Scale shape:
  - expansion is ONE predicated scan of the lexicon (a `term` table of
    ~10^8 rows at 10^12 turns, trivially partition-parallel): prefix
    probes compile to StartsWith predicates that push down to the
    term-sorted lexicon files; fuzzy probes are evaluated as JVM
    `levenshtein` expressions in the same scan (Lucene walks an FST
    automaton over the same lexicon — relationally that is exactly a
    predicated scan).  No join touches the lexicon: matched probes are
    attached by a projected CASE/explode, then a broadcast equi-join of
    the tiny probe set.
  - the surviving expansion set is bounded (probes x max_expansions),
    collected driver-side like search_topk's query terms, and pushed
    into the postings scan as term literals — only the expanded
    terms' posting lists are ever read.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pulse_spark.sources.readers import local_table

from pulse_spark.query.search import topk_from_tables


def _probe_candidates(
    terms: DataFrame,
    probe_strs: list[str],
    match: "callable[[Column, str], Column]",
    payload: "callable[[Column, str], Column] | None" = None,
) -> DataFrame:
    """ONE predicated lexicon scan shared by prefix/fuzzy expansion and
    spell suggestion: terms matching ANY probe, with the matched probes
    attached by a projected CASE/explode (never a join against the
    lexicon).  Returns (term, df, probe[, payload]) — payload, when
    given, is a per-(term, probe) expression (e.g. the edit distance)."""
    cand = terms.select("term", "df").where(
        reduce(or_, [match(F.col("term"), p) for p in probe_strs])
    )

    def fields(p: str):
        out = [F.lit(p).alias("probe")]
        if payload is not None:
            out.append(payload(F.col("term"), p).alias("payload"))
        return out

    matched = F.array_compact(F.array(*[
        F.when(match(F.col("term"), p), F.struct(*fields(p)))
        for p in probe_strs
    ]))
    exploded = cand.select("term", "df", F.explode(matched).alias("m"))
    cols = ["term", "df", "m.probe"] + (["m.payload"] if payload else [])
    return exploded.select(*cols)


def _expand_probes(
    terms: DataFrame,
    probes: list[tuple[int, int, str]],
    match: "callable[[Column, str], Column]",
    max_expansions: int,
) -> DataFrame:
    """(query_id, pos, term): lexicon terms matching each probe, top
    max_expansions per (query_id, pos) by (df desc, term asc)."""
    spark = terms.sparkSession
    per_probe = _probe_candidates(terms, sorted({p for _, _, p in probes}), match)
    occ = local_table(spark, probes, "query_id long, pos int, probe string")
    w = Window.partitionBy("query_id", "pos").orderBy(
        F.desc("df"), F.asc("term")
    )
    return (
        per_probe.join(F.broadcast(occ), "probe")
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= max_expansions)
        .select("query_id", "pos", "term")
    )


def _expanded_topk(
    postings: DataFrame,
    terms: DataFrame,
    expanded: DataFrame,
    n_docs: int,
    adl: float,
    k: int,
    metric: str,
    id_col: str,
    tie_round: int | None,
) -> DataFrame:
    spark = postings.sparkSession
    rows = expanded.collect()  # bounded: probes x max_expansions
    if not rows:
        return spark.createDataFrame(
            [], f"query_id long, rank int, {id_col} "
                f"{'string' if id_col == 'doc_no' else 'long'}, score double"
        )
    occ = local_table(
        spark, [(r["query_id"], r["pos"], r["term"]) for r in rows],
        "query_id long, pos int, term string")
    exp_terms = sorted({r["term"] for r in rows})
    postings = postings.where(F.col("term").isin(exp_terms))
    return topk_from_tables(
        postings, terms, occ, n_docs, adl, k=k, metric=metric,
        id_col=id_col, tie_round=tie_round,
    )


def prefix_topk(
    postings: DataFrame,
    terms: DataFrame,
    q_prefixes: DataFrame,
    n_docs: int,
    adl: float,
    k: int = 10,
    metric: str = "BM25",
    max_expansions: int = 50,
    id_col: str = "doc_no",
    tie_round: int | None = None,
) -> DataFrame:
    """Top-k over prefix probes (Lucene PrefixQuery, top-terms rewrite).

    q_prefixes: (query_id, pos, prefix) — one row per probe OCCURRENCE;
    collected driver-side (a query set is tiny by contract).  Probes
    matching nothing drop out; a query whose probes all miss returns no
    rows.  Returns (query_id, rank, <id_col>, score).
    """
    probes = [
        (r["query_id"], r["pos"], r["prefix"]) for r in q_prefixes.collect()
    ]
    if not probes:
        return _expanded_topk(
            postings, terms,
            postings.sparkSession.createDataFrame(
                [], "query_id long, pos int, term string"),
            n_docs, adl, k, metric, id_col, tie_round)
    expanded = _expand_probes(
        terms, probes, lambda t, p: t.startswith(p), max_expansions
    )
    return _expanded_topk(
        postings, terms, expanded, n_docs, adl, k, metric, id_col, tie_round
    )


def fuzzy_topk(
    postings: DataFrame,
    terms: DataFrame,
    q_tokens: DataFrame,
    n_docs: int,
    adl: float,
    k: int = 10,
    metric: str = "BM25",
    max_edits: int = 1,
    max_expansions: int = 50,
    id_col: str = "doc_no",
    tie_round: int | None = None,
) -> DataFrame:
    """Top-k over typo-tolerant probes (Lucene FuzzyQuery): lexicon
    terms within `max_edits` Levenshtein distance of each probe.

    q_tokens: (query_id, pos, token).  Exact matches are included
    (distance 0).  Returns (query_id, rank, <id_col>, score).
    """
    probes = [
        (r["query_id"], r["pos"], r["token"]) for r in q_tokens.collect()
    ]
    if not probes:
        return _expanded_topk(
            postings, terms,
            postings.sparkSession.createDataFrame(
                [], "query_id long, pos int, term string"),
            n_docs, adl, k, metric, id_col, tie_round)
    expanded = _expand_probes(
        terms, probes,
        lambda t, p: F.levenshtein(t, F.lit(p)) <= max_edits,
        max_expansions,
    )
    return _expanded_topk(
        postings, terms, expanded, n_docs, adl, k, metric, id_col, tie_round
    )


def regexp_topk(
    postings: DataFrame,
    terms: DataFrame,
    q_patterns: DataFrame,
    n_docs: int,
    adl: float,
    k: int = 10,
    metric: str = "BM25",
    max_expansions: int = 50,
    id_col: str = "doc_no",
    tie_round: int | None = None,
) -> DataFrame:
    """Top-k over regexp probes (Lucene RegexpQuery, top-terms rewrite):
    lexicon terms whose ENTIRE text matches the pattern (Lucene anchors
    regexps; `s.*k` matches `spark`, not `asks`).  Same predicated-scan
    expansion as prefix/fuzzy — Lucene walks the pattern's automaton
    over its FST term dict; relationally that is one rlike-predicated
    lexicon scan.  Patterns should stay in the portable regex subset
    (classes, alternation, ., *, +) — they are evaluated by the JVM
    here and by the oracle's RE2.

    q_patterns: (query_id, pos, pattern).  Returns
    (query_id, rank, <id_col>, score)."""
    probes = [
        (r["query_id"], r["pos"], r["pattern"]) for r in q_patterns.collect()
    ]
    if not probes:
        return _expanded_topk(
            postings, terms,
            postings.sparkSession.createDataFrame(
                [], "query_id long, pos int, term string"),
            n_docs, adl, k, metric, id_col, tie_round)
    expanded = _expand_probes(
        terms, probes,
        lambda t, p: t.rlike(f"^(?:{p})$"),
        max_expansions,
    )
    return _expanded_topk(
        postings, terms, expanded, n_docs, adl, k, metric, id_col, tie_round
    )


def suggest_terms(
    terms: DataFrame,
    q_tokens: DataFrame,
    max_edits: int = 2,
    n_suggestions: int = 3,
) -> DataFrame:
    """Did-you-mean spell suggestions (Lucene DirectSpellChecker's
    SUGGEST_WHEN_NOT_IN_INDEX mode): for each query token occurrence
    ABSENT from the lexicon, the `n_suggestions` closest lexicon terms
    ranked (edit distance asc, df desc, term asc).  Tokens present in
    the lexicon (a distance-0 candidate exists) yield no rows — they
    are not misspellings.

    q_tokens: (query_id, pos, token), collected driver-side (a query
    set is tiny by contract).  Returns (query_id, pos, token,
    suggestion, distance, df, srank), srank 1-based.

    Scale shape: like fuzzy_topk, ONE predicated lexicon scan evaluates
    every probe's `levenshtein` JVM-side; no join ever touches the
    lexicon (the tiny probe table is broadcast onto the surviving
    candidates), and the in-lexicon veto is a per-occurrence window min
    over those candidates — never a second scan.
    """
    spark = terms.sparkSession
    out_schema = (
        "query_id long, pos int, token string, suggestion string,"
        " distance int, df long, srank int"
    )
    probes = [(r["query_id"], r["pos"], r["token"]) for r in q_tokens.collect()]
    if not probes:
        return spark.createDataFrame([], out_schema)
    per_probe = _probe_candidates(
        terms, sorted({p for _, _, p in probes}),
        lambda t, p: F.levenshtein(t, F.lit(p)) <= max_edits,
        payload=lambda t, p: F.levenshtein(t, F.lit(p)).cast("int"),
    ).withColumnsRenamed({"probe": "token", "payload": "distance"})
    occ = local_table(spark, probes, "query_id long, pos int, token string")
    per_occ = per_probe.join(F.broadcast(occ), "token")
    w = Window.partitionBy("query_id", "pos")
    ranked = (
        per_occ.withColumn("_min_d", F.min("distance").over(w))
        .where(F.col("_min_d") > 0)
        .withColumn(
            "srank",
            F.row_number().over(
                w.orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            ),
        )
        .where(F.col("srank") <= n_suggestions)
    )
    return ranked.select(
        "query_id", "pos", "token", F.col("term").alias("suggestion"),
        "distance", "df", "srank",
    )
