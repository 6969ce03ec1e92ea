"""Driver-harness operators: every implemented operator from SURVEY.md §2
exposed as a named (spark, sf_dir) -> DataFrame query with an equivalent
DuckDB oracle SQL over the same parquet tables.

Conventions (driver compares row-count + schema + order-insensitive
value-hash):
  - every aggregate/computed column aliased identically on both sides
  - integer outputs CAST to long/BIGINT, floats to double, scores
    round(6) to absorb summation-order ulps
  - the SQL-checked fulltext ops run with stemming OFF (DuckDB has no
    Porter; the reference supports --no-stemming, cmd/spimi.go) and
    stopword removal ON; stemmed variants are exposed without an oracle
    (weaker rows-only check) and are pinned by the pytest oracle instead.

Query-text tokenization happens driver-side with the SAME Python pipeline
the engine's pandas UDF uses, and is baked into the oracle SQL as VALUES —
Spark-vs-DuckDB query parity holds by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulse_spark.config import IndexingSettings
from pulse_spark.index.build import postings_df, terms_df
from pulse_spark.sources.readers import local_table, read_parquet_spread
from pulse_spark.query.search import topk_from_tables
from pulse_spark.text.normalize import PreprocessSettings, tokens
from pulse_spark.text.stopwords import STOPWORDS_SQL
from pulse_spark.text.udfs import doc_len_bytes, make_tokenizer_udf

# ---------------------------------------------------------------------------
# fixed harness inputs
# ---------------------------------------------------------------------------

SETTINGS = IndexingSettings(stopwords_removal=True, stemming=False)
SETTINGS_STEMMED = IndexingSettings(stopwords_removal=True, stemming=True)
K = 10

# reference-style query set over the documents vocabulary: multi-term,
# duplicated term (scores twice), stopword-only, absent term, rare term
HARNESS_QUERIES: list[tuple[int, str]] = [
    (1, "spark join merge"),
    (2, "window window"),
    (3, "the hash vector"),
    (4, "customer line value"),
    (5, "dup"),
    (6, "fast slow big small"),
    (7, "scan table scan"),
    (8, "zzz missing"),
    (9, "a the of"),
    (10, "group order sort key"),
]


def _q_occurrences(settings: PreprocessSettings) -> list[tuple[int, int, str]]:
    """(query_id, pos, term) per token occurrence — same tokenizer as the
    engine, run driver-side."""
    out = []
    for qid, text in HARNESS_QUERIES:
        for pos, t in enumerate(tokens(text, settings)):
            out.append((qid, pos, t))
    return out


# ---------------------------------------------------------------------------
# shared Spark building blocks
# ---------------------------------------------------------------------------


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scale-adaptive spread (readers.py): a small single-row-group file
    # otherwise scans as ONE task and serializes every tokenizer/regex
    # pass on the corpus through one core; no-op once the input splits
    # to >= cores on its own
    return read_parquet_spread(spark, f"{sf_dir}/documents.parquet", "doc_id")


def docs_with_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_documents(spark, sf_dir).select(
        "doc_id", "text", doc_len_bytes("text").cast("long").alias("doc_len")
    )


# Session-scoped cache: the tokenizer pandas UDF is the most expensive
# stage of every fulltext harness query, and the three top-k variants (+
# term_tf/term_df) all consume the same postings — without this each
# query re-tokenized the corpus 2-3x (terms_df pass + scoring pass).
# Keyed on applicationId so a new SparkSession never sees a persisted
# DataFrame from a dead one; entries of DEAD sessions are evicted on
# every access (long-lived driver processes would otherwise accumulate
# one generation of persisted plans + temp index dirs per session).
_SHARED: dict = {}


def _evict_stale(spark) -> str:
    """Drop _SHARED entries whose applicationId no longer matches the
    live SparkContext; reclaim their temp index dirs immediately (each
    dir is also atexit-registered as a backstop). Returns the live id."""
    import shutil

    app = spark.sparkContext.applicationId
    for key in [k for k in _SHARED if k[0] != app]:
        v = _SHARED.pop(key)
        out_dir = getattr(v, "out_dir", None)
        if key[1] == "segidx" and out_dir:
            shutil.rmtree(out_dir, ignore_errors=True)
    return app


def _postings(spark, sf_dir, settings=SETTINGS) -> DataFrame:
    _evict_stale(spark)
    # keyed on the FULL (frozen, hashable) settings — keying on a single
    # field would hand back wrong postings for settings differing in any
    # other field
    key = (spark.sparkContext.applicationId, "postings", sf_dir, settings)
    if key not in _SHARED:
        p = postings_df(docs_with_len(spark, sf_dir), settings, id_col="doc_id")
        _SHARED[key] = p.withColumn("tf", F.col("tf").cast("long")).persist()
    return _SHARED[key]


def _terms(spark, sf_dir, settings=SETTINGS) -> DataFrame:
    key = (_evict_stale(spark), "terms", sf_dir, settings)
    if key not in _SHARED:
        _SHARED[key] = terms_df(_postings(spark, sf_dir, settings)).persist()
    return _SHARED[key]


def _stats(spark, sf_dir) -> tuple[int, float]:
    key = (_evict_stale(spark), "stats", sf_dir)
    if key not in _SHARED:
        r = docs_with_len(spark, sf_dir).agg(
            F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("adl")
        ).collect()[0]
        _SHARED[key] = (int(r["n"]), float(r["adl"]))
    return _SHARED[key]


def _occ_with_df(spark, sf_dir, settings=SETTINGS) -> DataFrame:
    """(query_id, pos, term, df) as ONE local Arrow table: the per-term
    df lookup for the FIXED harness query set is collected once per
    session (bounded by query-set size, like the other documented
    driver-side collects) and pre-attached, so every top-k-family query
    skips the qt-join broadcast-build job against the terms cache
    (guide §1.2 step 2 — measured ~2 jobs per query at sf0.1).  Terms
    absent from the corpus drop here exactly as the inner join did."""
    key = (_evict_stale(spark), "occdf", sf_dir, settings)
    if key not in _SHARED:
        occ = _q_occurrences(settings.preprocess)
        qterms = sorted({t for _, _, t in occ})
        dfmap = {
            r["term"]: r["df"]
            for r in _terms(spark, sf_dir, settings)
            .where(F.col("term").isin(qterms)).collect()
        }
        _SHARED[key] = [
            (qid, pos, t, int(dfmap[t]))
            for qid, pos, t in occ if t in dfmap
        ]
    return local_table(
        spark, _SHARED[key], "query_id long, pos int, term string, df long"
    )


def _topk(spark, sf_dir, metric, conjunctive, settings=SETTINGS,
          doc_filter=None) -> DataFrame:
    p = _postings(spark, sf_dir, settings)
    t = _terms(spark, sf_dir, settings)
    n, adl = _stats(spark, sf_dir)
    occ = _occ_with_df(spark, sf_dir, settings)
    res = topk_from_tables(
        p, t, occ, n, adl, k=K, metric=metric, conjunctive=conjunctive,
        id_col="doc_id", tie_round=6, doc_filter=doc_filter,
        df_attached=True,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


# ---------------------------------------------------------------------------
# oracle SQL building blocks (DuckDB dialect, tables pre-registered)
# ---------------------------------------------------------------------------

# reference pipeline in SQL: lower -> strip html -> strip punct ->
# split on whitespace -> drop empties -> drop stopwords.  (unicode
# normalization is a no-op on this ASCII corpus; the pytest oracle covers
# the non-ASCII path.)
_TRIM = (
    r"regexp_replace(regexp_replace(text, '^[ \t\n\r\f\x0B]+', ''),"
    r" '[ \t\n\r\f\x0B]+$', '')"
)


def _toks_sql(stopwords: bool) -> str:
    stop = f"AND NOT list_contains([{STOPWORDS_SQL}], x) " if stopwords else ""
    return (
        "list_filter(string_split_regex("
        "regexp_replace(regexp_replace(lower(text), '<[^>]*>', ' ', 'g'),"
        " '[^a-z0-9\\s]+', ' ', 'g'), '\\s+'), "
        f"x -> x <> '' {stop})"
    )


_D_CTE = f"""
d AS (
  SELECT doc_id,
         CAST(strlen({_TRIM}) AS BIGINT) AS doc_len,
         {_toks_sql(True)} AS toks
  FROM documents
)"""

_TOK_CTE = """
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term,
         CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
  FROM d
)"""

_TF_CTE = """
tf AS (
  SELECT doc_id, doc_len, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2, 3
)"""

_DF_CTE = """
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(max(tf) AS BIGINT) AS max_tf
  FROM tf GROUP BY 1
)"""

_STATS_CTE = """
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(doc_len) AS adl FROM d)"""


def _queries_values_sql() -> str:
    occ = _q_occurrences(SETTINGS.preprocess)
    rows = ", ".join(f"({qid}, {pos}, '{t}')" for qid, pos, t in occ)
    return f"q(query_id, pos, term) AS (VALUES {rows})"


def _topk_sql(metric: str, conjunctive: bool, filter_sql: str = "") -> str:
    """filter_sql: optional `AND tf.doc_id IN (...)` candidate filter —
    global df/adl statistics intentionally stay corpus-wide (the engine's
    filtered-retrieval semantics, query/search.py doc_filter)."""
    if metric == "BM25":
        part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    else:  # TFIDF
        part = "(1 + ln(tf.tf))"
    having = (
        "HAVING count(DISTINCT tf.term) = max(nt.n_terms)" if conjunctive else ""
    )
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
{_queries_values_sql()},
nt AS (
  SELECT q.query_id, count(DISTINCT q.term) AS n_terms
  FROM q JOIN df ON df.term = q.term GROUP BY 1
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum({part} * ln(s.n_docs / df.df)) AS raw_score
  FROM q
  JOIN df ON df.term = q.term
  JOIN tf ON tf.term = q.term
  JOIN nt ON nt.query_id = q.query_id
  CROSS JOIN stats s
  WHERE 1=1 {filter_sql}
  GROUP BY 1, 2
  {having}
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w <= {K}
"""


def _explain_sql() -> str:
    """Per-term BM25 explanation of the top-k winners: the same scored/
    window pipeline as _topk_sql, but the per-(query,doc,term)
    contributions are kept and re-joined to the winners."""
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
{_queries_values_sql()},
per_term AS (
  SELECT q.query_id, tf.doc_id, q.term,
         CAST(max(tf.tf) AS BIGINT) AS tf,
         CAST(max(df.df) AS BIGINT) AS df,
         CAST(count(*) AS BIGINT) AS occurrences,
         max(ln(s.n_docs / df.df)) AS idf_raw,
         sum({part} * ln(s.n_docs / df.df)) AS term_raw
  FROM q
  JOIN df ON df.term = q.term
  JOIN tf ON tf.term = q.term
  CROSS JOIN stats s
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT query_id, doc_id, sum(term_raw) AS raw_score
  FROM per_term GROUP BY 1, 2
),
topk AS (
  SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(doc_id AS BIGINT) AS doc_id,
         CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
         round(raw_score, 6) AS score
  FROM scored
  WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
  QUALIFY row_number() OVER w <= {K}
)
SELECT t.query_id, t.doc_id, t.rank, t.score, p.term, p.tf, p.df,
       p.occurrences, round(p.idf_raw, 6) AS idf,
       round(p.term_raw, 6) AS term_score
FROM topk t
JOIN per_term p ON p.query_id = t.query_id AND p.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# named operators: fulltext core
# ---------------------------------------------------------------------------


def q_corpus_stats(spark, sf_dir):
    """B5/S4: corpus size + average document length (stats.go:8-12)."""
    return docs_with_len(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("doc_len"), 6).alias("adl"),
    )


def q_doc_stats(spark, sf_dir):
    """T1-T6+T9: per-doc token count and byte length (trimmed)."""
    tok = make_tokenizer_udf(SETTINGS.preprocess)
    return docs_with_len(spark, sf_dir).select(
        F.col("doc_id").cast("long"),
        F.col("doc_len"),
        F.size(tok(F.col("text"))).cast("long").alias("n_tokens"),
    )


def q_tokens_exploded(spark, sf_dir):
    """T1-T6 + position: the tokenized corpus (preprocess.Tokens).

    Unspread read (r6): this plan's output is the EXPLOSION (rows >>
    input), so the adaptive spread would shuffle the full text for a
    tokenize that is cheap relative to materializing the output — the
    10x rehearsal measured the spread variant 22.3 s vs 15.8 s
    (driver-collect dominated either way)."""
    from pulse_spark.sources.readers import read_parquet_cached

    tok = make_tokenizer_udf(SETTINGS.preprocess)
    return read_parquet_cached(spark, f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long"),
        F.posexplode(tok(F.col("text"))).alias("pos", "term"),
    ).select("doc_id", F.col("pos").cast("long"), "term")


def q_term_tf(spark, sf_dir):
    """T8/B3: per-(doc, term) frequencies (preprocess.go:36-46)."""
    return _postings(spark, sf_dir).select(
        F.col("doc_id").cast("long"), "term", F.col("tf").cast("long")
    )


def q_term_df(spark, sf_dir):
    """B6: merged global lexicon (df sum, max_tf max; spimi.go:196-197)."""
    return _terms(spark, sf_dir).select(
        "term", F.col("df").cast("long"), F.col("max_tf").cast("long")
    )


def q_bm25_topk(spark, sf_dir):
    """Q5+Q8+Q9/Q10: disjunctive BM25 top-k (search.go:119-159,181-187)."""
    return _topk(spark, sf_dir, "BM25", conjunctive=False)


def q_bm25_conjunctive_topk(spark, sf_dir):
    """Q6: conjunctive (intersection) BM25 top-k (search.go:138-141)."""
    return _topk(spark, sf_dir, "BM25", conjunctive=True)


def q_tfidf_topk(spark, sf_dir):
    """Q7: disjunctive TFIDF top-k (search.go:174-180)."""
    return _topk(spark, sf_dir, "TFIDF", conjunctive=False)


def q_bm25_page2_topk(spark, sf_dir):
    """Pagination (query/search.py bounded_topk offset; ES `from`): page
    2 of the disjunctive ranking — ranks [K, 2K) with absolute rank
    numbers, the strict continuation of bm25_topk's page 1."""
    p = _postings(spark, sf_dir)
    t = _terms(spark, sf_dir)
    n, adl = _stats(spark, sf_dir)
    occ = _occ_with_df(spark, sf_dir)
    res = topk_from_tables(p, t, occ, n, adl, k=K, metric="BM25",
                           id_col="doc_id", tie_round=6, offset=K,
                           df_attached=True)
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


def q_bm25_stemmed_topk(spark, sf_dir):
    """Q8 + T7: BM25 with Porter stemming (no SQL oracle — DuckDB cannot
    stem; rank-identity is pinned by the pytest oracle instead)."""
    return _topk(spark, sf_dir, "BM25", conjunctive=False, settings=SETTINGS_STEMMED)


def _segments_index(spark, sf_dir):
    """Session-cached committed segments index over the sf documents
    table wrapped as single-turn transcripts (conv_id = doc_id)."""
    import atexit
    import shutil
    import tempfile

    from pulse_spark.index.persist import build_persisted_index

    key = (_evict_stale(spark), "segidx", sf_dir)
    if key not in _SHARED:
        out = tempfile.mkdtemp(prefix="pulse_seg_idx_")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
        transcripts = load_documents(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            "text",
        )
        _SHARED[key] = build_persisted_index(
            spark, transcripts, out,
            IndexingSettings(stopwords_removal=True, stemming=False,
                             compression=True, term_buckets=8),
            build_segments=True,
        )
    return _SHARED[key]


def q_bm25_segments_topk(spark, sf_dir):
    """B7 + C1-C4 + Q4 + Q9 end-to-end under the SQL oracle: disjunctive
    BM25 top-k scored THROUGH the committed compressed block segments
    (delta+varint doc ids, unary tfs) with the MaxScore numpy scorer —
    same oracle SQL as bm25_topk, so the whole persist->encode->decode->
    prune->score path must be value-identical to the relational plan.

    The index is built once per (session, sf_dir) into a temp dir; the
    documents table is wrapped as single-turn transcripts (conv_id =
    doc_id), and results map back to the external doc_id.  Ranking is
    re-derived on (round(score,6), doc_id) for cross-engine determinism,
    like _topk's tie_round."""
    from pulse_spark.index.segments import search_segments

    idx = _segments_index(spark, sf_dir)
    queries = local_table(spark, HARNESS_QUERIES, "query_id long, text string")
    # over-fetch so boundary ties at round(·,6) precision can be re-ranked
    # on the EXTERNAL doc_id (internal dense ids sort conv_id as strings)
    res = search_segments(spark, idx, queries, k=K + 20, metric="BM25")
    ext = idx.docs.select("doc_id", F.col("conv_id").cast("long").alias("ext_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("ext_id")
    )
    return (
        res.join(F.broadcast(ext), "doc_id")
        .withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("rank") < K)
        .select(
            F.col("query_id").cast("long"),
            F.col("ext_id").cast("long").alias("doc_id"),
            "rank",
            F.round("score", 6).alias("score"),
        )
    )


def q_retrieval_quality(spark, sf_dir):
    """trec_eval analog (eval.py): per-query P@10 / recall@10 / NDCG@10 /
    AP@10 of the disjunctive BM25 run against a deterministic synthetic
    qrels table (doc_id % 10 == query_id % 10, graded by doc_id % 3) —
    the metric MATH is under the SQL oracle; reference-semantics quality
    is guarded by the pytest golds (trec_eval/README.md:22-36 model)."""
    from pulse_spark.eval import trec_metrics

    res = _topk(spark, sf_dir, "BM25", conjunctive=False)
    docs = load_documents(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    qids = local_table(spark, 
        [(q,) for q, _ in HARNESS_QUERIES], "query_id long"
    )
    qrels = (
        qids.crossJoin(docs)
        .where(F.col("doc_id") % 10 == F.col("query_id") % 10)
        .withColumn(
            "rel", (F.lit(1) + (F.col("doc_id") % 3 == 0).cast("int")).cast("int")
        )
    )
    return trec_metrics(res, qrels, k=K)


def q_bm25_sidecar_topk(spark, sf_dir):
    """The NO-SPARK serving sidecar (serve.PointServer) under the same
    DuckDB oracle as bm25_topk: queries are answered from the committed
    segment parquet with pyarrow + numpy — zero Spark jobs in the query
    path — and the results are lifted back into a DataFrame only for the
    driver's comparison.  Reuses the session's segments index."""
    idx = _segments_index(spark, sf_dir)
    from pulse_spark.serve import PointServer

    key = (_evict_stale(spark), "sidecar", sf_dir)
    if key not in _SHARED:
        _SHARED[key] = PointServer(idx.out_dir)
    srv = _SHARED[key]
    rows = []  # conv_id string == external doc_id (single-turn wrap)
    for qid, text in HARNESS_QUERIES:
        for r in srv.search(text, k=K + 20, metric="BM25", query_id=qid):
            ext = int(r.doc_no.split(":")[0])
            rows.append((qid, ext, r.score))
    if not rows:
        return local_table(spark, 
            [], "query_id long, doc_id long, rank long, score double"
        )
    df = local_table(spark, rows, "query_id long, doc_id long, score double")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        df.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("rank") < K)
        .select("query_id", "doc_id", "rank", F.round("score", 6).alias("score"))
    )


def q_bm25_sharded_topk(spark, sf_dir):
    """Horizontal serving path under the SAME oracle: a 2-shard
    ShardedServer (one PointServer per doc_range slice, concat + global
    top-k merge — serve.py's fleet design) must match the relational
    BM25 plan value-for-value, proving the shard merge loses nothing."""
    idx = _segments_index(spark, sf_dir)
    from pulse_spark.serve import ShardedServer

    key = (_evict_stale(spark), "sharded", sf_dir)
    if key not in _SHARED:
        _SHARED[key] = ShardedServer(idx.out_dir, n_shards=2)
    srv = _SHARED[key]
    rows = []  # conv_id string == external doc_id (single-turn wrap)
    for qid, text in HARNESS_QUERIES:
        for r in srv.search(text, k=K + 20, metric="BM25", query_id=qid):
            ext = int(r.doc_no.split(":")[0])
            rows.append((qid, ext, r.score))
    if not rows:
        return local_table(spark, 
            [], "query_id long, doc_id long, rank long, score double"
        )
    df = local_table(spark, rows, "query_id long, doc_id long, score double")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        df.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("rank") < K)
        .select("query_id", "doc_id", "rank", F.round("score", 6).alias("score"))
    )


# metadata-filtered search: restrict candidates to English docs (~44% of
# the corpus) — statistics stay global (query/search.py doc_filter)
FILTER_LANG = "en"


def q_bm25_filtered_topk(spark, sf_dir):
    """Filtered retrieval (Spark-first extension; Lucene filter-query
    model): BM25 top-k over only the docs matching a metadata predicate,
    df/adl/N untouched.  The filter is semi-joined on the term-pruned
    matched rows, so at 100 TB it never touches unmatched postings."""
    filt = load_documents(spark, sf_dir).where(
        F.col("lang") == FILTER_LANG
    ).select("doc_id")
    return _topk(spark, sf_dir, "BM25", conjunctive=False, doc_filter=filt)


# RM3 pseudo-relevance feedback constants (mirrored in the oracle SQL)
RM3_FB_K, RM3_FB_TERMS, RM3_ALPHA = 3, 5, 0.6


def q_bm25_rm3_topk(spark, sf_dir):
    """RM3-style pseudo-relevance feedback (query/expand.py): original
    top-3 docs feed a relevance model; 5 expansion terms interpolated at
    alpha=0.6 re-retrieve.  Whole two-pass pipeline under the oracle."""
    from pulse_spark.query.expand import rm3_topk

    p = _postings(spark, sf_dir)
    t = _terms(spark, sf_dir)
    n, adl = _stats(spark, sf_dir)
    occ = local_table(spark, 
        _q_occurrences(SETTINGS.preprocess), "query_id long, pos int, term string"
    )
    docs_text = load_documents(spark, sf_dir).select("doc_id", "text")
    res = rm3_topk(
        p, t, occ, docs_text, n, adl, SETTINGS.preprocess,
        k=K, fb_k=RM3_FB_K, fb_terms=RM3_FB_TERMS, alpha=RM3_ALPHA,
        id_col="doc_id", tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


# more-like-this source docs (exist at every sf; doc_ids are 0-based)
MLT_SOURCES = [7, 42, 123]
MLT_TOP_TERMS = 5


def q_more_like_this(spark, sf_dir):
    """Query-by-document (Lucene MLT model, query/expand.py): each
    source doc's top-5 tf·idf terms form the query; the source doc is
    excluded from its own results."""
    from pulse_spark.query.expand import more_like_this_topk

    p = _postings(spark, sf_dir)
    t = _terms(spark, sf_dir)
    n, adl = _stats(spark, sf_dir)
    docs_text = load_documents(spark, sf_dir).select("doc_id", "text")
    src = local_table(spark, [(i,) for i in MLT_SOURCES], "doc_id long")
    res = more_like_this_topk(
        p, t, docs_text, src, n, adl, SETTINGS.preprocess,
        k=K, top_terms=MLT_TOP_TERMS, id_col="doc_id", tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


PHRASE = "spark join"  # adjacent after stopword removal; in-vocabulary (also the slop instance)


def q_phrase_match(spark, sf_dir):
    """Positional phrase matching (Spark-first extension; SURVEY §2.6):
    token-adjacency inside the tokenizer's array output — one scan, no
    explode, no shuffle."""
    from pulse_spark.query.phrase import phrase_match

    return phrase_match(
        load_documents(spark, sf_dir), PHRASE, SETTINGS.preprocess
    )


SNIP_WINDOW = 8          # snippet span in display tokens
FACET_COLS = ["lang", "source"]


def q_snippet_extract(spark, sf_dir):
    """Best-window snippet per BM25 top-k result (Spark-first extension;
    Lucene/ES highlighting): the 8-token span maximizing summed idf of
    matched query occurrences, earliest-start ties.  Only the k·q result
    docs are tokenized — snippet cost is O(results) at any corpus size."""
    from pulse_spark.query.snippet import snippet_topk

    res = _topk(spark, sf_dir, "BM25", conjunctive=False)
    t = _terms(spark, sf_dir)
    n, _ = _stats(spark, sf_dir)
    occ = local_table(spark, 
        _q_occurrences(SETTINGS.preprocess), "query_id long, pos int, term string"
    )
    snip = snippet_topk(
        res.select("query_id", "doc_id"),
        load_documents(spark, sf_dir).select("doc_id", "text"),
        occ, t, n, SETTINGS.preprocess,
        window=SNIP_WINDOW, id_col="doc_id", tie_round=6,
    )
    return snip.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("start").cast("long"),
        F.round("snip_score", 6).alias("snip_score"),
        "snippet",
    )


def q_facet_counts(spark, sf_dir):
    """Facet histograms of each query's matched set (Spark-first
    extension; ES terms aggregations): disjunctive match via term-pruned
    postings, deduplicated, counted by lang and source."""
    from pulse_spark.query.facets import facet_counts

    occ = local_table(spark, 
        _q_occurrences(SETTINGS.preprocess), "query_id long, pos int, term string"
    )
    return facet_counts(
        _postings(spark, sf_dir), occ,
        load_documents(spark, sf_dir).select("doc_id", *FACET_COLS),
        FACET_COLS, id_col="doc_id",
    ).select(F.col("query_id").cast("long"), "facet", "value", "n_docs")


# prefix / fuzzy term-expansion probes (query/wildcard.py).  's' expands
# to 6 lexicon terms so PREFIX_MAX_EXP=4 exercises the top-df cut; the
# duplicated 'gr' occurrence pins per-occurrence scoring; 'zz'/'xyzzy'
# pin probe-miss semantics (query 5 returns no rows).
PREFIX_PROBES: list[tuple[int, int, str]] = [
    (1, 0, "s"), (1, 1, "jo"),
    (2, 0, "gr"), (2, 1, "gr"),
    (3, 0, "qu"), (3, 1, "zz"),
    (4, 0, "c"),
    (5, 0, "zz"),
]
PREFIX_MAX_EXP = 4
FUZZY_PROBES: list[tuple[int, int, str]] = [
    (1, 0, "sow"),                  # -> {row, slow}
    (2, 0, "joi"), (2, 1, "mergee"),
    (3, 0, "kay"), (3, 1, "kay"),   # duplicated occurrence scores twice
    (4, 0, "dups"),                 # -> dup (rare term, high idf)
    (5, 0, "xyzzy"),                # no match -> query drops
    (6, 0, "spark"),                # exact match (distance 0)
]
FUZZY_MAX_EDITS = 1
FUZZY_MAX_EXP = 50


def q_bm25_prefix_topk(spark, sf_dir):
    """Prefix (wildcard) search (query/wildcard.py; Lucene PrefixQuery,
    top-terms rewrite): each probe expands to the max_expansions
    highest-df lexicon terms sharing the prefix, then scores through the
    standard BM25 pipeline per probe occurrence."""
    from pulse_spark.query.wildcard import prefix_topk

    qp = local_table(spark, 
        PREFIX_PROBES, "query_id long, pos int, prefix string"
    )
    res = prefix_topk(
        _postings(spark, sf_dir), _terms(spark, sf_dir), qp,
        *_stats(spark, sf_dir), k=K, metric="BM25",
        max_expansions=PREFIX_MAX_EXP, id_col="doc_id", tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


def q_bm25_fuzzy_topk(spark, sf_dir):
    """Typo-tolerant search (query/wildcard.py; Lucene FuzzyQuery):
    probes expand to lexicon terms within Levenshtein distance 1
    (exact matches included), then score like any multi-term query."""
    from pulse_spark.query.wildcard import fuzzy_topk

    qt = local_table(spark, 
        FUZZY_PROBES, "query_id long, pos int, token string"
    )
    res = fuzzy_topk(
        _postings(spark, sf_dir), _terms(spark, sf_dir), qt,
        *_stats(spark, sf_dir), k=K, metric="BM25",
        max_edits=FUZZY_MAX_EDITS, max_expansions=FUZZY_MAX_EXP,
        id_col="doc_id", tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


# synonym groups (query/synonym.py): rows sharing (query_id, pos) are
# one group.  q1 blends a 2-member group; q2's members co-occur (tf
# sums); q3 has an absent member (df/tf from the present one only);
# q4 is all-absent (drops); q5 repeats a singleton group at two
# positions (scores twice)
SYN_QUERIES: list[tuple[int, int, str]] = [
    (1, 0, "spark"), (1, 0, "stream"), (1, 1, "merge"),
    (2, 0, "join"), (2, 0, "merge"),
    (3, 0, "dup"), (3, 0, "zzz"), (3, 1, "row"),
    (4, 0, "zzz"), (4, 0, "qqq"),
    (5, 0, "spark"), (5, 1, "spark"),
]


def q_bm25_synonym_topk(spark, sf_dir):
    """Synonym-group (blended-tf) top-k (query/synonym.py; Lucene
    SynonymQuery): group tf = sum of member tfs per doc, group df = max
    member df — the saturation curve applies ONCE per concept."""
    from pulse_spark.query.synonym import synonym_topk

    qg = local_table(spark, 
        SYN_QUERIES, "query_id long, pos int, term string"
    )
    res = synonym_topk(
        _postings(spark, sf_dir), _terms(spark, sf_dir), qg,
        *_stats(spark, sf_dir), k=K, metric="BM25",
        id_col="doc_id", tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


COLLAPSE_MOD = 100  # transcripts convention: conv_id = doc_id % 100


def q_bm25_collapse_topk(spark, sf_dir):
    """Field-collapsed top-k (query/collapse.py; ES field collapsing):
    at most one (best) doc per conversation — the collapse key is the
    transcripts convention conv_id = doc_id % 100, evaluated as an
    expression (zero-join)."""
    from pulse_spark.query.collapse import collapse_topk

    p = _postings(spark, sf_dir)
    t = _terms(spark, sf_dir)
    n, adl = _stats(spark, sf_dir)
    occ = local_table(spark, 
        _q_occurrences(SETTINGS.preprocess), "query_id long, pos int, term string"
    )
    res = collapse_topk(
        p, t, occ, n, adl, group_col=F.col("doc_id") % COLLAPSE_MOD,
        k=K, metric="BM25", id_col="doc_id", tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.col("group").cast("long").alias("conv_id"),
        F.round("score", 6).alias("score"),
    )


# regexp probes (query/wildcard.py regexp_topk): anchored full-term
# match in the JVM/RE2-portable subset; q1 duplicates a probe
# occurrence (scores twice), q3 mixes a hit with a miss, q4 matches
# nothing (query drops)
REGEXP_PROBES: list[tuple[int, int, str]] = [
    (1, 0, "s.*k"), (1, 1, "s.*k"),
    (2, 0, "m(e|a)rge"), (2, 1, "jo.n"),
    (3, 0, "gr.+"), (3, 1, "zz.*"),
    (4, 0, "q{5}"),
]
REGEXP_MAX_EXP = 4


def q_bm25_regexp_topk(spark, sf_dir):
    """Regexp search (query/wildcard.py regexp_topk; Lucene RegexpQuery,
    top-terms rewrite): anchored full-term patterns expand to the
    max_expansions highest-df lexicon matches, then score like any
    multi-term query."""
    from pulse_spark.query.wildcard import regexp_topk

    qp = local_table(spark, 
        REGEXP_PROBES, "query_id long, pos int, pattern string"
    )
    res = regexp_topk(
        _postings(spark, sf_dir), _terms(spark, sf_dir), qp,
        *_stats(spark, sf_dir), k=K, metric="BM25",
        max_expansions=REGEXP_MAX_EXP, id_col="doc_id", tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


# spell-suggestion probes (query/wildcard.py suggest_terms): distance-1
# and distance-2 misspellings, a duplicated occurrence, an in-lexicon
# token (no suggestions), and a hopeless probe (no candidates)
SUGGEST_PROBES: list[tuple[int, int, str]] = [
    (1, 0, "mrge"),                   # -> merge (1)
    (2, 0, "jion"),                   # -> join (2)
    (3, 0, "windoww"),                # -> window (1)
    (4, 0, "sprk"),                   # -> spark (1), sort (2), ...
    (5, 0, "spark"),                  # in lexicon -> no rows
    (6, 0, "zzzzzzzz"),               # no candidate within 2 edits
    (7, 0, "qury"), (7, 1, "qury"),   # duplicated occurrence -> 2x rows
]
SUGGEST_MAX_EDITS = 2
SUGGEST_N = 3


def q_spell_suggest(spark, sf_dir):
    """Did-you-mean spell suggestions (query/wildcard.py suggest_terms;
    Lucene DirectSpellChecker SUGGEST_WHEN_NOT_IN_INDEX): top-3 lexicon
    terms within 2 edits per absent query token, ranked (distance asc,
    df desc, term asc)."""
    from pulse_spark.query.wildcard import suggest_terms

    qt = local_table(spark, 
        SUGGEST_PROBES, "query_id long, pos int, token string"
    )
    res = suggest_terms(
        _terms(spark, sf_dir), qt,
        max_edits=SUGGEST_MAX_EDITS, n_suggestions=SUGGEST_N,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("pos").cast("int"),
        "token", "suggestion",
        F.col("distance").cast("int"),
        F.col("df").cast("long"),
        F.col("srank").cast("int"),
    )


# boolean clause sets (query/boolean.py): veto, duplicate-must scoring,
# pure disjunction, conjunction, absent-must (doesn't veto), pure
# negative (matches nothing)
BOOLEAN_QUERIES: list[tuple[int, int, str, str]] = [
    (1, 0, "spark", "must"), (1, 1, "join", "should"), (1, 2, "merge", "must_not"),
    (2, 0, "window", "must"), (2, 1, "window", "must"),
    (3, 0, "scan", "should"), (3, 1, "table", "should"),
    (4, 0, "hash", "must"), (4, 1, "vector", "must"),
    (5, 0, "zzz", "must"), (5, 1, "row", "should"),
    (6, 0, "key", "must_not"),
]


def q_bm25_boolean_topk(spark, sf_dir):
    """Boolean must/should/must_not composition (query/boolean.py;
    Lucene BooleanQuery model): one term-pruned postings scan folds
    score, must-coverage and must_not-veto in a single aggregation."""
    from pulse_spark.query.boolean import boolean_topk

    qc = local_table(spark, 
        BOOLEAN_QUERIES, "query_id long, pos int, term string, clause string"
    )
    res = boolean_topk(
        _postings(spark, sf_dir), _terms(spark, sf_dir), qc,
        *_stats(spark, sf_dir), k=K, metric="BM25",
        id_col="doc_id", tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


# minimum_should_match clause sets: q1/q2 pure-should msm cut; q3 must +
# should msm; q4 pins the literal count (absent 'zzz' makes msm=2
# unreachable -> no rows)
MSM_QUERIES: list[tuple[int, int, str, str]] = [
    (1, 0, "spark", "should"), (1, 1, "join", "should"), (1, 2, "merge", "should"),
    (2, 0, "window", "should"), (2, 1, "scan", "should"), (2, 2, "table", "should"),
    (3, 0, "hash", "must"), (3, 1, "vector", "should"), (3, 2, "key", "should"),
    (4, 0, "dup", "should"), (4, 1, "zzz", "should"),
]
MSM = 2


def q_bm25_msm_topk(spark, sf_dir):
    """minimum_should_match (query/boolean.py min_should_match; Lucene
    BooleanQuery.setMinimumNumberShouldMatch): candidates must match at
    least MSM distinct should terms — the count is literal, so absent
    should terms can make a query unsatisfiable."""
    from pulse_spark.query.boolean import boolean_topk

    qc = local_table(spark, 
        MSM_QUERIES, "query_id long, pos int, term string, clause string"
    )
    res = boolean_topk(
        _postings(spark, sf_dir), _terms(spark, sf_dir), qc,
        *_stats(spark, sf_dir), k=K, metric="BM25",
        id_col="doc_id", tie_round=6, min_should_match=MSM,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
    )


def q_hit_counts(spark, sf_dir):
    """Total-hits header (query/search.py hit_stats; Lucene
    TotalHitCountCollector / ES hits.total + max_score): exact per-query
    candidate count + best score, no ranked list materialized."""
    from pulse_spark.query.search import hit_stats

    p = _postings(spark, sf_dir)
    t = _terms(spark, sf_dir)
    n, adl = _stats(spark, sf_dir)
    occ = _occ_with_df(spark, sf_dir)
    res = hit_stats(p, t, occ, n, adl, metric="BM25",
                    id_col="doc_id", tie_round=6, df_attached=True)
    return res.select(
        F.col("query_id").cast("long"),
        F.col("n_hits").cast("long"),
        F.round("max_score", 6).alias("max_score"),
    )


PHRASE_SLOP = 2


def q_phrase_slop_match(spark, sf_dir):
    """Sloppy (proximity) phrase matching (query/phrase.py slop>0):
    ordered greedy-earliest match within an n-1+slop span — a strict
    superset of the exact-adjacency phrase_match row."""
    from pulse_spark.query.phrase import phrase_match

    return phrase_match(
        load_documents(spark, sf_dir), PHRASE, SETTINGS.preprocess,
        slop=PHRASE_SLOP,
    )


NEAR_TERMS = "merge spark"   # unordered: matches "spark ... merge" too
NEAR_SLOP = 3


def q_near_match(spark, sf_dir):
    """Unordered proximity (query/phrase.py near_match; Lucene
    SpanNearQuery inOrder=false): all distinct terms within an
    n + slop token window, any order; n_occ counts covering windows."""
    from pulse_spark.query.phrase import near_match

    return near_match(
        load_documents(spark, sf_dir), NEAR_TERMS, SETTINGS.preprocess,
        slop=NEAR_SLOP,
    )


def q_bm25_explain(spark, sf_dir):
    """Per-term score explanation of the BM25 top-k winners (query/
    explain.py; Lucene's `explain` model): one row per (query, winning
    doc, matched term) with tf/df/idf/occurrences and the term's summed
    contribution — sum(term_score) per doc equals the doc's score."""
    from pulse_spark.query.explain import explain_topk

    p = _postings(spark, sf_dir)
    t = _terms(spark, sf_dir)
    n, adl = _stats(spark, sf_dir)
    occ = local_table(spark, 
        _q_occurrences(SETTINGS.preprocess), "query_id long, pos int, term string"
    )
    res = explain_topk(p, t, occ, n, adl, k=K, metric="BM25",
                       id_col="doc_id", tie_round=6)
    return res.select(
        F.col("query_id").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 6).alias("score"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("occurrences").cast("long").alias("occurrences"),
        F.round("idf", 6).alias("idf"),
        F.round("term_score", 6).alias("term_score"),
    )


FULLTEXT_QUERIES = {
    "corpus_stats": q_corpus_stats,
    "doc_stats": q_doc_stats,
    "tokens_exploded": q_tokens_exploded,
    "term_tf": q_term_tf,
    "term_df": q_term_df,
    "bm25_topk": q_bm25_topk,
    "bm25_conjunctive_topk": q_bm25_conjunctive_topk,
    "tfidf_topk": q_tfidf_topk,
    "bm25_stemmed_topk": q_bm25_stemmed_topk,
    "bm25_segments_topk": q_bm25_segments_topk,
    "bm25_sidecar_topk": q_bm25_sidecar_topk,
    "bm25_sharded_topk": q_bm25_sharded_topk,
    "retrieval_quality": q_retrieval_quality,
    "phrase_match": q_phrase_match,
    "bm25_filtered_topk": q_bm25_filtered_topk,
    "bm25_rm3_topk": q_bm25_rm3_topk,
    "more_like_this": q_more_like_this,
    "snippet_extract": q_snippet_extract,
    "facet_counts": q_facet_counts,
    "bm25_prefix_topk": q_bm25_prefix_topk,
    "bm25_fuzzy_topk": q_bm25_fuzzy_topk,
    "bm25_boolean_topk": q_bm25_boolean_topk,
    "phrase_slop_match": q_phrase_slop_match,
    "bm25_explain": q_bm25_explain,
    "spell_suggest": q_spell_suggest,
    "bm25_collapse_topk": q_bm25_collapse_topk,
    "bm25_msm_topk": q_bm25_msm_topk,
    "hit_counts": q_hit_counts,
    "bm25_synonym_topk": q_bm25_synonym_topk,
    "bm25_page2_topk": q_bm25_page2_topk,
    "bm25_regexp_topk": q_bm25_regexp_topk,
    "near_match": q_near_match,
}


def _phrase_oracle_sql() -> str:
    from pulse_spark.text.normalize import tokens as py_tokens

    toks = py_tokens(PHRASE, SETTINGS.preprocess)
    n = len(toks)
    cond = " AND ".join(f"toks[i + {j}] = '{t}'" for j, t in enumerate(toks))
    return f"""
WITH d AS (SELECT doc_id, {_toks_sql(True)} AS toks FROM documents),
c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(CASE WHEN len(toks) >= {n} THEN
           len(list_filter(range(1, len(toks) - {n} + 2), i -> {cond}))
         ELSE 0 END AS BIGINT) AS n_occ
  FROM d
)
SELECT doc_id, n_occ FROM c WHERE n_occ > 0
"""


def _quality_oracle_sql() -> str:
    qvals = ", ".join(f"({q})" for q, _ in HARNESS_QUERIES)
    return f"""
WITH res AS (
  SELECT * FROM ({_topk_sql("BM25", conjunctive=False)})
),
qrels AS (
  SELECT q.query_id, d.doc_id, 1 + CAST(d.doc_id % 3 = 0 AS INT) AS rel
  FROM (VALUES {qvals}) q(query_id), documents d
  WHERE d.doc_id % 10 = q.query_id % 10
),
j AS (
  SELECT r.query_id, r.rank, r.doc_id, coalesce(qr.rel, 0) AS rel,
         CASE WHEN coalesce(qr.rel, 0) > 0 THEN 1 ELSE 0 END AS is_rel
  FROM res r
  LEFT JOIN qrels qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
  WHERE r.rank < {K}
),
jj AS (
  SELECT *, (pow(2.0, rel) - 1) / log2(rank + 2.0) AS gain,
         sum(is_rel) OVER (PARTITION BY query_id ORDER BY rank
                           ROWS UNBOUNDED PRECEDING) / (rank + 1.0) AS prec_at_i
  FROM j
),
perq AS (
  SELECT query_id, sum(is_rel) AS n_hit, sum(gain) AS dcg,
         sum(prec_at_i * is_rel) AS ap_num
  FROM jj GROUP BY 1
),
ideal AS (
  SELECT query_id, sum((pow(2.0, rel) - 1) / log2(i + 2.0)) AS idcg FROM (
    SELECT query_id, rel,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) - 1 AS i
    FROM qrels WHERE rel > 0)
  WHERE i < {K} GROUP BY 1
),
tot AS (SELECT query_id, count(*) AS n_rel FROM qrels WHERE rel > 0 GROUP BY 1)
SELECT CAST(t.query_id AS BIGINT) AS query_id,
       round(coalesce(p.n_hit, 0) / {K}.0, 6) AS p_at_{K},
       round(coalesce(p.n_hit, 0) / CAST(t.n_rel AS DOUBLE), 6) AS recall_at_{K},
       round(coalesce(p.dcg, 0) / i.idcg, 6) AS ndcg_at_{K},
       round(coalesce(p.ap_num, 0) / CAST(t.n_rel AS DOUBLE), 6) AS ap_at_{K}
FROM tot t
JOIN ideal i ON i.query_id = t.query_id
LEFT JOIN perq p ON p.query_id = t.query_id
"""


def _rm3_oracle_sql() -> str:
    """Two-pass RM3 in SQL, mirroring query/expand.py's determinism
    contract: feedback docs by (round(score,6) desc, doc_id asc);
    expansion terms by (round(weight,6) desc, term asc) with the ROUNDED
    weight also being the weight used; originals carry alpha/n_occ
    (n_occ over ALL tokenized occurrences, corpus-absent included)."""
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
{_queries_values_sql()},
nocc AS (SELECT query_id, CAST(count(*) AS DOUBLE) AS n_occ FROM q GROUP BY 1),
scored1 AS (
  SELECT q.query_id, tf.doc_id, sum({part} * ln(s.n_docs / df.df)) AS raw
  FROM q JOIN df ON df.term = q.term JOIN tf ON tf.term = q.term
  CROSS JOIN stats s GROUP BY 1, 2
),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id, row_number() OVER (
      PARTITION BY query_id ORDER BY round(raw, 6) DESC, doc_id ASC) AS r
    FROM scored1) WHERE r <= {RM3_FB_K}
),
dlen AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_toks FROM d),
fbw AS (
  SELECT f.query_id, tf.term, round(sum(tf.tf / dl.n_toks), 6) AS w
  FROM fb f JOIN tf ON tf.doc_id = f.doc_id
  JOIN dlen dl ON dl.doc_id = f.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM q
                    WHERE q.query_id = f.query_id AND q.term = tf.term)
  GROUP BY 1, 2
),
exp AS (
  SELECT query_id, term, w FROM (
    SELECT query_id, term, w, row_number() OVER (
      PARTITION BY query_id ORDER BY w DESC, term ASC) AS r
    FROM fbw) WHERE r <= {RM3_FB_TERMS}
),
wq AS (
  SELECT q.query_id, q.term, {RM3_ALPHA} / n.n_occ AS weight
  FROM q JOIN nocc n ON n.query_id = q.query_id
  UNION ALL
  SELECT query_id, term,
         {1.0 - RM3_ALPHA} * w / sum(w) OVER (PARTITION BY query_id) AS weight
  FROM exp
),
scored2 AS (
  SELECT wq.query_id, tf.doc_id,
         sum(wq.weight * {part} * ln(s.n_docs / df.df)) AS raw_score
  FROM wq JOIN df ON df.term = wq.term JOIN tf ON tf.term = wq.term
  CROSS JOIN stats s GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM scored2
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w <= {K}
"""


def _mlt_oracle_sql() -> str:
    src_vals = ", ".join(f"({i})" for i in MLT_SOURCES)
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
src(doc_id) AS (VALUES {src_vals}),
mw AS (
  SELECT tf.doc_id AS query_id, tf.term,
         round(tf.tf * ln(s.n_docs / df.df), 6) AS w
  FROM src JOIN tf ON tf.doc_id = src.doc_id
  JOIN df ON df.term = tf.term CROSS JOIN stats s
),
mq AS (
  SELECT query_id, term FROM (
    SELECT query_id, term, row_number() OVER (
      PARTITION BY query_id ORDER BY w DESC, term ASC) AS r
    FROM mw) WHERE r <= {MLT_TOP_TERMS}
),
scored AS (
  SELECT mq.query_id, tf.doc_id, sum({part} * ln(s.n_docs / df.df)) AS raw_score
  FROM mq JOIN df ON df.term = mq.term JOIN tf ON tf.term = mq.term
  CROSS JOIN stats s
  WHERE tf.doc_id <> mq.query_id
  GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w <= {K}
"""


def _snippet_oracle_sql() -> str:
    """Two-stage snippet oracle: the exact bm25_topk result set, then
    per (query, doc) the best SNIP_WINDOW-token display-stream window
    (stopwords kept — _toks_sql(False)) by summed idf, earliest-start
    ties, rendered with list_slice."""
    W = SNIP_WINDOW
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
{_queries_values_sql()},
scored AS (
  SELECT q.query_id, tf.doc_id, sum({part} * ln(s.n_docs / df.df)) AS raw_score
  FROM q JOIN df ON df.term = q.term JOIN tf ON tf.term = q.term
  CROSS JOIN stats s GROUP BY 1, 2
),
topk AS (
  SELECT query_id, doc_id FROM scored
  WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
  QUALIFY row_number() OVER w <= {K}
),
d2 AS (
  SELECT doc_id, {_toks_sql(False)} AS toks FROM documents
  WHERE doc_id IN (SELECT doc_id FROM topk)
),
occ2 AS (
  SELECT doc_id, unnest(toks) AS term,
         CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
  FROM d2
),
qw AS (
  SELECT DISTINCT q.query_id, q.term, ln(s.n_docs / df.df) AS weight
  FROM q JOIN df ON df.term = q.term CROSS JOIN stats s
),
mt AS (
  SELECT t.query_id, t.doc_id, qw.weight, o.pos
  FROM topk t JOIN occ2 o ON o.doc_id = t.doc_id
  JOIN qw ON qw.query_id = t.query_id AND qw.term = o.term
),
ws AS (
  SELECT query_id, doc_id, weight,
         CAST(unnest(generate_series(greatest(pos - {W} + 1, 0), pos))
              AS BIGINT) AS start
  FROM mt
),
agg AS (
  SELECT query_id, doc_id, start, sum(weight) AS snip_score
  FROM ws GROUP BY 1, 2, 3
),
best AS (
  SELECT query_id, doc_id, start, snip_score FROM agg
  WINDOW w AS (PARTITION BY query_id, doc_id
               ORDER BY round(snip_score, 6) DESC, start ASC)
  QUALIFY row_number() OVER w = 1
)
SELECT CAST(b.query_id AS BIGINT) AS query_id,
       CAST(b.doc_id AS BIGINT) AS doc_id,
       b.start, round(b.snip_score, 6) AS snip_score,
       array_to_string(list_slice(d2.toks, b.start + 1, b.start + {W}), ' ')
         AS snippet
FROM best b JOIN d2 ON d2.doc_id = b.doc_id
"""


def _facets_oracle_sql() -> str:
    sels = " UNION ALL ".join(
        f"SELECT m.query_id, '{c}' AS facet, CAST(dd.{c} AS VARCHAR) AS value "
        f"FROM m JOIN documents dd ON dd.doc_id = m.doc_id"
        for c in FACET_COLS
    )
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE},
{_queries_values_sql()},
qt AS (SELECT DISTINCT query_id, term FROM q),
m AS (SELECT DISTINCT qt.query_id, tf.doc_id
      FROM qt JOIN tf ON tf.term = qt.term),
fv AS ({sels})
SELECT CAST(query_id AS BIGINT) AS query_id, facet, value,
       CAST(count(*) AS BIGINT) AS n_docs
FROM fv GROUP BY 1, 2, 3
"""


def _expansion_oracle_sql(
    probes: list[tuple[int, int, str]], match_sql: str, max_exp: int
) -> str:
    """Shared prefix/fuzzy oracle: expand each probe occurrence to the
    max_exp highest-df lexicon matches (ties term-asc — wildcard.py's
    top-terms rewrite), then the standard disjunctive BM25 top-k."""
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    rows = ", ".join(f"({qid}, {pos}, '{p}')" for qid, pos, p in probes)
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
p(query_id, pos, probe) AS (VALUES {rows}),
exp AS (
  SELECT query_id, pos, term FROM (
    SELECT p.query_id, p.pos, df.term,
           row_number() OVER (PARTITION BY p.query_id, p.pos
                              ORDER BY df.df DESC, df.term ASC) AS r
    FROM p JOIN df ON {match_sql})
  WHERE r <= {max_exp}
),
scored AS (
  SELECT e.query_id, tf.doc_id,
         sum({part} * ln(s.n_docs / df.df)) AS raw_score
  FROM exp e JOIN df ON df.term = e.term JOIN tf ON tf.term = e.term
  CROSS JOIN stats s GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w <= {K}
"""


def _page2_oracle_sql() -> str:
    """Page-2 twin: the _topk_sql pipeline with the rank window sliced
    to ranks [K, 2K)."""
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
{_queries_values_sql()},
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum({part} * ln(s.n_docs / df.df)) AS raw_score
  FROM q JOIN df ON df.term = q.term JOIN tf ON tf.term = q.term
  CROSS JOIN stats s GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w > {K} AND row_number() OVER w <= {2 * K}
"""


def _synonym_oracle_sql() -> str:
    """Blended-tf synonym twin: per (query, group, doc) tf sums, group
    df = max present-member df, saturation applied per group."""
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
g(query_id, pos, term) AS (VALUES {", ".join(
    f"({qid}, {pos}, '{t}')" for qid, pos, t in SYN_QUERIES)}),
gd AS (
  SELECT g.query_id, g.pos, max(df.df) AS df
  FROM g JOIN df ON df.term = g.term GROUP BY 1, 2
),
bl AS (
  SELECT g.query_id, g.pos, tf.doc_id,
         sum(tf.tf) AS tf, max(tf.doc_len) AS doc_len
  FROM g JOIN tf ON tf.term = g.term GROUP BY 1, 2, 3
),
scored AS (
  SELECT bl.query_id, bl.doc_id,
         sum(bl.tf / (1.3*((1-0.5) + 0.5*(bl.doc_len/s.adl)) + bl.tf)
             * ln(s.n_docs / gd.df)) AS raw_score
  FROM bl JOIN gd ON gd.query_id = bl.query_id AND gd.pos = bl.pos
  CROSS JOIN stats s GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w <= {K}
"""


def _collapse_oracle_sql() -> str:
    """Collapsed top-k twin: per (query, conv) the best doc survives
    (round(score,6) desc, doc_id asc — the engine's tie rule), then the
    standard top-k window over the collapsed list."""
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
{_queries_values_sql()},
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum({part} * ln(s.n_docs / df.df)) AS raw_score
  FROM q JOIN df ON df.term = q.term JOIN tf ON tf.term = q.term
  CROSS JOIN stats s GROUP BY 1, 2
),
best AS (
  SELECT query_id, doc_id, doc_id % {COLLAPSE_MOD} AS conv_id, raw_score
  FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY query_id, doc_id % {COLLAPSE_MOD}
    ORDER BY round(raw_score, 6) DESC, doc_id ASC) = 1
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       CAST(conv_id AS BIGINT) AS conv_id,
       round(raw_score, 6) AS score
FROM best
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w <= {K}
"""


def _suggest_oracle_sql() -> str:
    """Spell-suggestion twin: lexicon candidates within SUGGEST_MAX_EDITS,
    occurrences whose best candidate is distance 0 (in-lexicon) vetoed,
    top SUGGEST_N per occurrence by (distance, df desc, term)."""
    rows = ", ".join(f"({qid}, {pos}, '{t}')" for qid, pos, t in SUGGEST_PROBES)
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE},
p(query_id, pos, token) AS (VALUES {rows}),
cand AS (
  SELECT p.query_id, p.pos, p.token, df.term AS suggestion,
         CAST(levenshtein(df.term, p.token) AS INT) AS distance, df.df
  FROM p JOIN df ON levenshtein(df.term, p.token) <= {SUGGEST_MAX_EDITS}
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(pos AS INT) AS pos,
       token, suggestion, distance, df,
       CAST(row_number() OVER w AS INT) AS srank
FROM cand
WINDOW w AS (PARTITION BY query_id, pos
             ORDER BY distance ASC, df DESC, suggestion ASC)
QUALIFY min(distance) OVER (PARTITION BY query_id, pos) > 0
    AND row_number() OVER w <= {SUGGEST_N}
"""


def _boolean_oracle_sql() -> str:
    """must/should score; must_not contributes nothing and vetoes;
    candidates need every corpus-present distinct must term (absent
    terms dropped by the df join — the engine's convention)."""
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    rows = ", ".join(
        f"({qid}, {pos}, '{t}', '{c}')" for qid, pos, t, c in BOOLEAN_QUERIES
    )
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
q(query_id, pos, term, clause) AS (VALUES {rows}),
nm AS (
  SELECT q.query_id, count(DISTINCT q.term) AS n_must
  FROM q JOIN df ON df.term = q.term WHERE q.clause = 'must' GROUP BY 1
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(CASE WHEN q.clause <> 'must_not'
             THEN {part} * ln(s.n_docs / df.df) ELSE 0 END) AS raw_score,
         count(DISTINCT CASE WHEN q.clause = 'must' THEN q.term END)
           AS must_hits,
         max(CASE WHEN q.clause = 'must_not' THEN 1 ELSE 0 END) AS banned
  FROM q JOIN df ON df.term = q.term JOIN tf ON tf.term = q.term
  CROSS JOIN stats s GROUP BY 1, 2
),
f AS (
  SELECT sc.query_id, sc.doc_id, sc.raw_score
  FROM scored sc LEFT JOIN nm ON nm.query_id = sc.query_id
  WHERE sc.must_hits = coalesce(nm.n_must, 0) AND sc.banned = 0
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM f
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w <= {K}
"""


def _msm_oracle_sql() -> str:
    """minimum_should_match twin of the boolean oracle: the should-hit
    count is literal (absent should terms never match)."""
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    rows = ", ".join(
        f"({qid}, {pos}, '{t}', '{c}')" for qid, pos, t, c in MSM_QUERIES
    )
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
q(query_id, pos, term, clause) AS (VALUES {rows}),
nm AS (
  SELECT q.query_id, count(DISTINCT q.term) AS n_must
  FROM q JOIN df ON df.term = q.term WHERE q.clause = 'must' GROUP BY 1
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(CASE WHEN q.clause <> 'must_not'
             THEN {part} * ln(s.n_docs / df.df) ELSE 0 END) AS raw_score,
         count(DISTINCT CASE WHEN q.clause = 'must' THEN q.term END)
           AS must_hits,
         count(DISTINCT CASE WHEN q.clause = 'should' THEN q.term END)
           AS should_hits,
         max(CASE WHEN q.clause = 'must_not' THEN 1 ELSE 0 END) AS banned
  FROM q JOIN df ON df.term = q.term JOIN tf ON tf.term = q.term
  CROSS JOIN stats s GROUP BY 1, 2
),
f AS (
  SELECT sc.query_id, sc.doc_id, sc.raw_score
  FROM scored sc LEFT JOIN nm ON nm.query_id = sc.query_id
  WHERE sc.must_hits = coalesce(nm.n_must, 0) AND sc.banned = 0
    AND sc.should_hits >= {MSM}
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM f
WINDOW w AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, doc_id ASC)
QUALIFY row_number() OVER w <= {K}
"""


def _hit_counts_oracle_sql() -> str:
    """Exact per-query hit count + best (rounded) score over the full
    candidate set — the scored CTE of _topk_sql without the cut."""
    part = "tf.tf / (1.3*((1-0.5) + 0.5*(tf.doc_len/s.adl)) + tf.tf)"
    return f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}, {_STATS_CTE},
{_queries_values_sql()},
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum({part} * ln(s.n_docs / df.df)) AS raw_score
  FROM q JOIN df ON df.term = q.term JOIN tf ON tf.term = q.term
  CROSS JOIN stats s GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       max(round(raw_score, 6)) AS max_score
FROM scored GROUP BY 1
"""


def _phrase_slop_oracle_sql() -> str:
    """Greedy earliest-next proximity chain, mirroring
    query/phrase.py::proximity_count_expr token for token."""
    from pulse_spark.text.normalize import tokens as py_tokens

    toks = py_tokens(PHRASE, SETTINGS.preprocess)
    n = len(toks)
    pos = {
        j: (
            f"list_filter(range(1, len(toks) + 1), "
            f"p{j} -> toks[p{j}] = '{t}')"
        )
        for j, t in enumerate(toks)
    }
    chain = "i"
    for j in range(1, n):
        chain = f"list_min(list_filter({pos[j]}, q{j} -> q{j} > {chain}))"
    cond = f"{chain} <= i + {n - 1 + PHRASE_SLOP}" if n > 1 else "true"
    return f"""
WITH d AS (SELECT doc_id, {_toks_sql(True)} AS toks FROM documents),
c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(CASE WHEN len(toks) >= {n} THEN
           len(list_filter({pos[0]}, i -> {cond}))
         ELSE 0 END AS BIGINT) AS n_occ
  FROM d
)
SELECT doc_id, n_occ FROM c WHERE n_occ > 0
"""


def _near_oracle_sql() -> str:
    """Unordered-near twin, mirroring near_count_expr position for
    position: every distinct term has an occurrence inside the
    [i, i + n - 1 + slop] window."""
    from pulse_spark.text.normalize import tokens as py_tokens

    seen: dict[str, None] = {}
    for t in py_tokens(NEAR_TERMS, SETTINGS.preprocess):
        seen.setdefault(t)
    toks = list(seen)
    n = len(toks)
    w = n + NEAR_SLOP
    cond = " AND ".join(
        f"len(list_filter(list_filter(range(1, len(toks) + 1), "
        f"p{j} -> toks[p{j}] = '{t}'), q{j} -> q{j} >= i AND q{j} < i + {w}))"
        f" > 0"
        for j, t in enumerate(toks)
    )
    return f"""
WITH d AS (SELECT doc_id, {_toks_sql(True)} AS toks FROM documents),
c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(CASE WHEN len(toks) >= {n} THEN
           len(list_filter(range(1, len(toks) + 1), i -> {cond}))
         ELSE 0 END AS BIGINT) AS n_occ
  FROM d
)
SELECT doc_id, n_occ FROM c WHERE n_occ > 0
"""


FULLTEXT_ORACLES = {
    "corpus_stats": f"""
WITH {_D_CTE}
SELECT CAST(count(*) AS BIGINT) AS n_docs, round(avg(doc_len), 6) AS adl FROM d
""",
    "doc_stats": f"""
WITH {_D_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_len,
       CAST(len(toks) AS BIGINT) AS n_tokens
FROM d
""",
    "tokens_exploded": f"""
WITH {_D_CTE}, {_TOK_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id, pos, term FROM tok
""",
    "term_tf": f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tf FROM tf
""",
    "term_df": f"""
WITH {_D_CTE}, {_TOK_CTE}, {_TF_CTE}, {_DF_CTE}
SELECT term, df, max_tf FROM df
""",
    "bm25_topk": _topk_sql("BM25", conjunctive=False),
    "bm25_conjunctive_topk": _topk_sql("BM25", conjunctive=True),
    "tfidf_topk": _topk_sql("TFIDF", conjunctive=False),
    # the segments path must agree with the SAME relational oracle —
    # codecs + block encode/decode + MaxScore pruning are all under test
    "bm25_segments_topk": _topk_sql("BM25", conjunctive=False),
    # the no-Spark serving path must agree with the SAME relational oracle
    "bm25_sidecar_topk": _topk_sql("BM25", conjunctive=False),
    # ...and so must the 2-shard fleet merge (shard-partition + top-k
    # merge lose nothing)
    "bm25_sharded_topk": _topk_sql("BM25", conjunctive=False),
    "retrieval_quality": _quality_oracle_sql(),
    "phrase_match": _phrase_oracle_sql(),
    # candidate filter on lang='en'; stats stay global on both sides
    "bm25_filtered_topk": _topk_sql(
        "BM25", conjunctive=False,
        filter_sql=("AND tf.doc_id IN (SELECT doc_id FROM documents "
                    f"WHERE lang = '{FILTER_LANG}')"),
    ),
    "bm25_rm3_topk": _rm3_oracle_sql(),
    "more_like_this": _mlt_oracle_sql(),
    "snippet_extract": _snippet_oracle_sql(),
    "facet_counts": _facets_oracle_sql(),
    "bm25_prefix_topk": _expansion_oracle_sql(
        PREFIX_PROBES, "df.term LIKE p.probe || '%'", PREFIX_MAX_EXP
    ),
    "bm25_fuzzy_topk": _expansion_oracle_sql(
        FUZZY_PROBES,
        f"levenshtein(df.term, p.probe) <= {FUZZY_MAX_EDITS}",
        FUZZY_MAX_EXP,
    ),
    "bm25_boolean_topk": _boolean_oracle_sql(),
    "phrase_slop_match": _phrase_slop_oracle_sql(),
    "near_match": _near_oracle_sql(),
    "bm25_explain": _explain_sql(),
    "spell_suggest": _suggest_oracle_sql(),
    "bm25_collapse_topk": _collapse_oracle_sql(),
    "bm25_msm_topk": _msm_oracle_sql(),
    "hit_counts": _hit_counts_oracle_sql(),
    "bm25_synonym_topk": _synonym_oracle_sql(),
    "bm25_page2_topk": _page2_oracle_sql(),
    "bm25_regexp_topk": _expansion_oracle_sql(
        REGEXP_PROBES,
        "regexp_full_match(df.term, p.probe)", REGEXP_MAX_EXP),
    # bm25_stemmed_topk: intentionally no oracle (DuckDB cannot stem)
}
