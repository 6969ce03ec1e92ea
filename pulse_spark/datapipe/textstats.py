"""Text-analysis operators for large-scale training-data pipelines:
language-ID heuristic, quality scoring, token counting, document
fingerprinting.

All of these are pure column expressions (JVM-side, whole-stage codegen —
no Python in the hot path); each has an exact DuckDB oracle in
datapipe/harness.py.  At 100 TB these run as a single scan with no
shuffle (per-row projections), so they pipeline with any downstream op.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pulse_spark.text.stopwords import STOPWORDS
from pulse_spark.text.udfs import trimmed

# BPE-ish token regex: letter runs, digit runs, single other-glyphs
TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens of the lowercased text (array<string>)."""
    return F.filter(
        F.split(F.lower(trimmed(col)), r"\s+"), lambda x: x != F.lit("")
    )


def text_quality(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality signals: byte/char/token counts, stopword ratio,
    digit ratio, mean token length, composite quality in [0,1].

    The intermediates (trimmed text, lowered text, token array, counts)
    are materialized as named columns in CHAINED projections rather than
    inlined expressions: CollapseProject keeps a multi-use non-cheap
    column as a real attribute, while the inlined form re-evaluated the
    trim regexes ~15x and the tokenizer split ~7x per row AND fell out
    of whole-stage codegen on expression-tree size (guide §1.2 step 2 —
    measured: the one-Project form ran interpreted)."""
    stop_arr = F.array(*[F.lit(w) for w in sorted(STOPWORDS)])
    pre = (
        docs.select(
            F.col(id_col).cast("long").alias(id_col),
            trimmed(F.col("text")).alias("_trim"),
        )
        .select(id_col, "_trim", F.lower(F.col("_trim")).alias("_lt"))
        .select(
            id_col,
            F.octet_length("_trim").cast("long").alias("n_bytes"),
            F.length("_trim").cast("double").alias("_n_chars"),
            "_lt",
            F.filter(
                F.split(F.col("_lt"), r"\s+"), lambda x: x != F.lit("")
            ).alias("_toks"),
        )
        .select(
            id_col, "n_bytes", "_n_chars", "_lt", "_toks",
            F.size("_toks").cast("long").alias("n_tokens"),
            # DISTINCT stopwords present / distinct tokens (set semantics
            # keep the SQL oracle simple: array_intersect is set-valued)
            F.size(F.array_distinct("_toks")).cast("double").alias("_n_distinct"),
        )
    )
    digits = (
        F.col("_n_chars")
        - F.length(F.regexp_replace(F.col("_lt"), "[0-9]", ""))
    ).cast("double")
    out = pre.select(
        id_col,
        "n_bytes",
        "n_tokens",
        F.size(F.regexp_extract_all(F.col("_lt"), F.lit(TOKEN_RE), 0))
        .cast("long").alias("n_bpe_tokens"),
        F.round(
            F.when(
                F.col("_n_distinct") > 0,
                F.size(F.array_intersect(F.col("_toks"), stop_arr)).cast("double")
                / F.col("_n_distinct"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.when(F.col("_n_chars") > 0, digits / F.col("_n_chars"))
            .otherwise(F.lit(0.0)), 6
        ).alias("digit_ratio"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.aggregate(
                    F.transform(F.col("_toks"), lambda x: F.length(x).cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mean_token_len"),
    )
    # composite quality: rewards 20-200 token docs, penalizes digit soup
    q = (
        F.least(F.col("n_tokens").cast("double") / 20.0, F.lit(1.0))
        * (1.0 - F.col("digit_ratio"))
    )
    return out.withColumn("quality", F.round(F.greatest(q, F.lit(0.0)), 6))


def lang_id_heuristic(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stopword-density language ID: English text carries a high density
    of English stopwords. Output (id, en_stop_ratio, pred_en).

    Stopword counting (with multiplicity) is an `aggregate` whose
    membership test is `isin(174 literals)` — Catalyst rewrites a
    literal In past inSetConversionThreshold into an InSet HASH lookup,
    one probe per token.  The previous `filter(toks,
    array_contains(literal_array, x))` form was an interpreted LINEAR
    scan of all 174 strings per token — the 10x rehearsal measured it
    as this operator's entire constant (three measured forms at 3.4 M
    tokens: array_contains 17-23 s, explode + broadcast-join + re-agg
    80 s (!), isin/InSet 5.4 s — the zero-shuffle hash probe wins)."""
    stop_list = sorted(STOPWORDS)
    # materialize the token array and the ratio once (chained projects;
    # the inlined form ran the tokenizer + InSet aggregate twice per row
    # — once for the rounded ratio, once for the predicate)
    pre = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        ws_tokens(F.col("text")).alias("_toks"),
    )
    n = F.size("_toks").cast("double")
    n_stop = F.aggregate(
        F.col("_toks"),
        F.lit(0),
        lambda acc, x: acc + F.when(x.isin(stop_list), 1).otherwise(0),
    ).cast("double")
    withr = pre.select(
        id_col,
        F.when(n > 0, n_stop / n).otherwise(F.lit(0.0)).alias("_ratio"),
    )
    return withr.select(
        id_col,
        F.round("_ratio", 6).alias("en_stop_ratio"),
        (F.col("_ratio") >= 0.08).cast("boolean").alias("pred_en"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id",
                 method: str = "md5") -> DataFrame:
    """Document fingerprints: full-text hash of the normalized text plus
    a min-shingle fingerprint (min hash over 5-char shingles — the k=1
    MinHash, a rolling-fingerprint analog).

    method="md5" (default): hex-string md5 — the oracle-parity path
    (DuckDB computes the identical values).
    method="xxhash64": the fast path — same fingerprint semantics with
    Spark's JVM-codegen 64-bit xxhash in place of md5: no 32-char hex
    string materialized per shingle, one BIGINT per shingle instead.
    DuckDB has no xxhash64, so this variant is pinned against the repo's
    pure-python twin (tests/xxhash64.py, bit-identical to
    F.xxhash64 by hypothesis test) instead of the SQL oracle.  Columns:
    (doc_id, text_fp:long, min_shingle_fp:long)."""
    norm = F.regexp_replace(F.lower(trimmed(F.col("text"))), r"\s+", " ")
    # Guarded: sequence(1, 0) in Spark is [1, 0] (descending, not empty), so
    # docs shorter than 5 chars would fingerprint hash(substring(_norm, 0, 5))
    # — a silent divergence from the DuckDB oracle's empty range(1, 1).
    # Empty array -> array_min NULL, matching list_aggregate(min) of [].
    # _norm is a materialized multi-use attr, so CollapseProject keeps it
    # out of the HOF lambda (Spark HOFs re-evaluate inlined non-lambda
    # subexpressions PER ELEMENT — see bigram_pmi's round-4 fix).
    if method == "md5":
        shingles = F.expr(
            "CASE WHEN length(_norm) >= 5 THEN "
            "transform(sequence(1, length(_norm) - 4), i -> md5(substring(_norm, i, 5))) "
            "ELSE cast(array() as array<string>) END"
        )
        cols = [F.md5("_norm").alias("text_md5"),
                F.array_min(shingles).alias("min_shingle_md5")]
    elif method == "xxhash64":
        shingles = F.expr(
            "CASE WHEN length(_norm) >= 5 THEN "
            "transform(sequence(1, length(_norm) - 4), i -> xxhash64(substring(_norm, i, 5))) "
            "ELSE cast(array() as array<bigint>) END"
        )
        cols = [F.xxhash64("_norm").alias("text_fp"),
                F.array_min(shingles).alias("min_shingle_fp")]
    else:
        raise ValueError(f"unknown fingerprint method: {method!r}")
    return (
        docs.withColumn("_norm", norm)
        .select(F.col(id_col).cast("long").alias(id_col), *cols)
    )


def keyword_extract(docs: DataFrame, k: int = 3, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, rank, term, tf, score): top-k TF-IDF keywords per doc —
    the topic-tagging primitive of a training-data pipeline (doc routing,
    domain mixing weights).

    score = tf * ln(N/df), ranked on round(score, 6) with term-asc
    tie-break so Spark and the SQL oracle agree bit-for-bit.

    Scale: one explode + two hash aggregations (both with map-side
    partial agg), a broadcast of the 1-row corpus count, and a per-doc
    window (groups are doc-sized, never corpus-sized).  No driver
    collect; the df table is vocabulary-sized."""
    from pyspark.sql import Window

    ex = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.explode(ws_tokens(F.col("text"))).alias("term"),
    )
    tf = ex.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("rank") < k)
        .select(id_col, "rank", "term", F.col("tf").cast("long").alias("tf"),
                "score")
    )


def bigram_pmi(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """(w1, w2, n_ab, pmi): adjacent-token bigrams with pointwise mutual
    information — collocation mining (tokenizer-merge candidates, phrase
    vocabularies).

    pmi = ln( (n_ab/T_bi) / ((n_a/T_u)(n_b/T_u)) ), computed as one
    expression ln(n_ab*T_u²/(T_bi*n_a*n_b)) so the SQL oracle rounds
    identically.  min_count drops the noise tail (and bounds the output
    at scale: bigram types are Heaps-sublinear after a count floor).

    Scale: two explodes + three hash aggs (all partial-agg), scalar
    totals broadcast.  Bigram construction is arrays_zip of two slices —
    NOT element_at inside a transform lambda: higher-order functions are
    interpreted per element, so a ``transform(sequence(1, n-1), i ->
    element_at(toks, i))`` re-runs the tokenizer regex once PER TOKEN
    (O(len²) per doc — measured 12x wall at 10x corpus in the scale
    rehearsal).  The zip-of-slices form evaluates the tokenizer a
    constant ~4 times per row.  slice with length 0 is empty (never
    negative), so n < 2 needs no sequence-style guard — but n_tokens==1
    would slice length 0 fine while n==0 makes ``n-1`` negative, so the
    `when` guard stays."""
    # materialize the token array (r6: the zip-of-slices form still
    # evaluated the tokenizer ~4x per row; as a named multi-use column it
    # runs once — CollapseProject keeps it an attribute)
    tokd = docs.select(ws_tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    zipped = F.arrays_zip(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1)
    )
    pairs = F.when(n >= 2, zipped).otherwise(
        F.array().cast("array<struct<`0`:string,`1`:string>>")
    )
    bi = (
        tokd.select(F.explode(pairs).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    uni = (
        tokd.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t_bi = bi.agg(F.sum("n_ab").alias("t_bi"))
    t_u = uni.agg(F.sum("n").alias("t_u"))
    ua = uni.select(F.col("w").alias("w1"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n").alias("n_b"))
    return (
        bi.where(F.col("n_ab") >= min_count)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(t_bi))
        .crossJoin(F.broadcast(t_u))
        .select(
            "w1", "w2", F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("t_u") * F.col("t_u"))
                    / (F.col("t_bi") * F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
