"""Named data-pipeline operators + DuckDB oracles (driver contract).

Same conventions as pulse_spark.harness: aliases match on both sides,
ints cast to BIGINT, doubles round(6); md5 is the shared hash primitive.
Ops with no SQL oracle (pandas-UDF SimHash, LSH-approximate top-k,
multimodal feature extraction) get the driver's weaker rows-only check
and are pinned by pytest instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pulse_spark.datapipe import dedup, events, multimodal, similarity, textstats
from pulse_spark.sources.readers import (local_table, read_parquet_cached,
                                         read_parquet_spread)
from pulse_spark.text.stopwords import STOPWORDS_SQL

ANN_QUERY_IDS = [0, 1, 2]
EMB_DIM = 64
JACCARD_TAU = 0.2
NEAR_DUP_COSINE = 0.5


def _docs(spark, sf_dir):
    # scale-adaptive spread (readers.py): small single-row-group inputs
    # otherwise run every per-row operator in ONE task; no-op at scale
    return read_parquet_spread(spark, f"{sf_dir}/documents.parquet", "doc_id")


def _emb(spark, sf_dir):
    return read_parquet_spread(spark, f"{sf_dir}/embeddings.parquet", "vec_id")


def _events(spark, sf_dir):
    # NOT spread: sessionize/hourly shuffle to user/hour keys immediately
    # and the pre-shuffle per-row work (timestamp decode) is cheap —
    # measured r6: the spread exchange COST 0.6 s/query here for nothing
    return read_parquet_cached(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def q_text_quality(spark, sf_dir):
    return textstats.text_quality(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return textstats.lang_id_heuristic(_docs(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    return textstats.fingerprints(_docs(spark, sf_dir))


def q_fingerprints_xxhash(spark, sf_dir):
    """Fast-path twin of `fingerprints` (no_oracle: DuckDB lacks
    xxhash64; pinned by tests/test_datapipe.py::
    test_fingerprints_xxhash64_twin against the bit-exact pure-python
    xxhash64)."""
    return textstats.fingerprints(_docs(spark, sf_dir), method="xxhash64")


def q_exact_dup_groups(spark, sf_dir):
    # unspread read: this plan reduces each row to a 32-byte digest
    # immediately and its groupBy shuffles only digests — spreading
    # would move the full text through an exchange first (guide §8:
    # never shuffle heavy bytes you are about to reduce; measured
    # 1.6 s -> 4.4 s at the 10x rehearsal when spread)
    return dedup.exact_dup_groups(
        read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), min_jaccard=JACCARD_TAU)


def q_ngram_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), min_jaccard=JACCARD_TAU)


def q_near_dup_clusters(spark, sf_dir):
    """Connected components over the near-dup pair graph (iterative
    min-label propagation; DuckDB oracle = recursive-CTE closure)."""
    return dedup.near_dup_clusters(_docs(spark, sf_dir), min_jaccard=JACCARD_TAU)


def q_corpus_filter(spark, sf_dir):
    """Composed training-data prep decisions: quality thresholds +
    near-dup-canonical keep, one plan."""
    from pulse_spark.datapipe.pipeline import corpus_filter

    return corpus_filter(_docs(spark, sf_dir), min_jaccard=JACCARD_TAU)


def q_simhash(spark, sf_dir):
    return dedup.simhash_table(_docs(spark, sf_dir))


def q_simhash_near_dups(spark, sf_dir):
    """Hamming-banded SimHash near-dup pairs (no SQL oracle — simhash is
    a pandas UDF; locality + banding exactness pinned in pytest)."""
    return dedup.simhash_near_dup_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_cosine_topk(spark, sf_dir):
    return similarity.brute_cosine_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=10)


def q_lsh_buckets(spark, sf_dir):
    return similarity.lsh_buckets(_emb(spark, sf_dir), dim=EMB_DIM)


def q_lsh_cosine_topk(spark, sf_dir):
    return similarity.lsh_cosine_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, dim=EMB_DIM, k=10)


def q_ivf_cosine_topk(spark, sf_dir):
    """IVF approximate ANN (no SQL oracle — k-means cells aren't SQL-
    expressible; recall vs brute force is pinned in pytest)."""
    return similarity.ivf_cosine_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=10)


def q_embedding_near_dups(spark, sf_dir):
    return similarity.embedding_near_dup_pairs(_emb(spark, sf_dir), min_cosine=NEAR_DUP_COSINE)


def q_decontaminate(spark, sf_dir):
    """Train-test decontamination: docs with doc_id % 23 == 0 play the
    benchmark/eval set, the rest the training corpus; n=3 shingles so
    the small-SF fixture actually produces contamination hits (the
    operator default n=8 finds only near-verbatim overlap)."""
    d = _docs(spark, sf_dir)
    bench = d.where(F.pmod(F.col("doc_id"), F.lit(23)) == 0)
    train = d.where(F.pmod(F.col("doc_id"), F.lit(23)) != 0)
    return dedup.decontaminate(train, bench, n=3)


def q_repetition(spark, sf_dir):
    return dedup.repetition_score(_docs(spark, sf_dir))


def q_multimodal_meta(spark, sf_dir):
    return multimodal.multimodal_meta(_docs(spark, sf_dir))


def q_multimodal_features(spark, sf_dir):
    feats = multimodal.extract_features(multimodal.as_binary_payload(_docs(spark, sf_dir)))
    # arrays hash poorly across engines; expose dim + first component
    return feats.select(
        "doc_id",
        "n_bytes",
        F.size("feature").cast("long").alias("dim"),
        F.round(F.element_at("feature", 1), 6).alias("f0"),
    )


def q_conv_stats(spark, sf_dir):
    """Transcript-structure profile over the deterministic multi-turn
    wrapping of the documents table (transcripts.py)."""
    from pulse_spark.datapipe import transcripts as tr

    return tr.conv_stats(tr.docs_as_transcripts(_docs(spark, sf_dir)))


def q_conv_text(spark, sf_dir):
    """Conversation flattening under stable turn ordering (the north-rule
    per-turn text invariant, conversation-level)."""
    from pulse_spark.datapipe import transcripts as tr

    return tr.conv_text(tr.docs_as_transcripts(_docs(spark, sf_dir)))


def q_response_pairs(spark, sf_dir):
    """(prompt, response) turn pairing — co-partitioned self-join."""
    from pulse_spark.datapipe import transcripts as tr

    return tr.response_pairs(tr.docs_as_transcripts(_docs(spark, sf_dir)))


def q_keyword_extract(spark, sf_dir):
    """Top-3 TF-IDF keywords per doc (topic tagging / domain routing)."""
    return textstats.keyword_extract(_docs(spark, sf_dir), k=3)


def q_bigram_pmi(spark, sf_dir):
    """Adjacent-token collocations by PMI (tokenizer-merge candidates)."""
    return textstats.bigram_pmi(_docs(spark, sf_dir), min_count=5)


def q_turn_windows(spark, sf_dir):
    """Sliding 3-turn context windows per conversation (training-sample
    packing with bounded context)."""
    from pulse_spark.datapipe import transcripts as tr

    return tr.turn_windows(tr.docs_as_transcripts(_docs(spark, sf_dir)), window=3)


def q_train_val_split(spark, sf_dir):
    """Deterministic hash train/val split (stable under corpus growth)."""
    from pulse_spark.datapipe.pipeline import train_val_split

    return train_val_split(_docs(spark, sf_dir), val_frac=0.125)


def q_events_hourly(spark, sf_dir):
    return events.hourly_counts(_events(spark, sf_dir))


def q_events_sessions(spark, sf_dir):
    return events.sessionize(_events(spark, sf_dir))



def q_bm25_conv_weighted_topk(spark, sf_dir):
    """Conversation-level BM25F-style retrieval over the deterministic
    transcript wrapping: user turns (turn parity) weigh 2x assistant
    turns in both tf and the length normalizer (transcripts.py)."""
    from pulse_spark.datapipe import transcripts as tr
    from pulse_spark.harness import SETTINGS, _q_occurrences

    occ = local_table(
        spark, _q_occurrences(SETTINGS.preprocess),
        "query_id long, pos int, term string",
    )
    res = tr.conv_weighted_topk(
        tr.docs_as_transcripts(_docs(spark, sf_dir)), occ,
        k=10, settings=SETTINGS, tie_round=6,
    )
    return res.select(
        F.col("query_id").cast("long"),
        F.col("conv_id").cast("long"),
        F.col("rank").cast("long"),
        F.round("score", 6).alias("score"),
    )


DATAPIPE_QUERIES = {
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "fingerprints": q_fingerprints,
    "fingerprints_xxhash": q_fingerprints_xxhash,
    "exact_dup_groups": q_exact_dup_groups,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "decontaminate": q_decontaminate,
    "repetition_score": q_repetition,
    "near_dup_clusters": q_near_dup_clusters,
    "corpus_filter": q_corpus_filter,
    "simhash": q_simhash,
    "simhash_near_dups": q_simhash_near_dups,
    "cosine_topk": q_cosine_topk,
    "lsh_buckets": q_lsh_buckets,
    "lsh_cosine_topk": q_lsh_cosine_topk,
    "ivf_cosine_topk": q_ivf_cosine_topk,
    "embedding_near_dups": q_embedding_near_dups,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_features": q_multimodal_features,
    "conv_stats": q_conv_stats,
    "bm25_conv_weighted_topk": q_bm25_conv_weighted_topk,
    "conv_text": q_conv_text,
    "response_pairs": q_response_pairs,
    "keyword_extract": q_keyword_extract,
    "bigram_pmi": q_bigram_pmi,
    "turn_windows": q_turn_windows,
    "train_val_split": q_train_val_split,
    "events_hourly": q_events_hourly,
    "events_sessions": q_events_sessions,
}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TRIM = (
    r"regexp_replace(regexp_replace(text, '^[ \t\n\r\f\x0B]+', ''),"
    r" '[ \t\n\r\f\x0B]+$', '')"
)
# DuckDB's lower() maps case simply ('ΟΔΟΣ' -> 'οδοσ', 'İstanbul' ->
# 'istanbul'; Spark gives 'οδος', 'i̇stanbul'), so the oracles on _NORM and
# _WS_TOKS are exact only on text without final sigma or dotted capital I.
_NORM = f"regexp_replace(lower({_TRIM}), '\\s+', ' ', 'g')"
_WS_TOKS = f"list_filter(string_split_regex(lower({_TRIM}), '\\s+'), x -> x <> '')"

_TQ_CTE = f"""
t AS (
  SELECT doc_id,
         CAST(strlen({_TRIM}) AS BIGINT) AS n_bytes,
         CAST(length({_TRIM}) AS BIGINT) AS n_chars,
         {_WS_TOKS} AS toks,
         lower({_TRIM}) AS lt
  FROM documents
)"""


def _sessionize_sql(gap_min: int) -> str:
    return f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > {gap_min * 60}
              THEN 1
              WHEN lag(epoch(ts)) OVER w IS NULL THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM sess GROUP BY user_id, sess_id
"""


def _minhash_ctes() -> str:
    k, bands = dedup.MINHASH_K, dedup.BANDS
    r = k // bands
    sig_cols = ", ".join(
        f"min(md5('{i}|' || shingle)) AS sig_{i}" for i in range(k)
    )
    sep = " || '|' || "
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({sep.join(f'sig_{b * r + j}' for j in range(r))}) AS band_key "
        "FROM sigs"
        for b in range(bands)
    )
    n = dedup.SHINGLE_N
    return f"""
tk AS (
  SELECT doc_id,
         list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
  FROM documents
),
shl AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1),
                        i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' ')) AS shingles
  FROM tk
),
sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shl),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects})
"""


_JACCARD_TAIL = f"""
inter AS (
  SELECT a.id_a, a.id_b, CAST(count(*) AS DOUBLE) AS n_common
  FROM (SELECT c.id_a, c.id_b, s.shingle
        FROM cand c JOIN sh s ON s.doc_id = c.id_a) a
  JOIN sh sb ON sb.doc_id = a.id_b AND sb.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT CAST(i.id_a AS BIGINT) AS id_a, CAST(i.id_b AS BIGINT) AS id_b,
       round(i.n_common / (na.n_sh + nb.n_sh - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE round(i.n_common / (na.n_sh + nb.n_sh - i.n_common), 6) >= {JACCARD_TAU}
"""


def _lsh_plane_sql() -> str:
    planes = similarity.lsh_planes(EMB_DIM, similarity.LSH_BITS)
    terms = []
    for b, plane in enumerate(planes):
        arr = "[" + ", ".join(f"{float(s):.1f}" for s in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {2 ** b} ELSE 0 END)"
        )
    return " + ".join(terms)


DATAPIPE_ORACLES = {
    "text_quality": f"""
WITH {_TQ_CTE}
SELECT doc_id, n_bytes,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
         AS n_bpe_tokens,
       round(CASE WHEN len(list_distinct(toks)) > 0
             THEN CAST(len(list_filter(list_distinct(toks),
                  x -> list_contains([{STOPWORDS_SQL}], x))) AS DOUBLE)
                  / len(list_distinct(toks))
             ELSE 0.0 END, 6) AS stopword_ratio,
       round(CASE WHEN n_chars > 0
             THEN (n_chars - length(regexp_replace(lt, '[0-9]', '', 'g')))
                  / CAST(n_chars AS DOUBLE)
             ELSE 0.0 END, 6) AS digit_ratio,
       round(CASE WHEN len(toks) > 0
             THEN list_aggregate(list_transform(toks, x -> CAST(strlen(x) AS DOUBLE)), 'sum')
                  / len(toks)
             ELSE 0.0 END, 6) AS mean_token_len,
       round(greatest(
         least(len(toks) / 20.0, 1.0)
         * (1.0 - round(CASE WHEN n_chars > 0
             THEN (n_chars - length(regexp_replace(lt, '[0-9]', '', 'g')))
                  / CAST(n_chars AS DOUBLE)
             ELSE 0.0 END, 6)), 0.0), 6) AS quality
FROM t
""",
    "lang_id": f"""
WITH {_TQ_CTE}
SELECT doc_id,
       round(CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, x -> list_contains([{STOPWORDS_SQL}], x))) AS DOUBLE)
                  / len(toks) ELSE 0.0 END, 6) AS en_stop_ratio,
       (CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, x -> list_contains([{STOPWORDS_SQL}], x))) AS DOUBLE)
                  / len(toks) ELSE 0.0 END) >= 0.08 AS pred_en
FROM t
""",
    "fingerprints": f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5({_NORM}) AS text_md5,
       list_aggregate(
         list_transform(range(1, greatest(length({_NORM}) - 4, 0) + 1),
                        i -> md5(substr({_NORM}, CAST(i AS INT), 5))), 'min')
         AS min_shingle_md5
FROM documents
""",
    "exact_dup_groups": f"""
SELECT md5({_NORM}) AS text_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_id
FROM documents GROUP BY 1
""",
    "minhash_lsh_pairs": f"""
WITH {_minhash_ctes()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL}
""",
    "ngram_jaccard_pairs": f"""
WITH {_minhash_ctes()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL}
""",
    "cosine_topk": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
      WHERE vec_id IN ({", ".join(map(str, ANN_QUERY_IDS))})),
s AS (
  SELECT q.qid AS query_id, n.vec_id,
         round(list_dot_product(n.v, q.qv) / (n.nrm * q.qn), 6) AS cosine
  FROM n, q WHERE n.vec_id <> q.qid
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, cosine
FROM s WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC)
QUALIFY row_number() OVER w <= 10
""",
    "lsh_buckets": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST({_lsh_plane_sql()} AS BIGINT) AS bucket
FROM e
""",
    "embedding_near_dups": f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {NEAR_DUP_COSINE}
""",
    "multimodal_meta": """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(CASE WHEN strlen(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE 0 END
            AS BIGINT) AS head_byte
FROM documents
""",
    "events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
""",
    "events_sessions": _sessionize_sql(events.SESSION_GAP_MIN),
    "conv_stats": f"""
WITH tr AS (
  SELECT doc_id % 100 AS conv_id, doc_id // 100 AS turn_idx, text
  FROM documents
)
SELECT CAST(conv_id AS BIGINT) AS conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(min(turn_idx) AS BIGINT) AS first_turn,
       CAST(max(turn_idx) AS BIGINT) AS last_turn,
       CAST(sum(strlen({_TRIM})) AS BIGINT) AS total_bytes,
       round(avg(strlen({_TRIM})), 6) AS mean_turn_bytes
FROM tr GROUP BY 1
""",
    "conv_text": """
WITH tr AS (
  SELECT doc_id % 100 AS conv_id, doc_id // 100 AS turn_idx, text
  FROM documents
)
SELECT CAST(conv_id AS BIGINT) AS conv_id,
       string_agg(text, ' ' ORDER BY turn_idx) AS text
FROM tr GROUP BY 1
""",
    "response_pairs": """
WITH tr AS (
  SELECT doc_id % 100 AS conv_id, doc_id // 100 AS turn_idx, text
  FROM documents
)
SELECT CAST(a.conv_id AS BIGINT) AS conv_id,
       CAST(a.turn_idx AS BIGINT) AS turn_idx,
       a.text AS text, b.text AS next_text
FROM tr a JOIN tr b ON b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx + 1
""",
    "keyword_extract": f"""
WITH tk AS (SELECT doc_id, {_WS_TOKS} AS toks FROM documents),
ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS rank,
       tf.term AS term,
       CAST(tf.tf AS BIGINT) AS tf,
       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
FROM tf JOIN df USING (term), n
WINDOW w AS (PARTITION BY tf.doc_id
             ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                      DESC, tf.term ASC)
QUALIFY row_number() OVER w <= 3
""",
    "bigram_pmi": f"""
WITH tk AS (SELECT doc_id, {_WS_TOKS} AS toks FROM documents),
pr AS (
  SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> struct_pack(w1 := toks[CAST(i AS INT)],
                                 w2 := toks[CAST(i AS INT) + 1]))) AS p
  FROM tk
),
bi AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_ab FROM pr GROUP BY 1, 2),
uni AS (SELECT unnest(toks) AS w FROM tk),
un AS (SELECT w, count(*) AS n FROM uni GROUP BY 1),
tb AS (SELECT sum(n_ab) AS t_bi FROM bi),
tu AS (SELECT sum(n) AS t_u FROM un)
SELECT bi.w1 AS w1, bi.w2 AS w2, CAST(bi.n_ab AS BIGINT) AS n_ab,
       round(ln((CAST(bi.n_ab AS DOUBLE) * tu.t_u * tu.t_u)
                / (CAST(tb.t_bi AS DOUBLE) * ua.n * ub.n)), 6) AS pmi
FROM bi
JOIN un ua ON ua.w = bi.w1
JOIN un ub ON ub.w = bi.w2, tb, tu
WHERE bi.n_ab >= 5
""",
    "turn_windows": """
WITH tr AS (
  SELECT doc_id % 100 AS conv_id, doc_id // 100 AS turn_idx, text
  FROM documents
)
SELECT CAST(a.conv_id AS BIGINT) AS conv_id,
       CAST(a.turn_idx AS BIGINT) AS start_turn,
       CAST(3 AS BIGINT) AS n_turns,
       string_agg(b.text, ' ' ORDER BY b.turn_idx) AS text
FROM tr a
JOIN tr b ON b.conv_id = a.conv_id
         AND b.turn_idx BETWEEN a.turn_idx AND a.turn_idx + 2
GROUP BY a.conv_id, a.turn_idx
HAVING count(*) = 3
""",
    "train_val_split": """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 3) < '200'
            THEN 'val' ELSE 'train' END AS split
FROM documents
""",
    # no oracle (rows-only): simhash, simhash_near_dups, lsh_cosine_topk,
    # ivf_cosine_topk, multimodal_features
}

# clusters / composed-filter oracles reuse earlier oracle SQL as
# subqueries (DuckDB supports WITH inside a parenthesized subquery)
DATAPIPE_ORACLES["near_dup_clusters"] = f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({DATAPIPE_ORACLES["minhash_lsh_pairs"]})
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT CAST(src AS BIGINT) AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
FROM reach GROUP BY 1
"""

DATAPIPE_ORACLES["corpus_filter"] = f"""
WITH RECURSIVE cl AS (
  SELECT * FROM ({DATAPIPE_ORACLES["near_dup_clusters"]})
),
tq AS (
  SELECT * FROM ({DATAPIPE_ORACLES["text_quality"]})
)
SELECT CAST(tq.doc_id AS BIGINT) AS doc_id,
       (tq.n_tokens >= 5 AND tq.digit_ratio <= 0.3
        AND tq.stopword_ratio >= 0.01) AS keep_quality,
       (cl.cluster_id = cl.doc_id) AS keep_dedup,
       ((tq.n_tokens >= 5 AND tq.digit_ratio <= 0.3
         AND tq.stopword_ratio >= 0.01)
        AND cl.cluster_id = cl.doc_id) AS keep
FROM tq JOIN cl ON cl.doc_id = tq.doc_id
"""

# 3-token shingle CTE shared by the decontamination / repetition oracles
# (same tokenization as the minhash CTEs: whitespace split of the
# normalized text)
_SH3_CTE = f"""
tk AS (
  SELECT doc_id,
         list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
  FROM documents
),
shl AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS shingles
  FROM tk
)
"""

DATAPIPE_ORACLES["decontaminate"] = f"""
WITH {_SH3_CTE},
sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shl),
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 23 = 0),
hits AS (
  SELECT s.doc_id, count(*) AS n_hits
  FROM sh s JOIN bsh USING (shingle)
  WHERE s.doc_id % 23 <> 0
  GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 23 <> 0) d
LEFT JOIN hits h USING (doc_id)
"""

DATAPIPE_ORACLES["repetition_score"] = f"""
WITH {_SH3_CTE}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(shingles) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct,
       round(CASE WHEN len(shingles) > 0
             THEN CAST(len(shingles) - len(list_distinct(shingles)) AS DOUBLE)
                  / len(shingles)
             ELSE 0.0 END, 6) AS dup_ratio
FROM shl
"""


# BM25F-lite over the conv wrapping: tf and length scale by the turn's
# role weight (parity rule), df/IDF presence-based — mirrors
# transcripts.conv_weighted_topk exactly (same K, tie_round, tokenizer).
def _conv_weighted_sql() -> str:
    from pulse_spark.harness import _D_CTE, _queries_values_sql

    return f"""
WITH {_D_CTE},
t AS (
  SELECT doc_id % 100 AS conv_id,
         CASE WHEN (doc_id // 100) % 2 = 0 THEN 2.0 ELSE 1.0 END AS w,
         doc_len, toks
  FROM d
),
wlen AS (SELECT conv_id, sum(doc_len * w) AS wlen FROM t GROUP BY 1),
tok AS (SELECT conv_id, w, unnest(toks) AS term FROM t),
wtf AS (SELECT conv_id, term, sum(w) AS wtf FROM tok GROUP BY 1, 2),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM wtf GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_convs, avg(wlen) AS adl FROM wlen),
{_queries_values_sql()},
scored AS (
  SELECT q.query_id, wtf.conv_id,
         sum(wtf.wtf / (1.3*((1-0.5) + 0.5*(wlen.wlen/s.adl)) + wtf.wtf)
             * ln(s.n_convs / df.df)) AS raw_score
  FROM q
  JOIN df ON df.term = q.term
  JOIN wtf ON wtf.term = q.term
  JOIN wlen ON wlen.conv_id = wtf.conv_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(conv_id AS BIGINT) AS conv_id,
       CAST(row_number() OVER w2 - 1 AS BIGINT) AS rank,
       round(raw_score, 6) AS score
FROM scored
WINDOW w2 AS (PARTITION BY query_id ORDER BY round(raw_score, 6) DESC, conv_id ASC)
QUALIFY row_number() OVER w2 <= 10
"""


DATAPIPE_ORACLES["bm25_conv_weighted_topk"] = _conv_weighted_sql()
