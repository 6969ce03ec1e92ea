"""Deduplication operators for training-data pipelines.

  - exact:   hash-groupBy on normalized text (one shuffle, no skew risk —
             hash keys are uniform)
  - MinHash+LSH: one per-doc frame (shingle set, its size, banded
             bucket keys, all from one Arrow UDF over the normalized
             text) → band-key equi-join for candidates → exact Jaccard
             verify by array_intersect.  The banded join is the 100 TB
             path (no O(n^2) pair enumeration).  The batch operator and
             the streaming one (streaming/neardup.py) share the helpers.
  - Hot-bucket cap (drop_hot_buckets): boring-text buckets that would
             turn a band self-join quadratic are dropped — one policy
             for the MinHash, SimHash and embedding near-dup operators.
  - SimHash: 64-bit sign-hash over token md5s (vectorized numpy inside a
             pandas UDF), Hamming-banded for candidate pairs.

All hashes are md5-derived so the DuckDB oracles can reproduce them
bit-for-bit (md5 is the only hash both engines share). Min over md5 hex
strings == min over the underlying 128-bit values (fixed-length hex,
lexicographic order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pulse_spark.text.udfs import trimmed

MINHASH_K = 8          # signature length
BANDS = 4              # bands of r = K/BANDS rows each
SHINGLE_N = 3          # tokens per shingle


def normalized_text(col=None) -> F.Column:
    c = F.col("text") if col is None else col
    return F.regexp_replace(F.lower(trimmed(c)), r"\s+", " ")


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_docs, canonical_id): exact duplicate groups keyed by
    md5 of whitespace-normalized lowercase text."""
    return (
        docs.select(F.col(id_col).cast("long").alias(id_col),
                    F.md5(normalized_text()).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def _ws_toks() -> F.Column:
    return F.filter(F.split(normalized_text(), " "), lambda x: x != F.lit(""))


def _shingle_case(n: int) -> str:
    """SQL CASE building the n-token shingle array over a `_toks` column.
    Guarded: sequence(1, 0) in Spark is the DESCENDING [1, 0] (not
    empty), and slice(_toks, 0, n) then throws
    INVALID_PARAMETER_VALUE.START — so docs with < n tokens must
    short-circuit to an empty array, matching the DuckDB oracles' empty
    range(1, 1) semantics.  `_toks` is a materialized column reference
    (multi-use, so CollapseProject keeps it out of the lambda — the
    per-element work is slice+concat only, never re-tokenization)."""
    return (
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(1, size(_toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_toks, i, {n}))) "
        f"ELSE cast(array() as array<string>) END"
    )


def token_shingles(
    docs: DataFrame, id_col: str = "doc_id", n: int = SHINGLE_N
) -> DataFrame:
    """(id, shingle): DISTINCT n-token shingles of the normalized text.
    Tokenization = whitespace split (dedup doesn't stem/stopword-strip —
    surface-form similarity is the point)."""
    return (
        docs.withColumn("_toks", _ws_toks())
        .select(
            F.col(id_col).cast("long").alias(id_col),
            F.explode(F.array_distinct(F.expr(_shingle_case(n)))).alias("shingle"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    strategy: str = "broadcast",
) -> DataFrame:
    """(doc_id, n_hits, contaminated): flag training docs that share any
    n-token shingle with a benchmark/eval corpus — the train-test
    decontamination pass of an LLM data pipeline (the GPT-3 appendix-C /
    C4 13-gram-family check; n=8 is a common modern choice).  n_hits =
    number of DISTINCT contaminated shingles in the doc.

    Scale shape: the benchmark side is small by nature (eval suites are
    10^3-10^6 docs, the training corpus 10^9+), so with
    strategy="broadcast" (default) its distinct shingle set BROADCASTS
    and the training side is one explode + broadcast semi-join + per-doc
    count with map-side partial agg — the corpus is never shuffled.

    strategy="shuffle" is the fallback for benchmark sets too big to
    broadcast (a mega-benchmark union, or decontaminating against
    another CORPUS): a plain equi-join on the shingle — both sides
    hash-partition on the join key, so the corpus shingles shuffle once
    but nothing ever collects to one place.  Result-identical to the
    broadcast path (pinned in tests)."""
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown decontaminate strategy: {strategy!r}")
    bench_sh = (
        token_shingles(benchmark, id_col=id_col, n=n)
        .select("shingle").distinct()
    )
    if strategy == "broadcast":
        bench_sh = F.broadcast(bench_sh)
    else:
        # pin the hash-partitioned shape (Catalyst would otherwise
        # auto-broadcast a small-ESTIMATE side — the one thing this
        # strategy exists to avoid)
        bench_sh = bench_sh.hint("shuffle_hash")
    hits = (
        token_shingles(docs, id_col=id_col, n=n)
        .join(bench_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    base = docs.select(F.col(id_col).cast("long").alias(id_col))
    return base.join(hits, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def repetition_score(
    docs: DataFrame, n: int = SHINGLE_N, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_shingles, n_distinct, dup_ratio): fraction of repeated
    n-gram occurrences per doc — the C4/Gopher boilerplate signal
    (navigation bars, templated text, and degenerate generations all
    repeat n-grams).  dup_ratio = (total - distinct) / total shingles.

    Pure column expressions, zero shuffle; the shingle array itself is
    also MATERIALIZED (`_sh`, like `_toks`) so the slice+concat transform
    runs once per row instead of once per use (size, distinct-size)."""
    pre = (
        docs.withColumn("_toks", _ws_toks())
        .select(
            F.col(id_col).cast("long").alias(id_col),
            F.expr(_shingle_case(n)).alias("_sh"),
        )
        .select(
            id_col,
            F.size("_sh").alias("_n_total"),
            F.size(F.array_distinct("_sh")).alias("_n_distinct"),
        )
    )
    n_total = F.col("_n_total")
    n_distinct = F.col("_n_distinct")
    ratio = F.when(
        n_total > 0,
        (n_total - n_distinct).cast("double") / n_total.cast("double"),
    ).otherwise(F.lit(0.0))
    return pre.select(
        id_col,
        n_total.cast("long").alias("n_shingles"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(ratio, 6).alias("dup_ratio"),
    )


@F.pandas_udf(T.StructType([
    T.StructField("_shd", T.ArrayType(T.StringType())),
    T.StructField("_bands", T.ArrayType(T.StringType())),
]))
def minhash_shingle_bands(norm: pd.Series) -> pd.DataFrame:
    """struct<_shd, _bands> per normalized text: the DISTINCT SHINGLE_N-
    token shingles in first-seen order (what array_distinct over the
    slice+concat_ws shingle array gives) and the BANDS band keys, NULL
    for a doc with no shingle.  Bit-identical to the relational form
    (sig_i = min over shingles of md5(f"{i}|s") hex; band_key_b =
    md5("|".join(sig_{b*r}..sig_{b*r+r-1}))), which the DuckDB oracle
    (datapipe/harness.py _minhash_ctes) computes.

    Vectorized per Arrow batch: the batch's shingle occurrences are
    factorized, MINHASH_K md5 hex digests are taken once per DISTINCT
    shingle of the batch (Zipf text repeats shingles across docs), each
    digest column is ranked once by argsort over its S32 bytes (fixed-
    length hex: byte order == 128-bit value order), and every doc's
    signature is a np.minimum.reduceat of those ranks over its segment
    — no per-shingle Python min loop.  The remaining Python loops are
    the shingle joins, the distinct-shingle digests and BANDS digests
    per doc.

    Why one UDF for the whole frame: the pure-expression shingle array
    (transform(sequence, slice, concat_ws) + array_distinct) is an
    interpreted higher-order function, and the pure-expression signature
    (8 array_min(transform(md5))) is interpreted per element too; the
    explode + SortAggregate alternative pays a corpus-wide (doc,
    shingle) shuffle instead (string min never hash-aggregates).
    Measured on the sf0.1 documents (5,000 docs, one cached partition,
    warm JVM, 4-vCPU host): the frame took 1.56-1.84 s with the HOF
    shingle array and a per-shingle min loop, 0.83-0.93 s with this
    UDF.  The UDF alone runs 0.48-0.58 s over those docs, most of it
    the md5 of their 27 k distinct shingles (218 k digests)."""
    import hashlib

    n, r = SHINGLE_N, MINHASH_K // BANDS
    shd = []
    for text in norm:
        toks = [t for t in text.split(" ") if t] if text else []
        shd.append(list(dict.fromkeys(
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        )))
    sizes = np.fromiter(map(len, shd), dtype=np.int64, count=len(shd))
    bands = [None] * len(shd)
    banded = np.flatnonzero(sizes)
    if len(banded):
        codes, uniq = pd.factorize(
            np.fromiter((s for sh in shd for s in sh), dtype=object,
                        count=int(sizes.sum()))
        )
        # md5(f"{i}|{s}") as a copy of the hashed f"{i}|" prefix updated
        # with s (~30% cheaper than hashing each formatted string)
        pre = [hashlib.md5(f"{i}|".encode()) for i in range(MINHASH_K)]
        digests = []
        for s in uniq:
            sb = s.encode()
            for p in pre:
                h = p.copy()
                h.update(sb)
                digests.append(h.hexdigest())
        hexes = np.array(digests, dtype="S32").reshape(len(uniq), MINHASH_K)
        starts = np.concatenate(([0], np.cumsum(sizes[banded])[:-1]))
        rank = np.empty(len(uniq), dtype=np.int64)
        sig = np.empty((len(banded), MINHASH_K), dtype="S32")
        for i in range(MINHASH_K):
            order = np.argsort(hexes[:, i])
            rank[order] = np.arange(len(uniq))
            sig[:, i] = hexes[order[np.minimum.reduceat(rank[codes], starts)], i]
        for d, row in zip(banded, sig.tolist()):
            bands[d] = [
                hashlib.md5(b"|".join(row[b * r:(b + 1) * r])).hexdigest()
                for b in range(BANDS)
            ]
    return pd.DataFrame({"_shd": shd, "_bands": bands})


def drop_hot_buckets(bk: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """bk without the rows of buckets holding more than `cap` rows — the
    HOT-BUCKET CAP shared by every banded near-dup operator.  A
    degenerate bucket (boilerplate text, an all-zero band, a zero
    embedding) turns the band self-join quadratic; its members are
    overwhelmingly exact/near-exact dups that exact_dup_groups already
    catches with a linear groupBy.  Oversized buckets are rare by
    construction, so the filter is a broadcast ANTI join against the tiny
    bad-bucket list — map-side, no shuffle of the full bucket table (an
    inner join against the "ok" list would reshuffle every row by key).
    The caller decides whether the cap can bite at all."""
    bad = (
        bk.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .where(F.col("_bsz") > cap)
        .select(*keys)
    )
    return bk.join(F.broadcast(bad), keys, "left_anti")


def _minhash_frame(docs: DataFrame, id_col: str) -> DataFrame:
    """(id, _shd, n_sh, _bands): per-doc distinct shingle set, its size
    and the BANDS band keys (NULL for docs with zero shingles), from ONE
    minhash_shingle_bands Arrow UDF over the JVM-normalized text."""
    return (
        docs.select(
            F.col(id_col).cast("long").alias(id_col),
            minhash_shingle_bands(normalized_text()).alias("_mh"),
        )
        .select(
            id_col, F.col("_mh._shd").alias("_shd"),
            F.size("_mh._shd").alias("n_sh"),
            F.col("_mh._bands").alias("_bands"),
        )
    )


def _band_rows(per_doc: DataFrame, id_col: str) -> DataFrame:
    """(id, n_sh, band, band_key): one row per band of a banded doc —
    posexplode emits none for the NULL band keys of zero-shingle docs."""
    return per_doc.select(
        id_col, "n_sh",
        F.posexplode("_bands").alias("band", "band_key"),
    )


def _verify_jaccard(
    cand: DataFrame, shd: DataFrame, id_col: str, min_jaccard: float
) -> DataFrame:
    """(id_a, id_b, jaccard): exact verify of candidate pairs
    (id_a, id_b, n_a, n_b) — |A ∩ B| is size(array_intersect) of the
    two shingle SETS looked up in shd (id, _shd); arrays are distinct by
    construction."""
    arr_a = shd.select(
        F.col(id_col).alias("id_a"), F.col("_shd").alias("_sa")
    )
    arr_b = shd.select(
        F.col(id_col).alias("id_b"), F.col("_shd").alias("_sb")
    )
    return (
        cand.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn(
            "n_common",
            F.size(F.array_intersect("_sa", "_sb")).cast("double"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.2,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """(id_a, id_b, jaccard): near-duplicate pairs — LSH candidates
    verified with exact shingle-set Jaccard.  Returns id_a < id_b.

    Shape (optimization guide §2.4 — remove shuffles outright): one
    cached per-doc frame (id, shingle_set, n_sh, band keys) from
    _minhash_frame, whose shingle sets and band keys come from the
    minhash_shingle_bands Arrow UDF — no (doc, shingle) shuffle and no
    string-min SortAggregate.  Candidates are a band-key equi-join of its
    posexploded band rows; verification is size(array_intersect(set_a,
    set_b)) over the SURVIVING candidate pairs only.  The streaming
    operator (streaming/neardup.py) runs the same three helpers per
    micro-batch.

    Docs with zero shingles never enter banding (without that they would
    all share the empty-signature bucket — quadratic at scale).

    max_bucket_size: the hot-bucket cap (drop_hot_buckets); buckets
    larger than the cap are dropped from candidate generation.

    Runs a Spark job when the DataFrame is BUILT, not only when it is
    consumed: the per-doc frame is persisted and counted here.  The
    cache is keyed on the input's plan, so repeated calls over one
    input share it, but every DISTINCT input keeps its own cache for
    the life of the session — a long-lived session that dedups corpus
    after corpus should call spark.catalog.clearCache() between
    corpora."""
    # NO shingle-count filter here: any WHERE on a token/shingle-derived
    # column gets predicate-pushed below the adaptive-spread exchange
    # with the tokenizer inlined into it — running the whole tokenize in
    # the single-task scan stage (measured 1.5 s CPU at sf0.1).  Zero-
    # shingle docs are excluded from banding anyway: minhash_shingle_bands
    # returns NULL band keys for them and posexplode emits no rows.
    per_doc = _minhash_frame(docs, id_col).persist()
    # eager materialization: the plan consumes per_doc in FIVE branches
    # (bucket-size agg, both self-join sides, both verify array sides);
    # AQE materializes those query stages concurrently, and concurrent
    # first readers of a cold cache each recompute it (measured ~5x the
    # per_doc cost).  One count populates the cache before fan-out, and
    # its value gates the bucket cap below (cache lifecycle: docstring).
    n_banded = per_doc.count()
    bk = _band_rows(per_doc, id_col)
    # a bucket can never hold more members than there are banded docs,
    # so when n_banded <= cap the cap provably drops nothing — skip the
    # size-aggregate + anti-join branch outright (guide §2.4)
    if max_bucket_size is not None and n_banded > max_bucket_size:
        bk = drop_hot_buckets(bk, ["band", "band_key"], max_bucket_size)
    a = bk.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"),
        "band", "band_key",
    )
    b = bk.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"),
        "band", "band_key",
    )
    cand = (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    return _verify_jaccard(cand, per_doc, id_col, min_jaccard)


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", min_jaccard: float = 0.2
) -> DataFrame:
    """(id_a, id_b, jaccard): EXACT all-pairs n-gram Jaccard ≥ τ via a
    shingle equi-join (no LSH) — the small-scale oracle twin of
    minhash_lsh_pairs; at 100 TB use the LSH variant."""
    sh = token_shingles(docs, id_col).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("double").alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(na, "id_a").join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (vectorized pandas UDF — no SQL oracle; pinned by pytest)
# ---------------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over the space-separated tokens of normalized_text
    (the JVM normalization every dedup operator shares, so SimHash and
    MinHash see the same tokens), weighted by tf.

    Fully vectorized per Arrow batch: factorize the batch's token
    occurrences, md5 only the DISTINCT tokens into a (V, 64) ±1 bit-vote
    matrix, then accumulate every occurrence's votes into a (docs, 64)
    matrix with one unbuffered scatter-add (np.add.at) and pack the signs
    with np.packbits — no per-token or per-doc Python loop on the
    occurrence volume; the only Python loop is md5 over the batch's
    distinct vocabulary (Zipf text keeps V << occurrences)."""
    import hashlib

    n = len(texts)
    tok_lists = [[t for t in s.split(" ") if t] if s else [] for s in texts]
    counts = [len(t) for t in tok_lists]
    if not any(counts):
        return pd.Series(np.zeros(n, dtype=np.int64))
    occ = np.asarray(
        [t for toks in tok_lists for t in toks], dtype=object
    )
    codes, uniq = pd.factorize(occ)
    bits = np.empty((len(uniq), 64), dtype=np.int64)
    for i, t in enumerate(uniq):
        h = hashlib.md5(t.encode()).digest()[:8]
        bits[i] = (
            np.unpackbits(np.frombuffer(h, dtype=np.uint8)).astype(np.int64)
            * 2 - 1
        )
    acc = np.zeros((n, 64), dtype=np.int64)
    doc_idx = np.repeat(np.arange(n), counts)
    np.add.at(acc, doc_idx, bits[codes])
    packed = np.packbits(acc > 0, axis=1)  # MSB-first, (n, 8) bytes
    return pd.Series(np.ascontiguousarray(packed).view(">i8").ravel().astype(np.int64))


def simhash_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return docs.select(
        F.col(id_col).cast("long").alias(id_col),
        simhash64(normalized_text()).alias("simhash"),
    )


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.2,
    max_iter: int = 20,
) -> DataFrame:
    """(doc_id, cluster_id): connected components over the near-duplicate
    pair graph (minhash_lsh_pairs edges); cluster_id = min doc id in the
    component; docs with no near-dup are singleton clusters of themselves.

    Iterative min-label propagation: each round every node takes the min
    label in its neighborhood; converges in <= graph-diameter rounds
    (near-dup components are chains/cliques of duplicates — diameter is
    small in practice; max_iter bounds pathology).  Each round is one
    equi-join + one groupBy — the simple O(d) variant of the
    large-star/small-star alternation used at web scale; edges are
    persisted once and reused across rounds."""
    pairs = minhash_lsh_pairs(docs, id_col, min_jaccard)
    nodes = docs.select(F.col(id_col).cast("long").alias("node")).distinct()
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .persist()
    )
    labels = nodes.select("node", F.col("node").alias("label")).persist()
    for _ in range(max_iter):
        # neighborhood min: my label vs min label among my neighbors
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        # full count (no limit): materializes EVERY partition of the
        # persisted new_labels before the parent is unpersisted — a
        # short-circuiting limit(1) probe would cache only the scanned
        # partitions and force the next round to recompute the rest
        # through the whole chain of previous rounds' shuffles
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        # never silently return non-converged labels: downstream
        # corpus_filter would keep non-canonical duplicates with no signal
        edges.unpersist()
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — a component's diameter "
            "exceeds max_iter; raise max_iter (propagation needs one round "
            "per hop of the widest chain)"
        )
    edges.unpersist()
    return labels.select(
        F.col("node").cast("long").alias(id_col),
        F.col("label").cast("long").alias("cluster_id"),
    )


SIMHASH_BANDS = 4  # 16-bit bands over the 64-bit signature


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """(id_a, id_b, hamming): SimHash near-duplicates via Hamming-banded
    candidate generation — the scale path for simhash dedup.

    Pigeonhole: a pair within Hamming distance d ≤ SIMHASH_BANDS - 1
    differing bits must agree EXACTLY on at least one of the 4 16-bit
    bands, so an equi-join on (band, band_bits) finds every such pair
    without O(n²) enumeration; candidates are then verified with exact
    bit_count(a XOR b) ≤ max_hamming (all JVM-side).  Same hot-bucket cap
    (drop_hot_buckets) as minhash_lsh_pairs (an all-zero band over
    boilerplate docs is the degenerate case).

    Runs a Spark job when the DataFrame is BUILT: the SimHash table is
    persisted and counted here, as in minhash_lsh_pairs.  Every DISTINCT
    input keeps its own cache for the life of the session, so a
    long-lived session that dedups corpus after corpus should call
    spark.catalog.clearCache() between corpora."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"banded candidates are exact only for max_hamming < {SIMHASH_BANDS}"
        )
    st = simhash_table(docs, id_col).persist()
    # eager cache fill + cap gate (see minhash_lsh_pairs): no bucket can
    # exceed the doc count, so a small corpus skips the cap branch
    n_docs = st.count()
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), 16 * b)
            .bitwiseAND(F.lit(0xFFFF)).alias("band_bits"),
        )
        for b in range(SIMHASH_BANDS)
    ])
    bk = st.select(id_col, "simhash", F.explode(bands).alias("bb")).select(
        id_col, "simhash",
        F.col("bb.band").alias("band"), F.col("bb.band_bits").alias("band_bits"),
    )
    if max_bucket_size is not None and n_docs > max_bucket_size:
        bk = drop_hot_buckets(bk, ["band", "band_bits"], max_bucket_size)
    a = bk.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
                  "band", "band_bits")
    b = bk.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
                  "band", "band_bits")
    return (
        a.join(b, ["band", "band_bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.col("sh_a").bitwiseXOR(F.col("sh_b")).alias("_x"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("_x")).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
