"""Similarity search over embedding columns (array<float>).

  - brute_cosine_topk: exact top-k by cosine — the correctness baseline.
    All math is JVM-side higher-order functions (zip_with + aggregate):
    no Python, no UDF, whole-stage codegen.
  - lsh_buckets / lsh_cosine_topk: random-hyperplane LSH — the scale
    path.  Planes are deterministic (seeded md5 → ±1 entries), embedded
    as literals so the DuckDB oracle reproduces bucket assignment
    exactly.  At 100 TB: bucket the corpus once (one scan), broadcast
    query buckets, probe only matching buckets (multi-probe on nearby
    buckets for recall).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulse_spark.datapipe.dedup import drop_hot_buckets

LSH_BITS = 16


def _plane_sign(bit: int, dim: int) -> int:
    """Deterministic ±1 from md5 — reproducible in any engine."""
    h = hashlib.md5(f"plane|{bit}|{dim}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def lsh_planes(dim: int, bits: int = LSH_BITS) -> list[list[int]]:
    return [[_plane_sign(b, j) for j in range(dim)] for b in range(bits)]


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _to_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def brute_cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, vec_id, cosine): exact top-k per query vector
    (queries = rows of the same table, excluded from their own results).
    Ranking orders by round(cosine, 6) then vec_id for cross-engine
    determinism."""
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    nrm = e.withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = (
        nrm.where(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n").alias("qn"),
        )
    )
    joined = nrm.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    sim = joined.withColumn(
        "cosine",
        F.round(_dot(F.col("v"), F.col("qv")) / (F.col("n") * F.col("qn")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("rank") < k)
        .select(
            F.col("query_id").cast("long"),
            "rank",
            F.col("vec_id").cast("long"),
            "cosine",
        )
    )


def lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    bits: int = LSH_BITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, bucket): sign-random-projection bucket id in [0, 2^bits)."""
    planes = lsh_planes(dim, bits)
    v = _to_double(F.col(vec_col))
    bucket = F.lit(0)
    for b, plane in enumerate(planes):
        p = F.array(*[F.lit(float(s)) for s in plane])
        bit = (_dot(v, p) > 0).cast("int")
        bucket = bucket + bit * F.lit(2 ** b)
    return embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"), bucket.cast("long").alias("bucket")
    )


# auto-bits sizing cache: keyed on (applicationId, semantic plan hash) so
# repeated calls over the same input don't re-run a full-scan count job
# per query invocation; a new session (or a different input plan) misses.
# STALENESS ASSUMPTION (documented, deliberate): re-reading the SAME path
# after its files changed mid-session produces an identical plan hash and
# returns the stale count.  That is acceptable here because the count
# only sizes LSH bits / IVF samples (a 2x-off corpus count moves the
# bucket-width heuristic, never correctness), and index inputs in this
# engine are immutable committed directories.  Callers who mutate a path
# in-session can bust the key themselves: df.withColumn("_epoch",
# F.lit(token)) changes the semantic hash.
_COUNT_CACHE: dict = {}


def _corpus_count(df: DataFrame) -> int:
    app = df.sparkSession.sparkContext.applicationId
    for k in [k for k in _COUNT_CACHE if k[0] != app]:
        del _COUNT_CACHE[k]
    key = (app, df.semanticHash())
    if key not in _COUNT_CACHE:
        _COUNT_CACHE[key] = df.count()
    return _COUNT_CACHE[key]


def lsh_cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    dim: int,
    k: int = 10,
    bits: int | None = None,
    n_flip: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to LSH-bucket candidates
    with MULTI-PROBE (the query's bucket plus every bucket within n_flip
    bit flips — near neighbors land one hyperplane away far more often
    than uniformly).  Recall measured in tests vs brute force.

    bits=None auto-scales the bucket space to the corpus: ~64 vectors per
    bucket (bits = log2(n/64)), so a query probes (1 + bits) buckets ≈
    64·(1+log2(n/64)) candidates whether n is 5e2 or 5e9 — a FIXED bucket
    count (the round-1 default of 16 bits) left every one of 500 vectors
    alone in its own bucket and returned zero rows."""
    if bits is None:
        import math as _m

        n = _corpus_count(embeddings)
        bits = max(1, int(_m.log2(max(n / 64.0, 2.0))))
    bk = lsh_buckets(embeddings, dim, bits, id_col, vec_col)
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    ).join(bk, "vec_id")
    nrm = e.withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = (
        nrm.where(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n").alias("qn"),
            F.col("bucket").alias("qbucket"),
        )
    )
    # multi-probe expansion: qbucket plus each single-bit flip (n_flip=1
    # covers the dominant miss mode; buckets are distinct, so no dedupe
    # is needed after the equi-join)
    probes = [F.col("qbucket")]
    if n_flip >= 1:
        probes += [
            F.col("qbucket").bitwiseXOR(F.lit(1 << b)) for b in range(bits)
        ]
    if n_flip >= 2:
        probes += [
            F.col("qbucket").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(bits) for j in range(i + 1, bits)
        ]
    q = q.withColumn("probe", F.explode(F.array(*probes)))
    cand = nrm.join(
        F.broadcast(q), F.col("bucket") == F.col("probe")
    ).where(F.col("vec_id") != F.col("query_id"))
    sim = cand.withColumn(
        "cosine",
        F.round(_dot(F.col("v"), F.col("qv")) / (F.col("n") * F.col("qn")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("rank") < k)
        .select(
            F.col("query_id").cast("long"),
            "rank",
            F.col("vec_id").cast("long"),
            "cosine",
        )
    )


def ivf_cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells as the coarse
    quantizer (seeded — deterministic), exact cosine only within the
    query's n_probe nearest cells.

    Scale path: cells partition the corpus once (one KMeans fit on a
    sample + one assignment scan); a query probes n_probe/n_cells of the
    data.  Recall measured in tests vs brute force."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _to_double(F.col(vec_col)).alias("v"),
    ).withColumn("features", array_to_vector(F.col("v")))
    # coarse quantizer fits on a bounded SAMPLE: a KMeans over the full
    # corpus is a multi-pass job over 100 TB for centroids that converge
    # on a few hundred points per cell anyway.  Small corpora (n <= cap)
    # fit on everything — behavior (and pinned recall) unchanged there.
    sample_cap = 256 * n_cells
    n = _corpus_count(embeddings)
    fit_src = e if n <= sample_cap else e.sample(fraction=sample_cap / n, seed=seed)
    km = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell")
    model = km.fit(fit_src)
    assigned = model.transform(e).select("vec_id", "v", "cell")
    nrm = assigned.withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))

    # query → its n_probe nearest cells (tiny: centroids are driver-side)
    centers = [c.tolist() for c in model.clusterCenters()]
    q_rows = nrm.where(F.col("vec_id").isin(query_ids)).collect()
    probe_pairs = []  # (query_id, cell)
    import math as _m

    for r in q_rows:
        qv = r["v"]
        dists = []
        for ci, c in enumerate(centers):
            d = sum((a - b) ** 2 for a, b in zip(qv, c))
            dists.append((d, ci))
        dists.sort()
        for _, ci in dists[:n_probe]:
            probe_pairs.append((int(r["vec_id"]), int(ci)))
    spark = embeddings.sparkSession
    from pulse_spark.sources.readers import local_table

    probes = local_table(spark, probe_pairs, "query_id long, cell int")
    q = local_table(
        spark,
        [(int(r["vec_id"]), list(map(float, r["v"])), float(r["n"])) for r in q_rows],
        "query_id long, qv array<double>, qn double",
    )

    cand = (
        nrm.join(F.broadcast(probes), "cell")
        .join(F.broadcast(q), "query_id")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    sim = cand.withColumn(
        "cosine",
        F.round(_dot(F.col("v"), F.col("qv")) / (F.col("n") * F.col("qn")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
        .where(F.col("rank") < k)
        .select(
            F.col("query_id").cast("long"), "rank",
            F.col("vec_id").cast("long"), "cosine",
        )
    )


def _banded_buckets(
    e: DataFrame, dim: int, bands: int, bits_per_band: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(vid, band, bucket[, *carry]): `bands` independent sign-projection
    bucket tables from one deterministic plane family (plane id =
    band*bits+j — same md5 generator as lsh_planes, so any engine
    reproduces it).  carry: extra columns duplicated onto every band row
    (an explode, not a join — no shuffle to attach them)."""
    rows = []
    for b in range(bands):
        bucket = F.lit(0)
        for j in range(bits_per_band):
            plane = [_plane_sign(b * bits_per_band + j, d) for d in range(dim)]
            p = F.array(*[F.lit(float(s)) for s in plane])
            bucket = bucket + (_dot(F.col("v"), p) > 0).cast("int") * F.lit(2 ** j)
        rows.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return e.select(
        "vid", *carry, F.explode(F.array(*rows)).alias("bb")
    ).select("vid", *carry, F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def _vector_bytes_cap(dim: int, budget_bytes: int = 256 << 20) -> int:
    """Largest bucket size whose stacked float64 vector matrix fits the
    per-worker budget — the residency term the gram-chunking does NOT
    bound (a 100k-row bucket at dim 768 is ~614 MB of vectors alone)."""
    return max(64, budget_bytes // (8 * max(1, dim)))


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    bits_per_band: int | None = None,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """(id_a, id_b, cosine): embedding-cosine near-duplicate pairs —
    banded-LSH candidate generation + exact cosine verify (precision 1
    by construction; recall = 1-(1-(1-θ/π)^bits)^bands, ≈1 for real
    near-dups θ<20°).

    bits_per_band=None (default) auto-sizes to
    max(2, min(corpus_bits, recall_bits)):

    - corpus_bits = ceil(log2(n/64)) targets ≈64-vector buckets, keeping
      per-band work LINEAR in n.
    - recall_bits is the LARGEST bits whose per-pair miss probability at
      the threshold stays ≤1e-4 — bits beyond it trade correctness for
      speed (the per-pair keep probability is 1-(1-p^bits)^bands with
      p = 1-θ/π).  For tight thresholds recall_bits is large and the
      corpus governs (cos 0.95 → 7 bits); for LOOSE thresholds
      (cos 0.5/θ=60°: recall_bits=2) there is NO sub-quadratic
      high-recall banding — an LSH lower-bound fact, not an
      implementation gap — so candidates approach all-pairs and the
      verify stage must carry the cost.

    Which is why the verify is a per-bucket BLAS gram block
    (applyInPandas: stack the bucket's vectors, one numpy matmul,
    threshold, emit), not a candidate-pair equi-join + interpreted
    per-element dot: at the rehearsal's 20k×10-replica corpus the join
    form shuffled ~10^8 candidate rows through a distinct and evaluated
    the HOF dot per pair (measured 881 s); the gram form moves each
    vector bands× through one shuffle and burns the pair volume inside
    BLAS (measured ~30x faster at the same recall).  Cross-band
    duplicate finds collapse in a final tiny groupBy over SURVIVING
    pairs only.

    The 100 TB shape: groupBy(band, bucket) — never an all-pairs
    crossJoin; the hot-bucket cap (dedup.drop_hot_buckets) bounds
    degenerate buckets (e.g. all-zero embeddings).  Worker residency is
    O(bucket_size × dim) — the bucket's stacked vectors — plus a gram
    chunk bounded to ≤2^22 cells; the vector term is the one that can
    blow up at high dim, so the cap is tightened to whatever bucket
    size keeps the stacked float64 matrix ≤256 MB at the observed dim
    (e.g. dim 768 → ≤43k vectors/bucket even if max_bucket_size asks
    for 100k)."""
    import math

    e = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        _to_double(F.col(vec_col)).alias("v"),
    ).withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v")))).persist()
    head = e.select("v").first()
    if head is None:  # empty input: no pairs (and nothing to size planes by)
        return embeddings.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    dim = len(head["v"])
    if bits_per_band is None:
        p_bit = 1.0 - math.acos(max(-1.0, min(1.0, min_cosine))) / math.pi
        if 0.0 < p_bit < 1.0:
            p_band_min = 1.0 - 1e-4 ** (1.0 / bands)
            bits_recall = max(1, int(math.log(p_band_min) / math.log(p_bit)))
        else:
            bits_recall = 16
        bits_corpus = math.ceil(math.log2(max(_corpus_count(e), 2) / 64))
        bits_per_band = max(2, min(16, bits_corpus, bits_recall))
    bk = _banded_buckets(e, dim, bands, bits_per_band, carry=("v", "n"))
    # bytes-aware cap: one (band,bucket) group lands whole in one Python
    # worker as an m×dim float64 matrix — bound THAT (256 MB), not just
    # the gram chunk, so peak memory stays flat at any dim
    bytes_cap = _vector_bytes_cap(dim)
    if max_bucket_size is None or max_bucket_size > bytes_cap:
        max_bucket_size = bytes_cap
    # NOT size-gated like the minhash/simhash caps: their gating counts
    # come from a fresh count() of the frame being processed, while the
    # count available here is the memoized _corpus_count, whose
    # documented staleness contract covers sizing heuristics only — a
    # stale low count must never disable a MEMORY-SAFETY cap (r6 review).
    # The size agg reads the id projection only (no vector duplication).
    bk = drop_hot_buckets(bk, ["band", "bucket"], max_bucket_size)

    def gram_block(pdf):
        import numpy as np
        import pandas as pd

        m = len(pdf)
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "cosine": pd.Series([], dtype="float64"),
        })
        if m < 2:
            return empty
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        nr = pdf["n"].to_numpy(dtype=np.float64)
        out_a, out_b, out_c = [], [], []
        step = max(64, (1 << 22) // m)  # bound S to ~32 MB
        with np.errstate(divide="ignore", invalid="ignore"):
            for i0 in range(0, m, step):
                i1 = min(i0 + step, m)
                S = V[i0:i1] @ V.T
                S /= np.outer(nr[i0:i1], nr)
                C = np.round(S, 6)
                ia, ib = np.nonzero(C >= min_cosine)
                ga, gb = ids[i0 + ia], ids[ib]
                keep = ga < gb
                out_a.append(ga[keep])
                out_b.append(gb[keep])
                out_c.append(C[ia[keep], ib[keep]])
        if not out_a:
            return empty
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        })

    found = bk.groupBy("band", "bucket").applyInPandas(
        gram_block, "id_a long, id_b long, cosine double"
    )
    # a true pair surfaces in every band whose buckets it shares — tiny
    # dedupe over survivors (min() for cross-band float determinism)
    return found.groupBy("id_a", "id_b").agg(
        F.min("cosine").alias("cosine")
    )


def embedding_near_dup_pairs_exact(
    embeddings: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute all-pairs oracle twin of embedding_near_dup_pairs — test/
    oracle use ONLY (quadratic; the LSH-banded variant is the operator)."""
    e = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        _to_double(F.col(vec_col)).alias("v"),
    ).withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    a = e.select(F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = e.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .where(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )
