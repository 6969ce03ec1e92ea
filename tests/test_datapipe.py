"""Datapipe internals that the SQL oracles can't check: LSH recall vs
brute force, SimHash locality, multimodal plumbing shapes, dedup
behavior on actual duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_lsh_recall_vs_brute(spark):
    """At HARNESS parameters (auto-scaled bits + multi-probe), LSH ANN
    must return rows and hit a recall floor vs brute force — round 1's
    fixed 16-bit single-probe returned ZERO rows on 500 vectors."""
    from pulse_spark.datapipe.similarity import brute_cosine_topk, lsh_cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute = brute_cosine_topk(emb, qids, k=10)
    lsh = lsh_cosine_topk(emb, qids, dim=64, k=10)  # bits=None -> auto
    b = {}
    for r in brute.collect():
        b.setdefault(r["query_id"], set()).add(r["vec_id"])
    l = {}
    for r in lsh.collect():
        l.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert l, "auto-scaled multi-probe LSH returned no rows"
    recall = sum(len(b[q] & l.get(q, set())) for q in b) / sum(len(b[q]) for q in b)
    assert recall >= 0.5, recall
    assert all(len(v) <= 10 for v in l.values())


def test_embedding_near_dups_banded_equals_exact(spark):
    """The banded-LSH near-dup operator must (a) agree with the brute
    all-pairs twin on this corpus and (b) contain NO cartesian product in
    its physical plan — the crossJoin was the round-1 scale defect."""
    from pulse_spark.datapipe.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_exact,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    banded = embedding_near_dup_pairs(emb, min_cosine=0.45)
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in banded.collect()}
    exp = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in embedding_near_dup_pairs_exact(emb, min_cosine=0.45).collect()}
    assert got == exp


def test_simhash_banded_near_dups(spark):
    from pulse_spark.datapipe.dedup import simhash_near_dup_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # identical
        (3, "the quick brown fox leaps over the lazy dog"),   # near
        (4, "completely different words entirely unrelated payload"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_near_dup_pairs(df, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0  # identical docs: Hamming 0, always found
    assert (1, 4) not in pairs and (2, 4) not in pairs
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=4)  # > bands-1: not exact


def test_minhash_bucket_cap_drops_degenerate_bucket(spark):
    """A boilerplate corpus collapses into one band bucket; with the cap
    below the group size the quadratic candidate join must be skipped
    (exact dedup still catches these — they are exact duplicates)."""
    from pulse_spark.datapipe.dedup import minhash_lsh_pairs

    boiler = [(i, "lorem ipsum dolor sit amet consectetur") for i in range(30)]
    boiler += [(100, "a genuinely different document with other words here"),
               (101, "a genuinely different document with other words here now")]
    df = spark.createDataFrame(boiler, "doc_id long, text string")
    capped = minhash_lsh_pairs(df, min_jaccard=0.1, max_bucket_size=10).collect()
    ids = {x for r in capped for x in (r["id_a"], r["id_b"])}
    assert ids <= {100, 101}  # the 30-doc degenerate bucket contributed nothing
    uncapped = minhash_lsh_pairs(df, min_jaccard=0.1, max_bucket_size=100_000)
    assert uncapped.where("id_a < 100").count() == 30 * 29 // 2


def test_ivf_recall_vs_brute(spark):
    from pulse_spark.datapipe.similarity import brute_cosine_topk, ivf_cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qids = [0, 1, 2]
    b = {}
    for r in brute_cosine_topk(emb, qids, k=10).collect():
        b.setdefault(r["query_id"], set()).add(r["vec_id"])
    iv = {}
    for r in ivf_cosine_topk(emb, qids, k=10, n_cells=8, n_probe=4).collect():
        iv.setdefault(r["query_id"], set()).add(r["vec_id"])
    # probing half the cells of random data: expect solid-but-not-total
    # recall; assert a floor so regressions surface
    recall = sum(len(b[q] & iv.get(q, set())) for q in b) / sum(len(b[q]) for q in b)
    assert recall >= 0.3, recall
    # determinism: same seed → same result set
    iv2 = {}
    for r in ivf_cosine_topk(emb, qids, k=10, n_cells=8, n_probe=4).collect():
        iv2.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert iv == iv2


def test_simhash_locality(spark):
    from pulse_spark.datapipe.dedup import simhash_table

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # identical
        (3, "the quick brown fox leaps over the lazy dog"),   # 1 token diff
        (4, "completely different words entirely unrelated payload"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()}
    assert sh[1] == sh[2]

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sh[1], sh[3]) <= 16
    assert hamming(sh[1], sh[4]) > hamming(sh[1], sh[3])


def test_simhash_uses_jvm_normalized_tokens(spark):
    r"""SimHash hashes the tokens of dedup.normalized_text split on " ",
    the tokens MinHash sees: U+00A0 and \x1c (separators to Python's
    str.split, not to Spark's \s) stay inside a token, and letters the
    JVM case mapping leaves alone (U+10570) are not lowercased."""
    import hashlib

    from pulse_spark.datapipe.dedup import simhash_table

    def ref(tokens):
        acc = [0] * 64
        for t in tokens:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            for i in range(64):
                acc[i] += 1 if (h >> (63 - i)) & 1 else -1
        v = sum(1 << (63 - i) for i in range(64) if acc[i] > 0)
        return v - (1 << 64) if v >= 1 << 63 else v

    rows = [
        (1, "foo\u00a0bar baz", ["foo\u00a0bar", "baz"]),
        (2, "  Foo\x1cBar \t BAZ  baz", ["foo\x1cbar", "baz", "baz"]),
        (3, "\U00010570 Qux", ["\U00010570", "qux"]),
        (4, " \t ", []),
    ]
    df = spark.createDataFrame([r[:2] for r in rows], "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()}
    assert got == {i: ref(toks) for i, _, toks in rows}


def test_exact_dedup_finds_planted_duplicates(spark):
    from pulse_spark.datapipe.dedup import exact_dup_groups, minhash_lsh_pairs

    rows = [
        (1, "spark join merge filter window"),
        (2, "  SPARK  join merge filter window "),            # normalized dup
        (3, "spark join merge filter window extra tail words here now"),
        (4, "totally other content with many unique tokens present"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = {r["text_hash"]: r for r in exact_dup_groups(df).collect()}
    sizes = sorted(r["n_docs"] for r in groups.values())
    assert sizes == [1, 1, 2]
    dup = [r for r in groups.values() if r["n_docs"] == 2][0]
    assert dup["canonical_id"] == 1

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(df, min_jaccard=0.1).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup caught


def test_multimodal_plumbing(spark):
    from pulse_spark.datapipe.multimodal import (
        as_binary_payload,
        decode_real,
        extract_features,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    payloads = as_binary_payload(docs)
    row = payloads.first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["mime"] == "text/plain"

    feats = extract_features(payloads).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0

    with pytest.raises(NotImplementedError):
        decode_real(b"\x89PNG")


def test_short_docs_do_not_crash_shingles(spark):
    """Regression: Spark's sequence(1, 0) is [1, 0] (descending, not
    empty), so docs with < SHINGLE_N tokens used to abort the whole job
    with INVALID_PARAMETER_VALUE.START inside slice(); short docs must
    instead contribute zero shingles (DuckDB empty-range semantics)."""
    from pulse_spark.datapipe.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        token_shingles,
    )

    rows = [
        (1, ""),                                   # empty
        (2, "   "),                                # whitespace only
        (3, "one"),                                # 1 token
        (4, "two tokens"),                         # 2 tokens < SHINGLE_N=3
        (5, "exactly three tokens"),               # boundary: 1 shingle
        (6, "spark join merge filter window now"),
        (7, "spark join merge filter window now"),  # dup of 6
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r["doc_id"] for r in token_shingles(df).collect()}
    assert sh == {5, 6, 7}  # short docs contribute no shingles
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_pairs(df, min_jaccard=0.1).collect()}
    assert pairs == {(6, 7)}
    exact = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(df, min_jaccard=0.1).collect()}
    assert exact == {(6, 7)}


def test_fingerprints_short_docs_null_min_shingle(spark):
    """Docs with normalized length < 5 have no 5-char shingle: their
    min_shingle_md5 must be NULL (array_min of []), matching DuckDB's
    list_aggregate(min) over an empty range — not md5('') garbage."""
    from pulse_spark.datapipe.textstats import fingerprints

    df = spark.createDataFrame(
        [(1, "hi"), (2, ""), (3, "abcd"), (4, "abcde"), (5, " ab  ")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["min_shingle_md5"] for r in fingerprints(df).collect()}
    assert fp[1] is None and fp[2] is None and fp[3] is None and fp[5] is None
    import hashlib

    assert fp[4] == hashlib.md5(b"abcde").hexdigest()


def test_fingerprints_stability(spark):
    from pulse_spark.datapipe.textstats import fingerprints

    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "HELLO WORLD "), (3, "other text")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: (r["text_md5"], r["min_shingle_md5"])
          for r in fingerprints(df).collect()}
    assert fp[1] == fp[2]        # normalization collapses case/ws
    assert fp[1] != fp[3]


def test_turn_deltas(spark):
    from datetime import datetime

    from pulse_spark.datapipe.transcripts import turn_deltas

    rows = [
        (1, 0, datetime(2026, 1, 1, 0, 0, 0)),
        (1, 1, datetime(2026, 1, 1, 0, 0, 30)),
        (1, 2, datetime(2026, 1, 1, 0, 2, 0)),
        (2, 0, datetime(2026, 1, 1, 0, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "conv_id long, turn_idx long, ts timestamp")
    got = {(r["conv_id"], r["turn_idx"]): r["gap_sec"]
           for r in turn_deltas(df).collect()}
    assert got[(1, 0)] is None and got[(2, 0)] is None
    assert got[(1, 1)] == 30.0 and got[(1, 2)] == 90.0


def test_phrase_match_semantics(spark):
    from pulse_spark.query.phrase import phrase_match
    from pulse_spark.text.normalize import PreprocessSettings

    rows = [
        (1, "spark join merge"),                  # match at pos 1
        (2, "spark the join"),                    # stopword removed -> adjacent
        (3, "join spark"),                        # wrong order
        (4, "spark join spark join"),             # two occurrences
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = PreprocessSettings(stemming=False)
    got = {r["doc_id"]: r["n_occ"] for r in phrase_match(df, "spark join", s).collect()}
    assert got == {1: 1, 2: 1, 4: 2}
    assert phrase_match(df, "the of a", s).count() == 0  # all-stopword phrase
    # punctuation is stripped by the tokenizer BEFORE tokens reach the
    # expression builder, so quoting can never reach the SQL literal
    got2 = {r["doc_id"]: r["n_occ"]
            for r in phrase_match(df, "SPARK, join!", s).collect()}
    assert got2 == {1: 1, 2: 1, 4: 2}


def test_phrase_prefilter_exactness(spark):
    """The r6 contains() pre-prune must never drop a true match: rows
    whose tokenization REMOVES characters (ASCII control chars; the
    non-ASCII Mn-normalization path) bypass the prefilter and take the
    exact tokenize path; plain rows that can't match are pruned before
    the Python tokenizer."""
    from pulse_spark.query.phrase import near_match, phrase_match
    from pulse_spark.text.normalize import PreprocessSettings

    s = PreprocessSettings(stemming=False)
    rows = [
        (1, "spark join merge"),            # plain match
        (2, "sp\x01ark join"),              # control char REMOVED ->
                                            # tokenizes to "spark join":
                                            # substring test would miss it
        (3, "spárk join"),            # combining mark dropped by NFD
                                            # normalization -> "spark join"
        (4, "nothing relevant here"),       # pruned by the prefilter
        (5, "sparkling join"),              # passes prefilter (substring),
                                            # exact phase rejects it
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_occ"]
           for r in phrase_match(df, "spark join", s).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    gotn = {r["doc_id"]: r["n_occ"]
            for r in near_match(df, "join spark", s, slop=1).collect()}
    assert set(gotn) == {1, 2, 3}
    # and the prefilter is actually in the plan (a Filter with contains
    # below the Python tokenizer), without breaking the no-join shape
    plan = phrase_match(df, "spark join", s)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Contains(" in plan or "contains" in plan.lower(), plan
    assert "Join" not in plan, plan

    # stemming=True must SKIP the prefilter: Porter stems ('happi') are
    # not substrings of their surface forms, so a contains() prune on
    # stemmed query tokens would drop true matches (r6 review finding)
    st = PreprocessSettings(stemming=True)
    sdf = spark.createDataFrame(
        [(1, "happy days are here"), (2, "unrelated words")],
        "doc_id long, text string",
    )
    got_st = {r["doc_id"]: r["n_occ"]
              for r in phrase_match(sdf, "happy days", st).collect()}
    assert got_st == {1: 1}, got_st
    got_near_st = {r["doc_id"]: r["n_occ"]
                   for r in near_match(sdf, "days happy", st, slop=1).collect()}
    assert set(got_near_st) == {1}, got_near_st


def test_near_dup_clusters_and_corpus_filter(spark):
    from pulse_spark.datapipe.dedup import near_dup_clusters
    from pulse_spark.datapipe.pipeline import corpus_filter, kept_corpus

    rows = [
        # chain: 1~2 and 2~3 near-dups -> one cluster {1,2,3} even though
        # 1 and 3 may not pair directly (transitivity via components)
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "beta gamma delta epsilon zeta eta iota kappa"),
        (4, "completely different content with many unique words here"),
        (5, "1 2 3 4 5 6 7 8 9 0 1 2 3 4"),   # digit soup -> quality fail
        (6, "tiny"),                          # too few tokens -> quality fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cl = {r["doc_id"]: r["cluster_id"]
          for r in near_dup_clusters(df, min_jaccard=0.3).collect()}
    assert cl[1] == cl[2] == cl[3] == 1   # one component, min-id canonical
    assert cl[4] == 4 and cl[5] == 5 and cl[6] == 6

    dec = {r["doc_id"]: (r["keep_quality"], r["keep_dedup"], r["keep"])
           for r in corpus_filter(df, min_jaccard=0.3,
                                  min_stopword_ratio=0.0).collect()}
    assert dec[1][1] and not dec[2][1] and not dec[3][1]  # canonical only
    assert not dec[5][0] and not dec[6][0]                # quality fails
    assert dec[4] == (True, True, True)

    kept = {r["doc_id"] for r in kept_corpus(df, min_jaccard=0.3,
                                             min_stopword_ratio=0.0).collect()}
    assert kept == {1, 4}


def test_keyword_extract_semantics(spark):
    """Hand-built corpus: the doc-specific term must outrank corpus-wide
    terms; ranks are dense per doc and scores non-increasing."""
    from pulse_spark.datapipe.textstats import keyword_extract

    docs = spark.createDataFrame(
        [(0, "common common zebra zebra zebra"),
         (1, "common common common apple"),
         (2, "common banana banana")],
        "doc_id long, text string")
    rows = keyword_extract(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in by_doc.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(len(rs)))
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
    # 'common' appears in every doc -> idf = ln(1) = 0 -> score 0; the
    # doc-specific term must rank first
    assert by_doc[0][0]["term"] == "zebra"
    assert by_doc[1][0]["term"] == "apple"
    assert by_doc[2][0]["term"] == "banana"


def test_bigram_pmi_collocation(spark):
    """A bigram that always co-occurs gets higher PMI than one assembled
    from independent frequent tokens; min_count filters the tail."""
    import math

    from pulse_spark.datapipe.textstats import bigram_pmi

    rows = [(i, "new york " + ("the cat " if i % 2 else "the dog ") * 3)
            for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in bigram_pmi(docs, min_count=5).collect()}
    assert ("new", "york") in out
    assert all(r["n_ab"] >= 5 for r in out.values())
    # 'new york' is a perfect collocation; 'the cat' shares 'the' with
    # 'the dog' -> lower PMI
    assert out[("new", "york")]["pmi"] > out[("the", "cat")]["pmi"]
    assert all(math.isfinite(r["pmi"]) for r in out.values())


def test_turn_windows_shapes(spark):
    """Windows slide by 1 under stable turn order; short convs emit none;
    window text == concat of the member turns."""
    from pulse_spark.datapipe.transcripts import turn_windows

    tr = spark.createDataFrame(
        [(0, 2, "c"), (0, 0, "a"), (0, 1, "b"), (0, 3, "d"),  # shuffled input
         (1, 0, "only"), (1, 1, "two")],
        "conv_id long, turn_idx long, text string")
    rows = sorted(turn_windows(tr, window=3).collect(),
                  key=lambda r: (r["conv_id"], r["start_turn"]))
    assert [(r["conv_id"], r["start_turn"], r["text"]) for r in rows] == [
        (0, 0, "a b c"), (0, 1, "b c d")]
    assert all(r["n_turns"] == 3 for r in rows)


def test_train_val_split_deterministic_and_stable(spark):
    """Same ids -> same split across calls AND across corpus growth (the
    property a sample()-based split lacks); fraction near the quantized
    target; salt changes give an independent re-split."""
    from pulse_spark.datapipe.pipeline import train_val_split

    big = spark.range(2000).withColumnRenamed("id", "doc_id")
    small = spark.range(500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in train_val_split(big).collect()}
    b = {r["doc_id"]: r["split"] for r in train_val_split(big).collect()}
    assert a == b
    sub = {r["doc_id"]: r["split"] for r in train_val_split(small).collect()}
    assert all(a[k] == v for k, v in sub.items())  # growth-stable
    frac = sum(1 for v in a.values() if v == "val") / len(a)
    assert 0.09 < frac < 0.16, frac  # 0.125 target, binomial wiggle
    resalt = {r["doc_id"]: r["split"]
              for r in train_val_split(big, salt="other").collect()}
    assert resalt != a  # independent re-split


def test_decontaminate_flags_benchmark_overlap(spark):
    """A training doc verbatim-containing a benchmark 8-gram is flagged;
    disjoint docs are not; n_hits counts DISTINCT shared shingles."""
    from pulse_spark.datapipe.dedup import decontaminate

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains the benchmark's first 8 tokens verbatim
            (10, "x y alpha beta gamma delta epsilon zeta eta theta z"),
            # same vocabulary, different order: no shared 8-gram
            (11, "theta eta zeta epsilon delta gamma beta alpha iota"),
            (12, "completely unrelated words here nothing shared at all ok"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate(train, bench, n=8).collect()}
    # exactly ONE shared 8-gram: the benchmark's alpha..theta window
    # (its other 8-gram, beta..iota, is not in the training doc)
    assert out[10] == (1, True)
    assert out[11] == (0, False)
    assert out[12] == (0, False)
    assert len(out) == 3  # every training doc present (left join)

    # bucketed fallback for benchmarks too big to broadcast: plain
    # equi-join on the shingle, result-identical to the broadcast path
    shuf = {r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in decontaminate(train, bench, n=8,
                                   strategy="shuffle").collect()}
    assert shuf == out
    # and the plans actually differ in join strategy
    plan_b = decontaminate(train, bench, n=8)._jdf.queryExecution() \
        .executedPlan().toString()
    plan_s = decontaminate(train, bench, n=8, strategy="shuffle")._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b
    import re

    def shingle_joins(p):
        return [ln for ln in p.splitlines()
                if re.search(r"Join.*shingle", ln)]

    assert all("Broadcast" not in ln for ln in shingle_joins(plan_s)), \
        "shuffle strategy must not broadcast the shingle join"
    with pytest.raises(ValueError, match="strategy"):
        decontaminate(train, bench, strategy="nope")


def test_repetition_score_semantics(spark):
    """dup_ratio = (total - distinct) / total shingles; short docs 0."""
    from pulse_spark.datapipe.dedup import repetition_score

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),     # 3-shingles: aba bab aba bab -> 4 total, 2 distinct
            (2, "one two three four"),  # 2 shingles, both distinct
            (3, "xy"),              # < n tokens -> 0 shingles, ratio 0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_shingles"], r["n_distinct"], r["dup_ratio"])
           for r in repetition_score(docs, n=3).collect()}
    assert out[1] == (4, 2, 0.5)
    assert out[2] == (2, 2, 0.0)
    assert out[3] == (0, 0, 0.0)


def test_vector_bytes_cap_bounds_bucket_residency():
    """A (band,bucket) group materializes its vectors as an m×dim
    float64 matrix in ONE worker; the cap must shrink with dim so that
    matrix stays ≤256 MB whatever max_bucket_size asks for (round-4
    advisor finding: dim 768 × 100k rows = 614 MB of vectors)."""
    from pulse_spark.datapipe.similarity import _vector_bytes_cap

    assert _vector_bytes_cap(768) == (256 << 20) // (8 * 768)
    assert _vector_bytes_cap(768) < 100_000  # tightens the old default
    assert _vector_bytes_cap(8) * 8 * 8 <= 256 << 20
    assert _vector_bytes_cap(1 << 40) == 64  # floor: never degenerate


def test_fingerprints_xxhash64_twin(spark):
    """fingerprints(method="xxhash64") — the no-hex-strings fast path —
    must equal a pure-python twin built on the repo's bit-exact xxhash64
    (tests/xxhash64.py, itself pinned to F.xxhash64 in test_xxhash.py);
    DuckDB has no xxhash64, so this is the variant's oracle."""
    import re

    from pulse_spark.datapipe.textstats import fingerprints
    from tests.xxhash64 import xxhash64_signed

    rows = [(1, "  SELECT spark\tJOIN  merge  "), (2, "abc"), (3, ""),
            (4, "five5"), (5, "the quick brown fox jumps")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = fingerprints(df, method="xxhash64")
    assert [f.name for f in out.schema.fields] == \
        ["doc_id", "text_fp", "min_shingle_fp"]
    got = {r["doc_id"]: (r["text_fp"], r["min_shingle_fp"])
           for r in out.collect()}
    for did, text in rows:
        norm = re.sub(r"\s+", " ", text.strip().lower())
        sh = ([xxhash64_signed(norm[i:i + 5])
               for i in range(len(norm) - 4)] if len(norm) >= 5 else [])
        assert got[did] == (xxhash64_signed(norm),
                            min(sh) if sh else None), did
    with pytest.raises(ValueError, match="method"):
        fingerprints(df, method="sha9000")


def test_conv_weighted_topk_role_weighting(spark):
    """BM25F-lite semantics: a term in an up-weighted role contributes
    more tf AND more length than the same term in a down-weighted role;
    df stays presence-based.  Two mirror conversations (same text,
    roles swapped) must rank by where the matching turn sits."""
    from pulse_spark.config import IndexingSettings
    from pulse_spark.datapipe.transcripts import conv_weighted_topk

    ns = IndexingSettings(stemming=False)  # raw "merge" in occ below
    tr = spark.createDataFrame(
        [
            # conv 1: the query term lives in the USER turn
            (1, 0, "user", "merge merge strategies"),
            (1, 1, "assistant", "join ordering details"),
            # conv 2: mirror — same texts, roles swapped by parity
            (2, 0, "user", "join ordering details"),
            (2, 1, "assistant", "merge merge strategies"),
            # conv 3: no query term, so idf = ln(3/2) > 0
            (3, 0, "user", "filter pushdown notes"),
        ],
        "conv_id long, turn_idx long, role string, text string",
    )
    occ = spark.createDataFrame(
        [(1, 0, "merge")], "query_id long, pos int, term string"
    )
    res = conv_weighted_topk(
        tr, occ, k=10, settings=ns,
        role_weights={"user": 2.0, "assistant": 1.0},
    ).collect()
    assert [r.conv_id for r in sorted(res, key=lambda r: r.rank)] == [1, 2]
    s = {r.conv_id: r.score for r in res}
    assert s[1] > s[2]

    # equal weights: the mirror conversations tie exactly (same wtf and
    # weighted length) and the tie breaks on conv_id
    eq = conv_weighted_topk(
        tr, occ, k=10, settings=ns,
        role_weights={"user": 1.0, "assistant": 1.0},
    ).collect()
    se = {r.conv_id: r.score for r in eq}
    assert abs(se[1] - se[2]) < 1e-12
    assert [r.conv_id for r in sorted(eq, key=lambda r: r.rank)] == [1, 2]

    # derived-role path (no role column): parity rule user/assistant
    # must reproduce the explicit-role result
    derived = conv_weighted_topk(
        tr.drop("role"), occ, k=10, settings=ns,
        role_weights={"user": 2.0, "assistant": 1.0},
    ).collect()
    assert {(r.conv_id, round(r.score, 9)) for r in derived} == {
        (r.conv_id, round(r.score, 9)) for r in res
    }


def test_sessionize_sub_second_gap_matches_oracle(spark, tmp_path):
    """A gap of 30 min + 0.5 s ends a session, as in the DuckDB oracle's
    epoch(ts); whole-second epochs would see exactly 30 min and keep the
    session open.  A gap of exactly 30 min does not end one."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulse_spark.datapipe.events import SESSION_GAP_MIN, sessionize
    from pulse_spark.datapipe.harness import _sessionize_sql

    t0 = dt.datetime(2025, 3, 1, 12, 0, 0)
    gap = dt.timedelta(minutes=SESSION_GAP_MIN)
    half = dt.timedelta(milliseconds=500)
    ev = [  # (event_id, ts, user_id, value)
        (1, t0, 1, 1.0), (2, t0 + gap + half, 1, 2.0),
        (3, t0, 2, 4.0), (4, t0 + gap, 2, 8.0),
        (5, t0 + half, 3, 16.0), (6, t0 + gap + 2 * half, 3, 32.0),
    ]
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array([e[0] for e in ev], pa.int64()),
        "ts": pa.array([e[1] for e in ev], pa.timestamp("us")),
        "user_id": pa.array([e[2] for e in ev], pa.int64()),
        "event_type": pa.array(["click"] * len(ev), pa.string()),
        "value": pa.array([e[3] for e in ev], pa.float64()),
        "props": pa.array(["{}"] * len(ev), pa.string()),
    }), path)

    cols = ["user_id", "session_start", "n_events", "sum_value"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in sessionize(spark.read.parquet(path)).collect()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = sorted(
        con.sql(_sessionize_sql(SESSION_GAP_MIN)).fetchall()
    )
    assert got == want
    per_user = {}
    for r in got:
        per_user[r[0]] = per_user.get(r[0], 0) + 1
    assert per_user == {1: 2, 2: 1, 3: 2}
