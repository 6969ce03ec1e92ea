"""Transcript-structure operators — the multi-turn conversation data
model of the north star (conv_id, turn_idx, text, ...), as pure
DataFrame plans.

The harness testdata ships flat documents, so the canonical
deterministic wrapping `conv_id = doc_id % n_convs, turn_idx = doc_id
div n_convs` (same rule in the DuckDB oracles) recreates multi-turn
conversations; production callers pass real transcript tables.

Scale notes: conv_stats / conv_text group on conv_id — one shuffle,
uniform keys (conversations are bounded: even pathological agent loops
are thousands of turns, never millions, so no salting needed).
response_pairs is a self-equi-join on (conv_id, turn_idx+1): Spark
sort-merge-joins on the same key both sides — co-partitioned, no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulse_spark.text.udfs import doc_len_bytes

N_CONVS = 100  # deterministic wrapping factor for the flat-docs testdata


def docs_as_transcripts(docs: DataFrame, n_convs: int = N_CONVS) -> DataFrame:
    """(conv_id, turn_idx, text): deterministic multi-turn wrapping of a
    flat documents table (doc_id -> (doc_id % n, doc_id div n))."""
    return docs.select(
        (F.col("doc_id") % n_convs).cast("long").alias("conv_id"),
        F.floor(F.col("doc_id") / n_convs).cast("long").alias("turn_idx"),
        "text",
    )


def conv_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation shape stats: (conv_id, n_turns, first_turn,
    last_turn, total_bytes, mean_turn_bytes) — the per-conversation
    health profile a transcript pipeline filters on (truncated convs,
    runaway agent loops, empty turns)."""
    b = doc_len_bytes("text").cast("long")
    return transcripts.groupBy(F.col("conv_id").cast("long").alias("conv_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.min("turn_idx").cast("long").alias("first_turn"),
        F.max("turn_idx").cast("long").alias("last_turn"),
        F.sum(b).cast("long").alias("total_bytes"),
        F.round(F.avg(b), 6).alias("mean_turn_bytes"),
    )


def conv_text(transcripts: DataFrame, sep: str = " ") -> DataFrame:
    """(conv_id, text): the conversation flattened to one document —
    turns concatenated under STABLE turn ordering (the north-rule
    invariant).  sort_array over (turn_idx, text) structs gives a
    deterministic order without a window shuffle."""
    return (
        transcripts.groupBy(F.col("conv_id").cast("long").alias("conv_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("turn_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
                sep,
            ).alias("text")
        )
    )


def response_pairs(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, text, next_text): each turn joined with its
    successor under stable ordering — the (prompt, response) pairing a
    training pipeline extracts.  Self-join on (conv_id, turn_idx + 1):
    both sides shuffle on the same key, so the join is co-partitioned."""
    cur = transcripts.select(
        F.col("conv_id").cast("long").alias("conv_id"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "text",
    )
    nxt = transcripts.select(
        F.col("conv_id").cast("long").alias("conv_id"),
        (F.col("turn_idx") - 1).cast("long").alias("turn_idx"),
        F.col("text").alias("next_text"),
    )
    return cur.join(nxt, ["conv_id", "turn_idx"]).select(
        "conv_id", "turn_idx", "text", "next_text"
    )


def turn_deltas(transcripts_with_ts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, gap_sec): seconds since the previous turn in
    the conversation — latency profiling for agent transcripts.  Window
    per conv_id (bounded partitions, see module notes)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts_with_ts.select(
        F.col("conv_id").cast("long").alias("conv_id"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.round(
            F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w),
            6,
        ).alias("gap_sec"),
    )


def turn_windows(transcripts: DataFrame, window: int = 3,
                 sep: str = " ") -> DataFrame:
    """(conv_id, start_turn, n_turns, text): sliding windows of `window`
    consecutive turns per conversation — the context-window packing step
    of a transcript training pipeline (each window becomes one training
    sample with bounded context).

    One shuffle (the conv_id groupBy; conversations are bounded-size
    groups), then pure array expressions: sort_array pins the stable turn
    ordering without a window function, slice+concat_ws emit each window.
    Conversations shorter than `window` produce no rows (no padding —
    padding policy belongs to the consumer).  The transform is guarded
    for n < window: Spark's sequence(1, 0) is DESCENDING, not empty."""
    g = transcripts.groupBy(F.col("conv_id").cast("long").alias("conv_id")).agg(
        F.sort_array(F.collect_list(F.struct("turn_idx", "text"))).alias("_ts")
    )
    n = F.size("_ts")
    wins = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - window + 1),
            lambda i: F.struct(
                F.element_at("_ts", i)["turn_idx"].cast("long").alias("start_turn"),
                F.array_join(
                    F.transform(F.slice("_ts", i, window), lambda s: s["text"]),
                    sep,
                ).alias("text"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<start_turn:bigint,text:string>>")
    )
    return g.select("conv_id", F.explode(wins).alias("w")).select(
        "conv_id",
        F.col("w.start_turn").alias("start_turn"),
        F.lit(window).cast("long").alias("n_turns"),
        F.col("w.text").alias("text"),
    )


def conv_weighted_topk(
    transcripts: DataFrame,
    q_occurrences: DataFrame,
    *,
    k: int = 10,
    metric: str = "BM25",
    settings=None,
    role_weights: "dict[str, float] | None" = None,
    tie_round: "int | None" = None,
) -> DataFrame:
    """Conversation-level field-weighted retrieval (BM25F-style): each
    turn is a weighted FIELD of its conversation — a term occurrence in
    a `user` turn counts `role_weights['user']`× toward the
    conversation's tf, and the length normalizer is the same weighted
    sum of turn byte-lengths, so up-weighting a role boosts matches in
    it without breaking tf saturation.  df/IDF stay presence-based
    (unweighted), the standard BM25F choice.

    transcripts: (conv_id, turn_idx, text[, role]); when `role` is
    absent the deterministic parity rule `turn_idx % 2 == 0 -> user`
    (the docs_as_transcripts wrapping) is applied.
    q_occurrences: (query_id, pos, term) — one row per query-token
    occurrence, tokenized with the SAME settings.

    Returns (query_id, rank, conv_id, score), rank 0-based.

    Weighted tf is Σ w·tf over the term_freq_rows kernel's per-turn
    rows: exact for integer-valued weights (the defaults, the DuckDB
    oracle's, the tests'); other weights can differ from a per-token sum
    in the last ulp, which `tie_round` absorbs.

    Scale shape: ONE (conv_id, term) shuffle of one row per turn-term,
    one bounded conv_id agg for weighted length, tiny broadcast query
    side, and topk_from_tables' two-phase bounded top-k — the flat index
    build's plan skeleton, nothing new to salt (term skew lives in the
    (conv, term) groupBy whose key space is corpus-sized).
    """
    from pulse_spark.config import IndexingSettings
    from pulse_spark.query.search import topk_from_tables
    from pulse_spark.text.udfs import term_freq_rows

    settings = settings or IndexingSettings()
    role_weights = role_weights or {"user": 2.0, "assistant": 1.0}

    role = (
        F.col("role")
        if "role" in transcripts.columns
        else F.when(F.col("turn_idx") % 2 == 0, F.lit("user")).otherwise(
            F.lit("assistant")
        )
    )
    w = F.lit(1.0)
    for name, wt in role_weights.items():
        w = F.when(role == name, F.lit(float(wt))).otherwise(w)
    turns = transcripts.select(
        F.col("conv_id").cast("long").alias("conv_id"),
        w.alias("w"),
        doc_len_bytes("text").cast("double").alias("_len"),
        "text",
    )
    # weighted conversation length includes token-less turns, so it is
    # aggregated from the un-exploded turns table.  NOT persisted (r6):
    # the stats collect below and the returned plan each compute this
    # column-pruned agg once — a persist here was never unpersisted, so
    # repeated calls over changing inputs in a long-lived session leaked
    # cached partitions; the saved pass never touches text, only
    # (conv_id, byte-length, weight)
    wlen = turns.groupBy("conv_id").agg(
        F.sum(F.col("_len") * F.col("w")).alias("doc_len")
    )

    wtf = (
        term_freq_rows(turns, settings.preprocess, ("conv_id", "w"))
        .groupBy("conv_id", "term")
        .agg(F.sum(F.col("w") * F.col("tf")).alias("tf"))
    )
    postings = wtf.join(wlen, "conv_id")
    terms = wtf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    srow = wlen.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("adl")
    ).collect()[0]
    return topk_from_tables(
        postings, terms, q_occurrences,
        int(srow["n"]), float(srow["adl"]),
        k=k, metric=metric, id_col="conv_id", tie_round=tie_round,
    )
