"""spark-submit entry point.

Cluster usage (north rule: spark-submit --py-files on multi-executor
clusters; spark-submit has no `-m` module mode, so the repo ships a
4-line app file `submit.py` that calls main()):

    zip -r pulse_spark.zip pulse_spark
    spark-submit --py-files pulse_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        submit.py build --input <table-or-path> --output <index-dir>

Under spark-submit, omit --master: the session inherits the SUBMITTED
master and confs (session.py detects the existing gateway and does not
force local mode or a shuffle-partition default).  The full launch path
— zip + --py-files + fresh driver JVM + build + search over real
parquet — is exercised by tests/test_submit.py.

Local usage:
    python -m pulse_spark.cli build  --input t.parquet --output /tmp/idx
    python -m pulse_spark.cli search --index /tmp/idx --query "error trace" -k 10
    python -m pulse_spark.cli search --index /tmp/idx --queries q.tsv --metric TFIDF

The reference CLI equivalents: `pulse spimi` (cmd/spimi.go) and
`pulse search` (cmd/search.go); flags mirror its
--no-stemming/--no-stopwords/--no-compression/--k/--metric/--conjunctive.
"""

from __future__ import annotations

import argparse
import json
import sys

from pulse_spark.config import IndexingSettings


def _spark(args):
    from pulse_spark.session import get_spark

    return get_spark(app_name="pulse_spark_cli", master=args.master)


def _settings_from_args(args) -> IndexingSettings:
    return IndexingSettings(
        stopwords_removal=not args.no_stopwords,
        stemming=not args.no_stemming,
        compression=not args.no_compression,
    )


def cmd_build(args) -> int:
    spark = _spark(args)
    settings = _settings_from_args(args)
    from pulse_spark.index.persist import build_persisted_index

    src = spark.read.format(args.format).load(args.input)
    idx = build_persisted_index(
        spark, src, args.output, settings, build_segments=args.segments
    )
    print(json.dumps({"n_docs": idx.n_docs, "adl": idx.adl, "out": args.output}))
    return 0


def _print_trec(rows) -> None:
    # TREC-style result lines (cmd/search.go:92-96)
    for r in rows:
        print(f"{r['query_id']}\tQ0\t{r['doc_no']}\t{r['rank']}\t{r['score']:.6f}\tpulse_spark")


def _print_timing(qid, seconds: float) -> None:
    # reference elapsed-time line: "#\t<qid>\t<elapsed>\t<microseconds>"
    # (cmd/search.go:98-101)
    print(f"#\t{qid}\t{seconds * 1000:.3f}ms\t{int(seconds * 1e6)}")


def _read_queries_arg(args) -> list[tuple[int, str]]:
    if args.query:
        return [(0, args.query)]
    if not args.queries:
        raise SystemExit(
            f"pulse_spark {args.cmd}: one of --query or --queries is required")
    return [
        (int(a), b.rstrip("\n"))
        for a, b in (ln.split("\t", 1) for ln in open(args.queries) if ln.strip())
    ]


def cmd_search(args) -> int:
    import time

    if args.sidecar:
        # no-Spark point-query serving (serve.py) over the committed
        # segment artifacts — reference-class warm latency.  --shards N
        # runs the horizontal composition (N doc_range shard servers +
        # global top-k merge) in one process; in production each shard
        # is its own host and the merge is the same code over RPCs.
        from pulse_spark.serve import PointServer, ShardedServer

        srv = (ShardedServer(args.index, n_shards=args.shards,
                             parallel=args.parallel_shards,
                             malloc_arena_mb=args.arena_mb or None)
               if args.shards > 1
               else PointServer(args.index,
                                malloc_arena_mb=args.arena_mb or None))

        def run_one(qid: int, text: str) -> None:
            t0 = time.perf_counter()
            res = srv.search(text, k=args.k, metric=args.metric,
                             conjunctive=args.conjunctive, query_id=qid)
            el = time.perf_counter() - t0
            _print_trec([
                {"query_id": qid, "doc_no": r.doc_no, "rank": r.rank,
                 "score": r.score} for r in res
            ])
            _print_timing(qid, el)

        if args.interactive:
            print("pulse_spark> enter queries (ctrl-d to exit)", file=sys.stderr)
            for qid, line in enumerate(ln.strip() for ln in sys.stdin):
                if line:
                    run_one(qid, line)
            return 0
        for qid, text in _read_queries_arg(args):
            run_one(qid, text)
        return 0

    spark = _spark(args)
    from pulse_spark.index.persist import load_index
    from pulse_spark.query.search import search_topk, with_doc_no

    idx = load_index(spark, args.index)

    def run_batch(qdf):
        if args.segments:
            # compressed block-max path (segments.py); doc_no recovered
            # from the docs table for TREC output
            from pulse_spark.index.segments import search_segments

            res = search_segments(spark, idx, qdf, k=args.k,
                                  metric=args.metric,
                                  conjunctive=args.conjunctive)
            return with_doc_no(idx, res).collect()
        return search_topk(idx, qdf, k=args.k, metric=args.metric,
                           conjunctive=args.conjunctive).collect()

    if args.interactive:
        # reference: query.InteractiveQueries stdin REPL (query.go:56-80)
        print("pulse_spark> enter queries (ctrl-d to exit)", file=sys.stderr)
        qid = 0
        for line in sys.stdin:
            line = line.strip()
            if not line:
                continue
            qdf = spark.createDataFrame([(qid, line)], "query_id long, text string")
            t0 = time.perf_counter()
            res = run_batch(qdf)
            el = time.perf_counter() - t0
            _print_trec(sorted(res, key=lambda r: r["rank"]))
            _print_timing(qid, el)
            qid += 1
        return 0

    rows = _read_queries_arg(args)
    qdf = spark.createDataFrame(rows, "query_id long, text string")
    t0 = time.perf_counter()
    res = run_batch(qdf)
    el = time.perf_counter() - t0
    _print_trec(sorted(res, key=lambda r: (r["query_id"], r["rank"])))
    # batch mode runs the whole query set as ONE Spark job — the timing
    # line reports the batch elapsed once (honest; per-query wall times
    # come from --sidecar / --interactive)
    _print_timing("batch", el)
    return 0


def cmd_explain(args) -> int:
    """Per-term score breakdown of the top-k winners (query/explain.py):
    one TSV line per (query, doc, term) —
    query_id, rank, doc_no, score, term, tf, df, occurrences, idf,
    term_score — sum(term_score) over a doc's lines equals its score."""
    queries = _read_queries_arg(args)  # validate before the JVM spins up
    spark = _spark(args)
    from pulse_spark.index.persist import load_index
    from pulse_spark.query.explain import explain_search

    idx = load_index(spark, args.index)
    qdf = spark.createDataFrame(queries, "query_id long, text string")
    rows = explain_search(idx, qdf, k=args.k, metric=args.metric).collect()
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"], r["term"])):
        print(f"{r['query_id']}\t{r['rank']}\t{r['doc_no']}\t"
              f"{r['score']:.6f}\t{r['term']}\t{r['tf']}\t{r['df']}\t"
              f"{r['occurrences']}\t{r['idf']:.6f}\t{r['term_score']:.6f}")
    return 0


def cmd_suggest(args) -> int:
    """Did-you-mean suggestions (query/wildcard.py suggest_terms): one
    TSV line per suggestion — query_id, pos, token, suggestion,
    distance, df — for query tokens absent from the index lexicon."""
    queries = _read_queries_arg(args)  # validate before the JVM spins up
    spark = _spark(args)
    from pulse_spark.index.persist import load_index
    from pulse_spark.query.wildcard import suggest_terms
    from pulse_spark.text.normalize import tokens as py_tokens

    idx = load_index(spark, args.index)
    probes = []
    for qid, text in queries:
        for pos, t in enumerate(py_tokens(text, idx.settings.preprocess)):
            probes.append((qid, pos, t))
    qt = spark.createDataFrame(probes, "query_id long, pos int, token string")
    rows = suggest_terms(
        idx.terms, qt, max_edits=args.max_edits, n_suggestions=args.n
    ).collect()
    for r in sorted(rows, key=lambda r: (r["query_id"], r["pos"], r["srank"])):
        print(f"{r['query_id']}\t{r['pos']}\t{r['token']}\t"
              f"{r['suggestion']}\t{r['distance']}\t{r['df']}")
    return 0


def cmd_merge(args) -> int:
    """Merge two or more committed indexes (index/merge.py): batch
    ingestion without re-tokenizing — touches index artifacts only."""
    spark = _spark(args)
    from pulse_spark.index.merge import merge_many

    in_dirs = [args.a, args.b, *(args.inputs or [])]
    idx = merge_many(spark, in_dirs, args.output,
                     check_disjoint=not args.no_disjoint_check)
    print(json.dumps({
        "output": args.output, "n_docs": idx.n_docs,
        "adl": round(idx.adl, 6),
        "segments": idx.has_segments,
    }))
    return 0


def cmd_compact(args) -> int:
    """Compact streaming deltas into a committed index
    (streaming/incremental.py::compact_stream_index)."""
    spark = _spark(args)
    from pulse_spark.streaming.incremental import compact_stream_index

    # settings come from the stream's own record (they bound the deltas'
    # tokenization) — no preprocessing flags here on purpose
    idx = compact_stream_index(spark, args.stream_dir, args.output,
                               build_segments=not args.no_segments)
    print(json.dumps({
        "output": args.output, "n_docs": idx.n_docs,
        "adl": round(idx.adl, 6), "segments": idx.has_segments,
    }))
    return 0


def cmd_delete(args) -> int:
    """Tombstone documents (live-docs semantics, index/deletes.py)."""
    spark = _spark(args)
    from pulse_spark.index.deletes import delete_docs

    if args.doc_nos_file:
        doc_nos = [ln.strip() for ln in open(args.doc_nos_file) if ln.strip()]
    else:
        doc_nos = [d for d in args.doc_nos.split(",") if d]
    n = delete_docs(spark, args.index, doc_nos)
    print(json.dumps({"index": args.index, "tombstoned": n,
                      "requested": len(doc_nos)}))
    return 0


def cmd_vacuum(args) -> int:
    """Physically drop tombstoned docs into a new index dir."""
    spark = _spark(args)
    from pulse_spark.index.deletes import vacuum_index

    idx = vacuum_index(spark, args.index, args.output)
    print(json.dumps({"output": args.output, "n_docs": idx.n_docs,
                      "adl": round(idx.adl, 6),
                      "segments": idx.has_segments}))
    return 0


def cmd_stats(args) -> int:
    """Inspect a committed index without a SparkSession: corpus stats,
    vocabulary size, per-stage bytes and rows (from the manifest's
    lineage), live tombstone count, and the settings that bind the
    query path.  Driver-side pyarrow/manifest reads only — safe to run
    against an index a cluster is actively serving."""
    import os

    from pulse_spark.index.checkpoint import read_committed

    manifest, n_docs, adl = read_committed(args.index)

    def du(path):
        total = 0
        for root, _d, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, x)) for x in files)
        return total

    out = {
        "index": os.path.abspath(args.index),
        "n_docs": n_docs,
        "adl": round(adl, 6),
        "n_terms": manifest["stages"]["terms"]["rows"],
        "settings": manifest["settings"],
        "stages": {
            s: {"rows": v.get("rows"),
                "bytes": du(os.path.join(args.index, s)),
                "wall_sec": v.get("wall_sec")}
            for s, v in manifest["stages"].items()
        },
        "merged_from": manifest.get("merged_from"),
        "vacuumed_from": manifest.get("vacuumed_from"),
    }
    from pulse_spark.index.deletes import deleted_id_array

    dels = deleted_id_array(args.index)
    out["n_tombstoned"] = int(dels.size) if dels is not None else 0
    print(json.dumps(out, indent=2))
    return 0


def cmd_eval(args) -> int:
    """trec_eval analog (trec_eval/README.md:22-36 workflow): score a
    TREC run file against a qrels file with eval.py's metrics.

    run file:   qid Q0 doc_no rank score tag   ('#' timing lines skipped)
    qrels file: qid 0 doc_no rel
    """
    spark = _spark(args)
    from pulse_spark.eval import macro_average, trec_metrics

    # trec_eval ignores the run file's rank column (conventions differ:
    # 0- vs 1-based, or plain unreliable) and re-ranks by score — do the
    # same: (score desc, doc_no asc) per query, 0-based
    by_q: dict[int, list] = {}
    for ln in open(args.run):
        p = ln.split()
        if not p or p[0].startswith("#"):
            continue
        by_q.setdefault(int(p[0]), []).append((-float(p[4]), p[2]))
    run_rows = []
    for qid, lst in by_q.items():
        lst.sort()
        run_rows += [(qid, rank, docno) for rank, (_, docno) in enumerate(lst)]
    qrel_rows = []
    for ln in open(args.qrels):
        p = ln.split()
        if p:
            qrel_rows.append((int(p[0]), p[2], int(p[3])))
    results = spark.createDataFrame(
        run_rows, "query_id long, rank int, doc_no string"
    )
    qrels = spark.createDataFrame(
        qrel_rows, "query_id long, doc_no string, rel int"
    )
    m = trec_metrics(results, qrels, k=args.k, id_col="doc_no")
    for r in sorted(m.collect(), key=lambda r: r["query_id"]):
        print(json.dumps(r.asDict()))
    print(json.dumps(macro_average(m).collect()[0].asDict()))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="pulse_spark")
    p.add_argument("--master", default=None, help="spark master (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build an inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--format", default="parquet")
    b.add_argument("--output", required=True)
    b.add_argument("--no-stemming", action="store_true")
    b.add_argument("--no-stopwords", action="store_true")
    b.add_argument("--no-compression", action="store_true")
    b.add_argument("--segments", action="store_true",
                   help="also build compressed block segments")
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search", help="top-k search")
    s.add_argument("--index", required=True)
    s.add_argument("--query", default=None)
    s.add_argument("--queries", default=None, help="TSV: query_id\\ttext")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--metric", default="BM25", choices=["BM25", "TFIDF", "bm25", "tfidf"])
    s.add_argument("--conjunctive", action="store_true")
    s.add_argument("--interactive", action="store_true",
                   help="stdin REPL (reference query.go:56-80)")
    s.add_argument("--segments", action="store_true",
                   help="score via the compressed block-max segments path")
    s.add_argument("--sidecar", action="store_true",
                   help="serve without Spark (pyarrow + numpy over the "
                        "committed segments; reference-class latency)")
    s.add_argument("--shards", type=int, default=1,
                   help="with --sidecar: serve via N doc_range shard "
                        "servers + global top-k merge (rank-identical)")
    s.add_argument("--parallel-shards", action="store_true",
                   help="with --shards N: one worker process per shard, "
                        "fanned out per query (max-over-shards latency)")
    s.add_argument("--arena-mb", type=int, default=0,
                   help="with --sidecar: pre-faulted malloc arena for the "
                        "serving process (serve.enable_malloc_arena) — "
                        "recommended for long-lived servers on hosts with "
                        "lazy memory backing")
    s.set_defaults(fn=cmd_search)

    ex = sub.add_parser("explain", help="per-term score breakdown of the "
                                        "top-k winners")
    ex.add_argument("--index", required=True)
    ex.add_argument("--query", default=None)
    ex.add_argument("--queries", default=None, help="TSV: query_id\\ttext")
    ex.add_argument("-k", type=int, default=10)
    ex.add_argument("--metric", default="BM25",
                    choices=["BM25", "TFIDF", "bm25", "tfidf"])
    ex.set_defaults(fn=cmd_explain)

    sg = sub.add_parser("suggest", help="did-you-mean suggestions for "
                                        "query tokens absent from the lexicon")
    sg.add_argument("--index", required=True)
    sg.add_argument("--query", default=None)
    sg.add_argument("--queries", default=None, help="TSV: query_id\\ttext")
    sg.add_argument("--max-edits", type=int, default=2)
    sg.add_argument("-n", type=int, default=3,
                    help="suggestions per token")
    sg.set_defaults(fn=cmd_suggest)

    c = sub.add_parser("compact", help="compact streaming deltas into a "
                                       "committed index (no re-tokenize)")
    c.add_argument("--stream-dir", required=True,
                   help="the incremental build's out_dir (deltas)")
    c.add_argument("--output", required=True)
    c.add_argument("--no-segments", action="store_true")
    c.set_defaults(fn=cmd_compact)

    m = sub.add_parser("merge", help="merge two or more committed indexes"
                                     " (batch ingestion, no re-tokenize)")
    m.add_argument("--a", required=True, help="first index dir")
    m.add_argument("--b", required=True, help="second index dir (absorbed)")
    m.add_argument("--input", dest="inputs", action="append", default=[],
                   help="additional index dir (repeatable; N-way merge "
                        "runs as ONE union pass, not a pairwise fold)")
    m.add_argument("--output", required=True)
    m.add_argument("--no-disjoint-check", action="store_true",
                   help="skip the doc_no overlap assertion")
    m.set_defaults(fn=cmd_merge)

    dl = sub.add_parser("delete", help="tombstone docs by doc_no "
                                       "(live-docs semantics)")
    dl.add_argument("--index", required=True)
    dl.add_argument("--doc-nos", default="", help="comma-separated doc_nos")
    dl.add_argument("--doc-nos-file", default=None,
                    help="file with one doc_no per line")
    dl.set_defaults(fn=cmd_delete)

    st = sub.add_parser("stats", help="inspect a committed index "
                                      "(no Spark: manifest + footers)")
    st.add_argument("--index", required=True)
    st.set_defaults(fn=cmd_stats)

    v = sub.add_parser("vacuum", help="rewrite the index without "
                                      "tombstoned docs (new dir)")
    v.add_argument("--index", required=True)
    v.add_argument("--output", required=True)
    v.set_defaults(fn=cmd_vacuum)

    e = sub.add_parser("eval", help="score a TREC run against qrels "
                                    "(trec_eval analog)")
    e.add_argument("--run", required=True, help="TREC run file")
    e.add_argument("--qrels", required=True, help="TREC qrels file")
    e.add_argument("-k", type=int, default=10)
    e.set_defaults(fn=cmd_eval)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
