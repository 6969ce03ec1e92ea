"""The benchmark's workloads.  One run of one workload per process:
`run.py` calls one of WORKLOADS and writes the record.

Every timed call goes through a public function of `pulse_spark` (or
the `__spark_entry__` operators) and is timed from outside, one call at
a time (a closed loop with one client).  Correctness checks run outside
the timed regions and count failures instead of aborting.
"""

from __future__ import annotations

import json
import math
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import bench  # HEADLINE names
import checks
import tables
from pulse_spark import fixtures
from pulse_spark import oracle
from pulse_spark.config import IndexingSettings
from tracing import Tracer, per_call, reduce_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The library's default index layout (32 term buckets x 8 salts), which
# the CLI and bench.py build, so the salted bucket shuffle is timed.
# ~113k turns; even so, most of a build is per-task and per-job cost.
SETTINGS = IndexingSettings()
INGEST_CONVS = 25_000
# Builds per run: one per this many seconds of the run length, a fixed
# count so that every run, on either side of a comparison, times the
# same builds of the JVM's warm-up curve (after an untimed first build
# of ~28 s, builds take ~12 s on a 4-core host).
INGEST_S_PER_BUILD = 12
POOL_QUERIES = 600         # seeded Zipf queries, plus the 30 fixture queries
STREAM_LEN = 20_000        # warm stream, drawn from the pool
# serve query kinds: (k, conjunctive); the pool cycles through KIND_CYCLE
# so every seed has the same 2:2:1 mix
KINDS = {"disj": (10, False), "conj": (10, True), "k1000": (1000, False)}
KIND_CYCLE = ("disj", "conj", "disj", "conj", "k1000")
# bench.HEADLINE operators the benchmark leaves out, with the reason; the
# run record lists them.  The benchmark times only operators that are
# correct on its inputs, and the fix of a defect belongs in pulse_spark.
HEADLINE_EXCLUDED = {
    "events_sessions": (
        "wrong on the generated events: datapipe.events.sessionize takes "
        "event gaps with unix_timestamp, which drops the sub-second part, "
        "so 2 gaps just over 30 min end no session, unlike its DuckDB oracle"
    ),
}
HEADLINE_OPS = [n for n in bench.HEADLINE if n not in HEADLINE_EXCLUDED]
HEADLINE_CALLS = ["cache_build", *HEADLINE_OPS]

PER_LAYER: dict[str, str] = {
    "text.tokenize_s": "s",
    "index.docs_s": "s",
    "index.postings_s": "s",
    "index.terms_s": "s",
    "index.segments_s": "s",
    "index.driver_gap_s": "s",
    "index.postings_rows": "count",
    "index.terms_rows": "count",
    "index.segment_blocks": "count",
    "index.docs_bytes": "bytes",
    "index.postings_bytes": "bytes",
    "index.segments_bytes": "bytes",
    "index.jobs": "count",
    "index.tasks": "count",
    "index.in_job_s": "s",
    "index.shuffle_write_mb": "MB",
    "index.spill_mb": "MB",
    "index.gc_s": "s",
    "compression.decode_mb_per_s": "MB/s",
    "serve.open_s": "s",
    "serve.cold_p50_ms": "ms",
    "serve.disj_p50_ms": "ms",
    "serve.conj_p50_ms": "ms",
    "serve.k1000_p50_ms": "ms",
    "serve.blocks_skipped_per_query": "count",
    "serve.pruned_terms_per_query": "count",
}
for _c in HEADLINE_CALLS:
    PER_LAYER[f"headline.{_c}_s"] = "s"
    PER_LAYER[f"headline.{_c}.jobs"] = "count"
    PER_LAYER[f"headline.{_c}.driver_gap_s"] = "s"


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it): the highest percentile of
    the ladder with at least ten samples beyond it (nearest rank); the
    median when no percentile has."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in (50.0, 90.0, 99.0, 99.9, 99.99):
        rank = max(math.ceil(p * n / 100), 1)
        if best is None or n - rank >= 10:
            best = (p, xs[rank - 1], n - rank)
    return best


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path) for f in fs
    )


class Run:
    """State of one run: Spark session, tracer, first-call clock, peak
    RSS and the attempted/failed counters."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.first_call: float | None = None
        self.peak_rss_mb: float | None = None
        self.attempted = 0
        self.failed = 0
        self.master = f"local[{len(os.sched_getaffinity(0))}]"
        self.event_log = os.path.join(self.work, "eventlog")

    def scaled(self, n: int) -> int:
        return max(int(n * self.args.scale), 20)

    def start_spark(self):
        from pulse_spark.session import get_spark

        tmp = os.environ.get("TMPDIR", self.work)
        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if self.args.trace:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               master=self.master, extra_conf=conf)
        return self.spark

    def stop_spark(self) -> dict[str, dict]:
        """Stop Spark and its JVM (waited for, so its peak RSS reaches
        this process's children rusage); returns the reduced event log
        of a traced run."""
        self.spark.stop()
        self.spark = None
        self._stop_jvm(timeout=60)
        return reduce_event_log(self.event_log) if self.args.trace else {}

    @staticmethod
    def _stop_jvm(timeout: float) -> None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def close(self) -> None:
        """After a failed run: stop the JVM without waiting on Spark,
        which may be what hung.  Always: remove the work directory."""
        if self.spark is not None:
            self.spark = None
            self._stop_jvm(timeout=0)
        shutil.rmtree(self.work, ignore_errors=True)

    def mark_first_call(self):
        if self.first_call is None:
            self.first_call = time.time()

    def mark_last_call(self):
        """Take the driver's peak RSS as the timed calls leave it, before
        the benchmark's oracles and checks add to it."""
        self.peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    def count(self, ok: bool):
        self.attempted += 1
        self.failed += not ok

    def span(self, name: str, spark):
        return self.tracer.span(name, spark)


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def build_index(spark, src, out_dir: str):
    from pulse_spark.index.persist import build_persisted_index

    return build_persisted_index(spark, src, out_dir, SETTINGS, build_segments=True)


def oracle_of(src):
    """Pure-Python reference index over the same seeded rows, plus the
    input sizes the run records."""
    rows = src.select("conv_id", "turn_idx", "text").collect()
    idx = oracle.build_index(
        [(f"{r['conv_id']}:{r['turn_idx']}", r["text"]) for r in rows],
        SETTINGS.preprocess,
    )
    sizes = {
        "turns": len(rows),
        "text_bytes": sum(len(r["text"].encode("utf-8")) for r in rows),
        "indexed_terms": len(idx.postings),
    }
    return idx, sizes


def index_layer(out_dir: str, wall: float, groups: dict, group: str) -> dict:
    """index.* per-layer metrics of one committed build."""
    with open(os.path.join(out_dir, "manifest.json")) as f:
        st = json.load(f)["stages"]
    ev = groups.get(group, {})
    return {
        "index.docs_s": st["docs"]["wall_sec"],
        "index.postings_s": st["postings"]["wall_sec"],
        "index.terms_s": st["terms"]["wall_sec"],
        "index.segments_s": st["segments"]["wall_sec"],
        "index.driver_gap_s": wall - sum(s["wall_sec"] for s in st.values()),
        "index.postings_rows": st["postings"]["rows"],
        "index.terms_rows": st["terms"]["rows"],
        "index.segment_blocks": st["segments"]["rows"],
        "index.docs_bytes": dir_bytes(os.path.join(out_dir, "docs")),
        "index.postings_bytes": dir_bytes(os.path.join(out_dir, "postings")),
        "index.segments_bytes": dir_bytes(os.path.join(out_dir, "segments")),
        "index.jobs": ev.get("jobs", 0),
        "index.tasks": ev.get("tasks", 0),
        "index.in_job_s": ev.get("in_job_s", 0.0),
        "index.shuffle_write_mb": ev.get("shuffle_write_mb", 0.0),
        "index.spill_mb": ev.get("spill_mb", 0.0),
        "index.gc_s": ev.get("gc_s", 0.0),
    }


def median_of(records: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in records) for k in records[0]}


# ---------------------------------------------------------------------------
# ingest: repeated index builds of the seeded corpus
# ---------------------------------------------------------------------------


def ingest(run: Run) -> dict:
    from pulse_spark.index import build as B

    spark = run.start_spark()
    seed = run.args.seed
    src = fixtures.synth_transcripts_spark(spark, run.scaled(INGEST_CONVS), seed)
    build_index(spark, src, os.path.join(run.work, "warmup"))  # untimed

    walls, builds = [], []
    run.mark_first_call()
    for i in range(max(int(run.args.seconds // INGEST_S_PER_BUILD), 1)):
        out_dir = os.path.join(run.work, f"build-{i}")
        with run.span(f"build-{i}", spark):
            t0 = time.perf_counter()
            try:
                build_index(spark, src, out_dir)
                builds.append((i, out_dir))
            except Exception:  # counted, not raised
                traceback.print_exc()
            walls.append(time.perf_counter() - t0)
    run.mark_last_call()

    # the source is deterministic: the oracle collects the same rows again
    oidx, inputs = oracle_of(src)
    want_postings = sum(len(p) for p in oidx.postings.values())
    if run.args.trace:
        with run.span("tokenize", spark):
            t0 = time.perf_counter()
            (B.postings_df(B.docs_df(src), SETTINGS)
             .write.format("noop").mode("overwrite").save())
            tokenize_s = time.perf_counter() - t0
    groups = run.stop_spark()

    index_bytes = 0
    for i in range(len(walls)):
        out_dir = dict(builds).get(i)
        ok = out_dir is not None
        if ok:
            with open(os.path.join(out_dir, "manifest.json")) as f:
                st = json.load(f)["stages"]
            got_postings = st["postings"]["rows"] + (1 if run.args.inject_wrong and i == 0 else 0)
            ok = (st["docs"]["rows"] == inputs["turns"]
                  and got_postings == want_postings
                  and st["terms"]["rows"] == inputs["indexed_terms"])
            index_bytes = dir_bytes(out_dir) - os.path.getsize(os.path.join(out_dir, "manifest.json"))
        run.count(ok)

    wall = statistics.median(walls)
    per_layer = {}
    out = {
        "call_p50_s": wall,
        "calls": len(walls),
        "inputs": {**inputs, "seed": seed, "oracle_postings": want_postings},
        "workload_metrics": {
            "build_turns_per_s": {"value": inputs["turns"] / wall, "unit": "turns/s"},
            "index_bytes_per_text_byte": {"value": index_bytes / inputs["text_bytes"], "unit": "ratio"},
            "build_s": {"value": walls, "unit": "s"},
        },
        "per_layer": per_layer,
    }
    if run.args.trace and builds:
        per_layer.update(median_of([index_layer(d, walls[i], groups, f"build-{i}")
                                    for i, d in builds]))
        per_layer["text.tokenize_s"] = tokenize_s
        out["event_log"] = {k: v for k, v in groups.items() if k}
        serve_layer(run, builds[-1][1], oidx, out)
    return out


# ---------------------------------------------------------------------------
# serve and compression layers, in the traced ingest run: PointServer over
# the last committed build, with Spark stopped
# ---------------------------------------------------------------------------


def query_pool(seed: int) -> list[tuple[str, str]]:
    """Seeded (text, kind) pool: 1-4 terms drawn Zipf-like (rank =
    floor(V^u) - 1, as the corpus generator does) from the fixture
    vocabulary without its stopwords, plus the 30 fixture edge-case
    queries; distinct texts take the kinds of KIND_CYCLE in turn."""
    from pulse_spark.text.stopwords import STOPWORDS

    rng = random.Random(seed)
    vocab = [w for w in fixtures._vocab(rng) if w not in STOPWORDS]
    v = len(vocab)
    texts = []
    for _ in range(POOL_QUERIES):
        words = [vocab[min(int(v ** rng.random()) - 1, v - 1)]
                 for _ in range(rng.randint(1, 4))]
        texts.append(" ".join(words))
    texts += [t for _, t in fixtures.gen_queries()]
    return [(t, KIND_CYCLE[i % len(KIND_CYCLE)])
            for i, t in enumerate(dict.fromkeys(texts))]


def _fingerprint(res) -> int:
    return hash(tuple((r.doc_id, r.score) for r in res))


def decode_rate(out_dir: str) -> float:
    """MB/s of `decode_payload` over every committed segment block
    (MB counted as encoded payload bytes in)."""
    import pyarrow.parquet as pq

    from pulse_spark.index.segments import decode_payload

    cols = ["doc_ids_bin", "tfs_bin", "doc_lens_bin"]
    t = pq.read_table(os.path.join(out_dir, "segments"), columns=cols)
    blocks = list(zip(*(t[c].to_pylist() for c in cols)))
    mb = sum(len(a) + len(b) + len(c) for a, b, c in blocks) / 1e6
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for a, b, c in blocks:
            decode_payload(a, b, c, SETTINGS.compression)
        rates.append(mb / (time.perf_counter() - t0))
    return statistics.median(rates)


def serve_layer(run: Run, out_dir: str, oidx, out: dict) -> None:
    """A cold pass over the query pool on a fresh server, then the warm
    stream for half the run length; adds the serve and compression
    per-layer metrics and the serve latencies to the ingest record."""
    from pulse_spark.serve import PointServer

    seed = run.args.seed
    pool = query_pool(seed)
    rng = random.Random(seed + 1)
    stream = [rng.randrange(len(pool)) for _ in range(STREAM_LEN)]
    per_layer = out["per_layer"]
    per_layer["compression.decode_mb_per_s"] = decode_rate(out_dir)

    def call(srv, key):
        text, kind = pool[key]
        k, conj = KINDS[kind]
        # a query with no indexed term returns before setting these
        srv.last_blocks_skipped = srv.last_pruned_terms = 0
        t0 = time.perf_counter()
        try:
            res = srv.search(text, k=k, conjunctive=conj)
        except Exception:  # counted, not raised
            traceback.print_exc()
            res = None
        return res, time.perf_counter() - t0

    # cold pass: a fresh server runs every pool query once
    t0 = time.perf_counter()
    srv = PointServer(out_dir)
    open_s = time.perf_counter() - t0
    cold, first = [], {}
    for key in range(len(pool)):
        first[key], dt = call(srv, key)
        cold.append(dt)

    lat = {kind: [] for kind in KINDS}
    warm, keys, fps, skipped, pruned = [], [], [], [], []
    t_end = time.perf_counter() + run.args.seconds / 2
    i = 0
    while time.perf_counter() < t_end:
        key = stream[i % len(stream)]
        i += 1
        res, dt = call(srv, key)
        warm.append(dt)
        lat[pool[key][1]].append(dt)
        keys.append(key)
        fps.append(None if res is None else _fingerprint(res))
        skipped.append(srv.last_blocks_skipped)
        pruned.append(srv.last_pruned_terms)
    srv.close()

    # checks: the first cold result of every pool query against the
    # oracle; every later call against that first result
    ref_ok, ref_fp = {}, {}
    for key, res in first.items():
        text, kind = pool[key]
        k, conj = KINDS[kind]
        if res is None:
            ref_ok[key], ref_fp[key] = False, None
            continue
        got = [(r.doc_no, r.score) for r in res]
        if run.args.inject_wrong and key == 0:
            got = [("no-such-doc", 1.0)] + got[1:]
        ref_ok[key] = checks.topk_matches(got, checks.oracle_ranking(oidx, text, conj), k)
        ref_fp[key] = _fingerprint(res)
    for key in range(len(pool)):
        run.count(ref_ok[key])
    for key, fp in zip(keys, fps):
        run.count(ref_ok[key] and fp == ref_fp[key])

    pct, tail_v, beyond = tail(warm)
    per_layer.update({
        "serve.open_s": open_s,
        "serve.cold_p50_ms": statistics.median(cold) * 1e3,
        **{f"serve.{kind}_p50_ms": statistics.median(v) * 1e3 if v else 0.0
           for kind, v in lat.items()},
        "serve.blocks_skipped_per_query": statistics.mean(skipped),
        "serve.pruned_terms_per_query": statistics.mean(pruned),
    })
    out["inputs"].update({
        "serve_pool_queries": len(pool),
        "serve_queries_per_kind": {kind: sum(1 for _, k in pool if k == kind) for kind in KINDS},
        "serve_warm_calls_per_kind": {kind: len(v) for kind, v in lat.items()},
        "serve_regime": "indexed terms fit the default 4096-term block cache, "
                        "so the cold pass is the only larger-than-cache regime",
    })
    out["workload_metrics"].update({
        "serve_query_p50_ms": {"value": statistics.median(warm) * 1e3, "unit": "ms"},
        "serve_query_tail_ms": {"value": tail_v * 1e3, "unit": "ms", "percentile": pct,
                                "beyond": beyond, "samples": len(warm)},
        "serve_cold_query_p50_ms": {"value": statistics.median(cold) * 1e3, "unit": "ms"},
    })


# ---------------------------------------------------------------------------
# headline: the bench.HEADLINE operators, except HEADLINE_EXCLUDED, over
# fixed generated tables
# ---------------------------------------------------------------------------


def headline(run: Run) -> dict:
    import __spark_entry__ as entry
    from pulse_spark import harness as h

    paths = tables.write_tables(os.path.join(run.work, "tables"), run.args.scale)
    sf_dir = os.path.dirname(paths["documents"])
    spark = run.start_spark()
    qs = entry.queries()
    # warm the JVM and the Python workers once, as bench.run_headline does
    qs["doc_stats"](spark, sf_dir).collect()

    walls, results = {}, {}
    run.mark_first_call()
    for name in HEADLINE_CALLS:
        with run.span(name, spark):
            t0 = time.perf_counter()
            try:
                if name == "cache_build":
                    h._postings(spark, sf_dir).count()
                    h._terms(spark, sf_dir).count()
                    h._stats(spark, sf_dir)
                else:
                    sdf = qs[name](spark, sf_dir)
                    results[name] = (sdf.columns, [r.asDict() for r in sdf.collect()])
                ok = True
            except Exception:  # counted, not raised
                traceback.print_exc()
                ok = False
            walls[name] = time.perf_counter() - t0
        if not ok or name == "cache_build":
            # the cache build has no oracle: term_df and the top-k trio check it
            run.count(ok)
    run.mark_last_call()
    groups = run.stop_spark()

    sqls = entry.oracle_sql()
    cache = os.path.join(ROOT, ".perfbench", "oracle")
    for name in HEADLINE_OPS:
        if name not in results:
            continue
        cols, rows = results[name]
        if run.args.inject_wrong and name == HEADLINE_OPS[0]:
            rows = rows[1:]
        want_cols, want_rows = checks.duck_expected(name, sqls[name], paths, cache)
        ok = checks.table_matches(cols, rows, want_cols, want_rows)
        if not ok:
            print(f"{name}: result differs from its DuckDB oracle", file=sys.stderr)
        run.count(ok)

    total = sum(walls.values())
    per_layer = {}
    if run.args.trace:
        calls = per_call(run.tracer, groups)
        for name in HEADLINE_CALLS:
            per_layer[f"headline.{name}_s"] = walls[name]
            per_layer[f"headline.{name}.jobs"] = calls[name]["jobs"]
            per_layer[f"headline.{name}.driver_gap_s"] = calls[name]["driver_gap_s"]
    return {
        "call_p50_s": total,
        "calls": 1,
        "inputs": {**tables.input_sizes(paths),
                   "seed": "does not apply: the headline tables are fixed",
                   "excluded_operators": HEADLINE_EXCLUDED},
        "workload_metrics": {
            "headline_s": {"value": total, "unit": "s"},
            **{f"{n}_s": {"value": w, "unit": "s"} for n, w in walls.items()},
        },
        "per_layer": per_layer,
        "event_log": {k: v for k, v in groups.items() if k},
    }


WORKLOADS = {"ingest": ingest, "headline": headline}
