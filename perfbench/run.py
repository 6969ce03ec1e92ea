#!/usr/bin/env python3
"""Run one workload of the benchmark once and print its result.

    python3 perfbench/run.py --workload {ingest,headline} --seed N \
        --seconds S --trace {0,1}

The workload (perfbench/workloads.py) runs in this process.  Before
anything else starts, file descriptor 1 is pointed at stderr, so
everything that is printed, Spark's JVM and log4j included, goes to
stderr.  The saved stdout carries exactly one line, the result:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}, ...}}

with the end-to-end metrics of BENCHMARK.json for `--trace 0` and its
per-layer metrics for `--trace 1`.  The full record of the run (inputs,
workload metrics, host probes, spans, tracing overhead) is written to
.perfbench/runs/ and summarised on stderr.  Exits non-zero, printing no
result, when the workload cannot run or does not finish in time.
"""

from __future__ import annotations

import time

START = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "headline")
TIMEOUT_S = 170
DRIVER_MEM = "2g"


def _overhead(runs_dir: str, rec: dict) -> dict | None:
    """Traced e2e metrics against the newest untraced record of the same
    workload (same seed when there is one): traced / untraced - 1."""
    best = None
    for fn in os.listdir(runs_dir):
        if not fn.startswith(rec["workload"] + "-") or "-t0-" not in fn:
            continue
        with open(os.path.join(runs_dir, fn)) as f:
            r = json.load(f)
        key = (r["seed"] == rec["seed"], r["finished"])
        if best is None or key > best[0]:
            best = (key, r)
    if best is None:
        return None
    base = best[1]
    return {
        "untraced_run": base["run_id"],
        **{m: {"traced": rec["e2e"][m]["value"], "untraced": base["e2e"][m]["value"],
               "overhead": rec["e2e"][m]["value"] / base["e2e"][m]["value"] - 1}
           for m in rec["e2e"] if base["e2e"].get(m, {}).get("value")},
    }


def _timeout(signum, frame):
    raise TimeoutError(f"the workload did not finish in {TIMEOUT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests use a tiny one)")
    ap.add_argument("--inject-wrong", type=int, choices=(0, 1), default=0,
                    help="corrupt one result before its check (self-check)")
    args = ap.parse_args(argv)

    for need in ("pulse_spark", "bench.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to perfbench/", file=sys.stderr)
            return 2

    # the result goes to the saved stdout; everything else, Spark's JVM
    # (which inherits fd 1) included, to stderr
    result_out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)

    os.chdir(ROOT)
    base = os.path.join(ROOT, ".perfbench")
    runs_dir = os.path.join(base, "runs")
    tmp = os.path.join(base, "tmp")
    for d in (runs_dir, tmp):
        os.makedirs(d, exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update({
        # Spark's Python workers import pulse_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "TMPDIR": tmp,
        "PULSE_SPARK_LOCAL_DIR": os.path.join(tmp, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PULSE_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(ncpu),
        "PYTHONHASHSEED": "0",
    })
    sys.path.insert(0, ROOT)
    from bench import _host_probe

    import workloads

    run_id = (f"{args.workload}-s{args.seed}-t{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    probe_before = _host_probe()
    load_before = os.getloadavg()
    run = workloads.Run(args)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIMEOUT_S)
    try:
        w = workloads.WORKLOADS[args.workload](run)
    except BaseException:
        traceback.print_exc()
        print(f"perfbench: {args.workload} failed", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        run.close()

    # stop_spark waited for Spark's JVM, which waited for its Python
    # workers, so the largest of them is in this process's children rusage
    tree_peak_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
    e2e = {
        "setup_s": {"value": run.first_call - START, "unit": "s"},
        "call_p50_ms": {"value": w["call_p50_s"] * 1e3, "unit": "ms"},
        "peak_rss_mb": {"value": run.peak_rss_mb, "unit": "MB"},
    }
    rec = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "finished": time.time(),
        "e2e": e2e,
        "workload_metrics": {
            **w["workload_metrics"],
            "failed_ratio": {"value": run.failed / max(run.attempted, 1), "unit": "ratio"},
            "tree_peak_rss_mb": {"value": tree_peak_mb, "unit": "MB"},
        },
        "attempted": run.attempted,
        "failed": run.failed,
        "calls": w["calls"],
        "inputs": w["inputs"],
        "context": {
            "nproc": ncpu,
            "spark_master": run.master,
            "loadavg_before": list(load_before),
            "loadavg_after": list(os.getloadavg()),
            "host_probe_before": probe_before,
            "host_probe_after": _host_probe(),
        },
    }
    if args.trace:
        per_layer = w["per_layer"]
        rec["per_layer"] = {m: {"value": per_layer.get(m, 0), "unit": unit}
                            for m, unit in workloads.PER_LAYER.items()}
        rec["not_exercised"] = [m for m in workloads.PER_LAYER if m not in per_layer]
        rec["spans"] = run.tracer.spans
        rec["event_log"] = w.get("event_log", {})
        rec["tracing_overhead"] = _overhead(runs_dir, rec)
    with open(os.path.join(runs_dir, run_id + ".json"), "w") as f:
        json.dump(rec, f, indent=1)

    shown = {**e2e, **rec["workload_metrics"], **rec.get("per_layer", {})}
    skip = set(rec.get("not_exercised", []))
    for name, m in shown.items():
        if isinstance(m["value"], list) or name in skip:
            continue
        print(f"perfbench {args.workload:8s} {name:40s} {m['value']:.6g} {m['unit']}",
              file=sys.stderr)
    result_out.write(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": rec["per_layer"] if args.trace else e2e,
    }) + "\n")
    result_out.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
