#!/usr/bin/env python3
"""Round-6 optimization measurement harness (guide §1) — NOT the driver
contract; bench.py stays frozen.

Modes:
  --isolate [names...]  time each query with the noop sink (computation
                        only, no collect-to-driver), N repeats each,
                        after the same warmup + shared-cache build the
                        frozen bench performs.  Prints one JSON line.
  --plans DIR [names..] write .explain("formatted") for each query to
                        DIR/<name>.txt (the judge-checkable plan record).
  (default)             print bench.run_headline(): the frozen bench's
                        headline run, in this process.

Query set defaults to the 9 headline queries + the shared-cache build.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, HEADLINE, SF_DIR, run_headline  # noqa: E402


def _session():
    from pulse_spark.session import get_spark

    return get_spark(app_name="pulse_bench_extra", master=f"local[{CPUS}]",
                     shuffle_partitions=int(CPUS))


def _prep(spark, qs):
    """Same untimed warmup + timed shared-cache build as bench.py."""
    from pulse_spark import harness as _h

    qs["doc_stats"](spark, SF_DIR).collect()
    t0 = time.time()
    _h._postings(spark, SF_DIR).count()
    _h._terms(spark, SF_DIR).count()
    _h._stats(spark, SF_DIR)
    return round(time.time() - t0, 3)


def run_isolate(names: list[str], repeats: int = 3) -> dict:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = entrymod.queries()
    cache_build = _prep(spark, qs)
    out: dict = {"cache_build_sec": cache_build, "queries": {}}
    for name in names:
        spark.sparkContext.setJobDescription(f"isolate:{name}")
        samples = []
        for _ in range(repeats):
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out["queries"][name] = samples
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return out


def run_plans(plan_dir: str, names: list[str]) -> dict:
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as entrymod

    os.makedirs(plan_dir, exist_ok=True)
    spark = _session()
    qs = entrymod.queries()
    _prep(spark, qs)
    written = []
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        written.append(name)
    spark.stop()
    return {"plan_dir": plan_dir, "written": written}


if __name__ == "__main__":
    argv = sys.argv[1:]
    if argv and argv[0] == "--isolate":
        names = argv[1:] or HEADLINE
        print(json.dumps(run_isolate(names)))
    elif argv and argv[0] == "--plans":
        plan_dir = argv[1]
        names = argv[2:] or HEADLINE
        print(json.dumps(run_plans(plan_dir, names)))
    else:
        print(json.dumps(run_headline()))
