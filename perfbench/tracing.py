"""Spans around the benchmark's own calls, and the Spark event-log reducer.

Tracing is only switched on for `--trace 1` runs.  A span is
(id, name, parent, start, end) in epoch seconds, kept in memory and
written out with the run record.  Every Spark job started inside a span
runs in a job group of the span's name, so the event log can be cut per
call.

`reduce_event_log` folds the JSON-lines event log Spark writes with
`spark.eventLog.enabled` into one record per job group: jobs, tasks,
the union of job intervals (in-job time), executor run time, GC,
shuffle bytes, spill and input records.  `per_call` joins those
records with the spans to give the driver gap: span wall minus in-job
time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def reduce_event_log(log_dir: str) -> dict[str, dict]:
    """{job group: {jobs, tasks, in_job_s, executor_run_s, gc_s,
    shuffle_read_mb, shuffle_write_mb, spill_mb, records_read}}.
    Jobs outside any group are reported under the key ""."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    for fn in sorted(os.listdir(log_dir)):  # one log per SparkContext
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = (fn, e["Job ID"])
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "start": e["Submission Time"],
                        "end": None,
                        "tasks": 0, "run_ms": 0, "gc_ms": 0,
                        "shuffle_read": 0, "shuffle_write": 0,
                        "spill": 0, "records": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[(fn, sid)] = jid
                elif ev == "SparkListenerJobEnd":
                    if (fn, e["Job ID"]) in jobs:
                        jobs[(fn, e["Job ID"])]["end"] = e["Completion Time"]
                elif ev == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get((fn, e.get("Stage ID"))))
                    if j is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["tasks"] += 1
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    j["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    j["spill"] += m.get("Disk Bytes Spilled", 0)
                    j["records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    out: dict[str, dict] = {}
    for j in jobs.values():
        g = out.setdefault(j["group"], {
            "jobs": 0, "tasks": 0, "intervals": [], "executor_run_s": 0.0,
            "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "records_read": 0,
        })
        g["jobs"] += 1
        g["tasks"] += j["tasks"]
        g["intervals"].append((j["start"], j["end"] or j["start"]))
        g["executor_run_s"] += j["run_ms"] / 1000.0
        g["gc_s"] += j["gc_ms"] / 1000.0
        g["shuffle_read_mb"] += j["shuffle_read"] / 1e6
        g["shuffle_write_mb"] += j["shuffle_write"] / 1e6
        g["spill_mb"] += j["spill"] / 1e6
        g["records_read"] += j["records"]
    for g in out.values():
        g["in_job_s"] = _union_seconds(g.pop("intervals"))
    return out


def per_call(tracer: Tracer, groups: dict[str, dict]) -> dict[str, dict]:
    """Event-log record of every traced span that ran Spark jobs (or
    none), with its wall time and driver gap added."""
    out = {}
    for s in tracer.spans:
        rec = dict(groups.get(s["name"]) or {"jobs": 0, "tasks": 0, "in_job_s": 0.0})
        rec["wall_s"] = s["end"] - s["start"]
        rec["driver_gap_s"] = max(rec["wall_s"] - rec["in_job_s"], 0.0)
        out[s["name"]] = rec
    return out
