"""Self-check of the benchmark's output, at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts Spark, so the module takes a few minutes.  A pytest run
at the repository root collects it too.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest
from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_workloads():
    assert [w["name"] for w in spec()["workloads"]] == list(WORKLOADS)


def _no_dup_keys(pairs):
    keys = [k for k, _ in pairs]
    assert len(keys) == len(set(keys)), f"duplicate keys in {keys}"
    return dict(pairs)


def bench(cwd: str, workload: str, trace: int, *extra: str):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def parse(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, f"stdout must hold only the result, got {lines[:5]}"
    out = json.loads(lines[0], object_pairs_hook=_no_dup_keys)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int) and 0 <= out["failed"] <= out["attempted"]
    assert out["correct"] == (out["failed"] == 0)
    return out


def check_metrics(metrics: dict, declared: list[dict]):
    assert set(metrics) == {m["name"] for m in declared}
    for m in declared:
        got = metrics[m["name"]]
        assert set(got) == {"value", "unit"}
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_result(workload):
    proc = bench(ROOT, workload, 0)
    out = parse(proc)
    assert out["correct"]
    check_metrics(out["metrics"], spec()["end_to_end"])
    assert all(m["value"] > 0 for m in out["metrics"].values())
    assert "log4j" in proc.stderr  # Spark's own output went to stderr


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_result_and_record(workload):
    out = parse(bench(ROOT, workload, 1))
    assert out["correct"]
    check_metrics(out["metrics"], spec()["per_layer"])
    runs = os.path.join(ROOT, ".perfbench", "runs")
    newest = max(
        (f for f in os.listdir(runs) if f.startswith(f"{workload}-s5-t1-")),
        key=lambda f: os.path.getmtime(os.path.join(runs, f)),
    )
    with open(os.path.join(runs, newest)) as f:
        rec = json.load(f)
    assert set(rec["per_layer"]) == {m["name"] for m in spec()["per_layer"]}
    assert rec["spans"] and all(s["end"] >= s["start"] for s in rec["spans"])
    assert set(rec["not_exercised"]) < set(rec["per_layer"])


@pytest.mark.parametrize("workload,trace", [(w, 0) for w in WORKLOADS] + [("ingest", 1)])
def test_wrong_result_is_counted(workload, trace):
    # the traced ingest run also checks the serve layer's top-k results
    out = parse(bench(ROOT, workload, trace, "--inject-wrong", "1"))
    assert not out["correct"] and out["failed"] >= 1 + trace


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0 and proc.stdout == ""
