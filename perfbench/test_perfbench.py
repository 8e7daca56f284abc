"""Self-test of the benchmark at tiny scale.

    python3 -m pytest perfbench -q

Each test runs perfbench/run.py from the repository root, in a
subprocess, and checks its last output line against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TIMEOUT = 600


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), "--scale", "tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT)


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def names(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    out = result(run(workload, 0))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]


def test_corrupted_result_is_counted():
    out = result(run("search", 0, "--corrupt"))
    assert out["failed"] >= 1 and not out["correct"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_layer(workload):
    out = result(run(workload, 1))
    assert out["correct"], out
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names("per_layer")
    spans = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed3-trace1.spans.jsonl")
    with open(spans) as f:
        first = json.loads(f.readline())
    assert {"name", "start", "end", "parent", "op"} <= set(first)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run("search", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
