"""Tiny-size smoke test of the benchmark (a minute or two, mostly Spark start).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload at ``--size tiny`` and checks the output format: the
last stdout line is one JSON object with exactly the keys ``correct``,
``attempted``, ``failed`` and ``metrics``, and the metric names and units are
the ones BENCHMARK.json declares.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    metrics = _result(_run(workload, 0))["metrics"]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert all(v["value"] > 0 for v in metrics.values()), metrics


def test_traced_run_prints_every_per_layer_metric():
    metrics = _result(_run("catalog_dir", 1))["metrics"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert metrics["directory.describe_table.p50_ms"]["value"] > 0
    assert metrics["directory.read_kb_per_op"]["value"] > 0


def test_fails_without_the_program():
    tmp_path = os.path.join(ROOT, ".perfbench", "smoke-no-program")
    shutil.rmtree(tmp_path, ignore_errors=True)
    os.makedirs(tmp_path)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(tmp_path, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("catalog_dir", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
