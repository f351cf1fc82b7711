"""Smoke tests of the benchmark itself (sf0.01 fixtures, one operation).

    python3 -m pytest perfbench/test_smoke.py -q

For each workload: every metric BENCHMARK.json lists is emitted with its
unit (end-to-end untraced, per-layer traced), two seeds drive the program
with different inputs, and both seeds emit the same metric names.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT, smoke: bool = True):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd + (["--smoke"] if smoke else []), cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _lines(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(summary), json.loads(result)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload):
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    s1, r1 = _lines(_run(workload, 1, 0))
    s2, r2 = _lines(_run(workload, 2, 0))
    _, t1 = _lines(_run(workload, 1, 1))
    for result, want in ((r1, e2e), (r2, e2e), (t1, layers)):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert all(r["metrics"][m]["value"] > 0 for r in (r1, r2) for m in e2e)
    assert s1["inputs"] != s2["inputs"], "two seeds drove the same inputs"
    assert set(s1["metrics"]) == set(s2["metrics"])


def test_fails_without_the_program(tmp_path):
    """In a directory with only BENCHMARK.json and perfbench/ the command
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".perfbench-run-*"))
    proc = _run("kpi_refresh", 1, 0, cwd=str(tmp_path), smoke=False)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
