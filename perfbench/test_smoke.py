"""Smoke test of the benchmark: a tiny run (scale 0.001, a few ops) of every
workload, untraced and traced. Every metric named in BENCHMARK.json must
print with its unit and every output check must pass.

    python -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark; the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    args = ["--scale", "0.001", "--seconds", "1", "--seed", "7", "--trace", str(trace),
            "--max-ops", "2"]
    # the benchmark's own command, with the interpreter running the tests
    cmd = [sys.executable, *SPEC["command"][1:]]
    p = subprocess.run(
        [*cmd, "--workload", workload, *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric_and_passes_checks(workload, trace):
    detail, res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, detail
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert detail["checks_run"] >= 1 and detail["check_problems"] == []
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        assert detail["trace_self_sum_max_err_s"] < 1e-6


def test_bare_directory_fails_without_a_result(tmp_path):
    """With only BENCHMARK.json and perfbench/ present (no engine), the
    run exits non-zero and prints no result line."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
