"""The benchmark's own tests: BENCHMARK.json matches the metrics the code
prints, and the smoke mode runs every workload once end to end (untraced
loop, traced loop with the event log, decomposition, single-thread layer
benchmarks) and prints a well-formed result.

    python3 -m pytest perfbench -q

The smoke runs take a few minutes: each starts Spark sessions.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

from perfbench import run

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    layer = run.per_layer_names()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer
    for m in spec["per_layer"]:
        assert m["better"] == run.better(m["name"], m["unit"]), m["name"]
    assert len(layer) <= 128


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_smoke_run(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["correct"] == (result["failed"] == 0)
    assert set(result["metrics"]) == set(run.per_layer_names())
    for name, m in result["metrics"].items():
        assert math.isfinite(m["value"]) and m["value"] > 0, name
    assert "layer table" in proc.stdout
    assert "tracing overhead" in proc.stdout


def test_refuses_checkout_without_library(tmp_path):
    """Copied alone, the benchmark exits non-zero and prints no result."""
    dst = tmp_path / "perfbench"
    dst.mkdir()
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (dst / name).write_bytes(open(os.path.join(BENCH, name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_spec()))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "membership",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
