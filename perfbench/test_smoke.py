"""Smoke test of the benchmark: every workload at a tiny size, end to end.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``run.py --tiny`` from the repository root and checks the
shape of its last output line, including the DuckDB correctness check
(``correct``) and, for the traced runs of the exact-tier workload, that 1
batch and 8 batches of 2 buckets give the same triple set.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from inputs import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_benchmark_names_every_workload():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_run(workload, trace):
    out = run("--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", str(trace), "--tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, (context, out.stderr[-3000:])
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert context["triple_diff"] == 0 and context["fail_ratio"] == 0
    key = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in BENCH[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if trace and not WORKLOADS[workload].with_similarity:
        assert context["layout_triple_diff"] == 0
        assert result["metrics"]["operators.similarity.docs_scored"]["value"] == 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    out = run("--workload", "backfill", "--seed", "1", "--seconds", "1", "--trace", "0",
              cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""
