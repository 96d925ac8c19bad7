"""Smoke test: every workload once at a tiny size.

    python3 -m pytest perfbench/tests -q

Each run must exit 0 and print a result line; ``--smoke`` makes the run
itself fail when a metric named in BENCHMARK.json is missing or has
another unit, and a correctness check that cannot run fails the run.
Takes a few minutes: one Spark session per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from workloads import WORKLOADS  # noqa: E402


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_smoke(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "2", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"] for m in spec["end_to_end"]} == set(result["metrics"])
