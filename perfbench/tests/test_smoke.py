"""End-to-end smoke: every workload, untraced and traced, on tiny inputs.

Starts one Spark JVM per run (about a minute each on a 4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_correctly(workload, trace):
    env = dict(os.environ, PERFBENCH_SF="0.001")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    assert set(last["metrics"]) == {m["name"] for m in SPEC[section]}
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())
    assert not (ROOT / ".perfbench_tmp").exists()
