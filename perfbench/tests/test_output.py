"""Output contract of ``perfbench/run.py`` and its correctness gate."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run, workloads

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _fake_result(correct: bool) -> dict:
    e2e = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
    layers = {m["name"]: 0.5 for m in SPEC["per_layer"]}
    return {"correct": correct, "attempted": 10, "failed": 0 if correct else 1,
            "e2e": e2e, "layers": layers, "spans": {}, "context": {}}


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_last_line_names_every_metric_with_its_unit(monkeypatch, capsys, trace, section):
    monkeypatch.setattr(run, "run", lambda *a: _fake_result(True))
    monkeypatch.setattr(sys, "argv", [
        "run.py", "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
        "--seconds", "1", "--trace", str(trace)])
    assert run.main() == 0
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want


def test_wrong_output_exits_nonzero(monkeypatch, capsys):
    monkeypatch.setattr(run, "run", lambda *a: _fake_result(False))
    monkeypatch.setattr(sys, "argv", [
        "run.py", "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
        "--seconds", "1"])
    assert run.main() == 1
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["correct"] is False


def test_catalog_op_flags_a_wrong_row_count():
    class Df:
        def count(self):
            return 41

    class Query:
        def build(self, spark, path):
            return Df()

    mix = workloads.CatalogMix(workloads.Context(None, "/unused", 1, 1), {"q": 1.0})
    mix.catalog, mix.expected = {"q": Query()}, {"q": 42}
    _, _, err = mix.run("q")
    assert err and "41 rows" in err


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
