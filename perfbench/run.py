"""Benchmark command for the stock-market analytics engine.

    python3 perfbench/run.py --workload etl_incremental|iterative_mix \
        --seed N --seconds S --trace 0|1 [--spans FILE]

Run from the root of a source checkout. Each run gets a fresh scratch
directory under ``.perfbench_tmp/`` in the checkout (working directory,
Spark warehouse, lake, checkpoints, ``SPARK_LOCAL_DIRS`` and ``TMPDIR``),
removed at exit. The workload itself runs in a child process
(``perfbench/worker.py``) on ``local[nproc]``; this process waits for it,
stops whatever it left behind, and prints:

- one context line (op counts, tail percentile where there are enough
  samples, failures, load average, cores), then
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``
  with the end-to-end metrics (``--trace 0``) or the per-layer metrics
  of a traced run (``--trace 1``).

Exit status is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CHILD_TIMEOUT_S = 170
HEAP = "2g"  # driver heap, sized for the generated inputs


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _child_env(tmp: Path) -> dict:
    cores = len(os.sched_getaffinity(0))
    local = tmp / "spark-local"
    local.mkdir()
    submit = [
        # a heap fixed at its maximum: peak memory then does not depend on
        # when the collector decides to grow the heap
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{HEAP}",
        "--conf", f"spark.sql.warehouse.dir={tmp / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
        # keep every job and stage of a run for the status-store deltas
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell",
    ]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=str(ROOT),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit),
    )
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (JVM, Python workers) and wait."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reap the child itself, or the group never empties
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict | None:
    scratch = ROOT / ".perfbench_tmp"
    scratch.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{workload}-", dir=scratch))
    out = tmp / "result.json"
    try:
        argv = [sys.executable, "-m", "perfbench.worker", workload, str(seed),
                str(seconds), "1" if trace else "0", repr(time.time()), str(out)]
        proc = subprocess.Popen(argv, cwd=tmp, env=_child_env(tmp),
                                stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"workload exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
            code = None
        finally:
            _stop_group(proc)
            proc.wait()
        if code != 0 or not out.exists():
            return None
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in _spec()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans to this file")
    args = ap.parse_args()
    # a plain SIGTERM would skip the clean-up in run(); exit through it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("utn_dataengineering_stockmarketpipeline_spark",
                           "tools/verify_sweep.py") if not (ROOT / p).exists()]
    if missing:
        print(f"program sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2

    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if res is None:
        print("benchmark run failed; no result", file=sys.stderr)
        return 1

    spec = _spec()
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = res["layers"]
        if args.spans:
            with open(args.spans, "w") as f:
                json.dump(res["spans"], f)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = res["e2e"]
    print(json.dumps({"context": res["context"]}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
