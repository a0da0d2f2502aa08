"""One benchmark run inside its own process (started by ``run.py``).

Usage: python -m perfbench.worker WORKLOAD SEED SECONDS TRACE T_LAUNCH OUT

The current directory is the run's private scratch directory; the
result is written to OUT as JSON.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from . import stats, workloads
from .tracing import PKG, Tracer, stream_listener, union_seconds


def _job_counter(spark):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return dag.nextJobId


def install_layer_spans(tracer: Tracer, spark) -> None:
    """Wrap the program's public functions, one span name per layer."""
    import importlib

    mod = lambda name: importlib.import_module(f"{PKG}.{name}")  # noqa: E731
    pipeline = mod("pipeline")
    tracer.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(mod("sources.state"), "next_from_date", "sources.state.next_from_date")
    rest = mod("sources.rest")
    for f in ("fetch_stock", "fetch_market"):
        tracer.wrap(rest, f, "sources.rest.fetch")
    transforms = mod("operators.transforms")
    for f in ("normalize_stock_payload", "normalize_market_payload"):
        tracer.wrap(transforms, f, "operators.transforms.normalize")
    wh = mod("operators.warehouse")
    tracer.wrap(wh, "create_tables", "operators.warehouse.ddl")
    tracer.wrap(wh, "save_to_stage", "operators.warehouse.stage")
    tracer.wrap(wh, "commit_to_warehouse", "operators.warehouse.commit")
    tracer.wrap(mod("sources.lake"), "write_stocks", "sources.lake.write")
    tracer.wrap_public(mod("operators.graph"), "operators.graph")
    tracer.wrap(mod("operators.dedup"), "duplicate_clusters",
                "operators.dedup.clusters")
    tracer.wrap_boundary(spark)


def runtime_metrics(spark, job0: int, wall_s: float, cores: int) -> dict:
    """Status-store deltas over the jobs numbered ``job0`` and later."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j for j in conv.asJava(store.jobsList(None)) if j.jobId() >= job0]
    stage_ids = {int(s) for j in jobs for s in conv.asJava(j.stageIds())}
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = [
        s for s in conv.asJava(store.stageList(None, False, False, no_quantiles, None))
        if s.stageId() in stage_ids and s.status().toString() != "SKIPPED"
    ]

    def total(getter):
        return float(sum(getter(s) for s in stages))

    busy = [
        (j.submissionTime().get().getTime() / 1e3,
         j.completionTime().get().getTime() / 1e3)
        for j in jobs
        if j.submissionTime().isDefined() and j.completionTime().isDefined()
    ]
    task_run_s = total(lambda s: s.executorRunTime()) / 1e3
    return {
        "spark.stages": float(len(stages)),
        "spark.tasks": total(lambda s: s.numTasks()),
        "spark.failed_tasks": total(lambda s: s.numFailedTasks()),
        "spark.no_job_s": max(0.0, wall_s - union_seconds(busy)),
        "spark.slot_busy_frac": task_run_s / (wall_s * cores),
        "spark.input_mb": total(lambda s: s.inputBytes()) / 1e6,
        "spark.output_mb": total(lambda s: s.outputBytes()) / 1e6,
        "spark.shuffle_write_mb": total(lambda s: s.shuffleWriteBytes()) / 1e6,
        "spark.shuffle_read_mb": total(lambda s: s.shuffleReadBytes()) / 1e6,
        "spark.shuffle_wait_s": total(lambda s: s.shuffleFetchWaitTime()) / 1e3,
        "spark.task_run_s": task_run_s,
        "spark.task_cpu_s": total(lambda s: s.executorCpuTime()) / 1e9,
        "spark.gc_s": total(lambda s: s.jvmGcTime()) / 1e3,
    }


def _files_under(path: str) -> tuple[int, int]:
    """(number of parquet files, their total bytes) below ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def layer_metrics(tracer: Tracer) -> dict:
    totals = tracer.layer_totals()

    def sec(name):
        return totals.get(name, (0.0, 0, 0))[0]

    def jobs(name):
        return float(totals.get(name, (0.0, 0, 0))[2])

    c = tracer.counters
    out = {
        "sources.state.next_from_date_s": sec("sources.state.next_from_date"),
        "sources.state.next_from_date_jobs": jobs("sources.state.next_from_date"),
        "sources.rest.fetch_s": sec("sources.rest.fetch"),
        "operators.transforms.normalize_s": sec("operators.transforms.normalize"),
        "pipeline.run_pipeline.self_s": float(tracer.self_time("pipeline.run_pipeline")),
        "operators.warehouse.stage_s": sec("operators.warehouse.stage"),
        "operators.warehouse.commit_s": sec("operators.warehouse.commit"),
        "operators.warehouse.jobs": sum(
            jobs(f"operators.warehouse.{p}") for p in ("ddl", "stage", "commit")
        ),
        "sources.lake.write_s": sec("sources.lake.write"),
        "pipeline.get_last_price_s": sec("pipeline.get_last_price"),
        "plans.build_s": sec("plans.build"),
        "plans.build_jobs": jobs("plans.build"),
        "plans.exec_s": sec("plans.exec"),
        "plans.exec_jobs": jobs("plans.exec"),
        "operators.graph.s": sec("operators.graph"),
        "operators.graph.calls": float(totals.get("operators.graph", (0, 0, 0))[1]),
        "operators.graph.jobs": jobs("operators.graph"),
        "operators.dedup.clusters_s": sec("operators.dedup.clusters"),
        "operators.dedup.clusters_jobs": jobs("operators.dedup.clusters"),
    }
    for name in ("batches", "input_rows", "trigger_s", "add_batch_s",
                 "planning_s", "wal_commit_s", "state_commit_s", "state_rows"):
        out[f"streaming.{name}"] = c.get(f"streaming.{name}", 0.0)
    for name in ("collect_calls", "collect_rows", "create_df_list_calls",
                 "create_df_pandas_calls", "s"):
        out[f"boundary.{name}"] = c.get(f"boundary.{name}", 0.0)
    return out


def storage_metrics(lake: str, lake_before: tuple[int, int], rows: int) -> dict:
    """Files the timed phase wrote to the lake, and the warehouse's files."""
    files, size = _files_under(lake)
    wh_files, _ = _files_under(os.path.join("warehouse", "datawarehouse.db"))
    return {
        "sources.lake.files": float(files - lake_before[0]),
        "sources.lake.bytes_per_row": (size - lake_before[1]) / rows if rows else 0.0,
        "operators.warehouse.files": float(wh_files),
    }


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, t_launch, out_path = argv
    seed, seconds, t_launch = int(seed), float(seconds), float(t_launch)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    with stats.RssSampler(os.getpid()) as rss:
        # -- set-up: session, inputs, warm pass or backfill -------------------
        t0 = time.perf_counter()
        from utn_dataengineering_stockmarketpipeline_spark.session import get_spark

        spark = get_spark("perfbench")
        ctx = workloads.Context(spark, os.getcwd(), seed, seconds)
        ctx.setup_phases["setup.session_s"] = time.perf_counter() - t0
        next_job = _job_counter(spark)
        tracer = Tracer(job_counter=next_job) if trace == "1" else None
        wl = workloads.make(workload, ctx, tracer)
        ops = wl.ops()
        oracle_s = wl.setup()
        lake = getattr(wl, "lake", None)
        lake_before = _files_under(lake) if lake else (0, 0)
        if tracer:
            install_layer_spans(tracer, spark)
            listener = stream_listener(tracer)
            spark.streams.addListener(listener)
        setup_s = time.time() - t_launch - oracle_s

        # -- timed phase ------------------------------------------------------
        job0, cpu0 = next_job(), stats.tree_cpu_s(os.getpid())
        latencies, lookups, failures = [], [], []
        by_op: dict[str, list[float]] = {}
        t_start = time.perf_counter()
        for i, op in enumerate(ops):
            if tracer:
                tracer.op = i
            t_op = time.perf_counter()
            try:
                lat, lookup, err = wl.run(op)
            except Exception as ex:  # noqa: BLE001 - a failed op is a result
                lat, lookup = time.perf_counter() - t_op, None
                err = f"{op}: {type(ex).__name__}: {ex}"
            if err:
                failures.append(err)
            latencies.append(lat)
            by_op.setdefault(op, []).append(lat)
            if lookup is not None:
                lookups.append(lookup)
        wall_s = time.perf_counter() - t_start
        jobs = next_job() - job0
        cpu_s = stats.tree_cpu_s(os.getpid()) - cpu0

    # -- checks after the timed phase, then the report ----------------------
    if tracer:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        spark.streams.removeListener(listener)
        tracer.uninstall()
    try:
        failures += wl.finish()
    except Exception as ex:  # noqa: BLE001
        failures.append(f"final check: {type(ex).__name__}: {ex}")
    attempted = len(ops) + wl.checks()

    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "e2e": {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "op_p50_s": statistics.median(latencies),
            "spark_jobs": float(jobs),
            "peak_rss_mb": rss.peak_mb,
        },
        "context": {
            "workload": workload, "seed": seed, "ops": len(ops),
            "op_p50_by_op": {k: statistics.median(v) for k, v in sorted(by_op.items())},
            "op_p90_s": stats.percentile(latencies, 0.9),
            "lookup_p50_s": statistics.median(lookups) if lookups else None,
            "ops_failed_frac": len(failures) / attempted,
            "oracle_s": oracle_s, "cores": cores,
            "loadavg": list(os.getloadavg()),
            "failures": failures[:20],
            **ctx.setup_phases,
        },
    }
    if tracer:
        layers = layer_metrics(tracer)
        layers.update(storage_metrics(
            lake or "", lake_before, len(ops) * workloads.ETL_TICKERS if lake else 0
        ))
        layers.update(runtime_metrics(spark, job0, wall_s, cores))
        layers["process.cpu_s"] = cpu_s
        for k in ("setup.session_s", "setup.warm_s", "setup.backfill_s"):
            layers[k] = ctx.setup_phases.get(k, 0.0)
        layers["trace.wall_s"] = wall_s
        result["layers"] = layers
        result["spans"] = tracer.dump()
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
