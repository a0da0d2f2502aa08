"""Each Spark job is paid once.

- ``session.materialize``: one job fills a persist or a lazy checkpoint
  and observes aggregates over its rows, so no loop runs a count job
  beside the job that materializes.
- ``sources.parquet.load_table``: a file's schema is inferred once.
- No package statement runs an action only to throw its result away.
"""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import CATALOG
from utn_dataengineering_stockmarketpipeline_spark.session import materialize
from utn_dataengineering_stockmarketpipeline_spark.sources import parquet

from conftest import SF_SMOKE

PKG = (
    Path(__file__).resolve().parent.parent
    / "utn_dataengineering_stockmarketpipeline_spark"
)

def _counted_upstream(spark, n):
    """``(frame, runs)``: an n-row aggregate over a Python UDF whose
    every evaluation adds 1 to the ``runs`` accumulator."""
    runs = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        runs.add(1)
        return x

    df = (
        spark.range(n * 3)
        .select(tick("id").alias("id"))
        .groupBy((F.col("id") % n).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    return df, runs


@pytest.mark.parametrize("kind", ["persist", "lazy_checkpoint"])
def test_materialize_fills_the_frame_and_observes_its_count(spark, kind):
    df, runs = _counted_upstream(spark, 7)
    frame = (
        df.persist() if kind == "persist"
        else df.localCheckpoint(eager=False)
    )
    got = materialize(frame, n=F.count(F.lit(1)), s=F.sum("s"))
    assert runs.value == 21  # one job ran the upstream once
    assert got["n"] == frame.count() == 7
    assert got["s"] == sum(range(21))
    assert sorted(r["k"] for r in frame.collect()) == list(range(7))
    assert runs.value == 21  # later actions read what materialize filled
    if kind == "persist":
        frame.unpersist()


def test_materialize_zero_rows(spark, spark_jobs):
    empty = spark.range(10).filter("id < 0").localCheckpoint(eager=False)
    jobs, got = spark_jobs(materialize, empty, n=F.count(F.lit(1)), s=F.sum("id"))
    assert got["n"] == 0 and got["s"] is None
    assert jobs == 1
    assert materialize(empty) == ()  # no aggregates: nothing observed


def _copy_table(src_dir, dst_dir, name):
    os.makedirs(dst_dir, exist_ok=True)
    shutil.copy(f"{src_dir}/{name}.parquet", f"{dst_dir}/{name}.parquet")


def test_load_table_infers_a_schema_once(spark, spark_jobs, tmp_path):
    _copy_table(SF_SMOKE, tmp_path, "nation")
    first_jobs, first = spark_jobs(
        parquet.load_table, spark, str(tmp_path), "nation"
    )
    assert first_jobs >= 1  # Spark's footer-reading inference job
    again_jobs, again = spark_jobs(
        parquet.load_table, spark, str(tmp_path), "nation"
    )
    assert again_jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_load_table_infers_again_after_a_rewrite(spark, tmp_path):
    """A file rewritten in place with another schema (here events.ts
    turning from TIMESTAMP(MICROS) into TIMESTAMP(NANOS)) is inferred
    again, so the nanos re-type still fires."""
    path = tmp_path / "events.parquet"
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = t.schema.get_field_index("ts")

    def write_and_load(unit):
        ts = t["ts"].cast(pa.timestamp(unit), safe=False)
        pq.write_table(t.set_column(i, "ts", ts), path, version="2.6",
                       coerce_timestamps=None)
        st = os.stat(path)  # a distinct mtime even on a coarse clock
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        df = parquet.load_table(spark, str(tmp_path), "events")
        rows = df.select("event_id", F.col("ts").cast("string")).collect()
        return dict(df.dtypes)["ts"], sorted(rows)

    us_type, us_rows = write_and_load("us")
    ns_type, ns_rows = write_and_load("ns")
    assert us_type == "timestamp_ntz" and ns_type == "timestamp"
    assert ns_rows == us_rows


def test_stream_drain_job_budget(spark, spark_jobs):
    """The drained memory sink is the result: a build + collect of
    ``stream_events_hourly`` runs the drain's micro-batch job and the
    read of the sink, and no recount between them."""
    jobs, rows = spark_jobs(
        lambda: CATALOG["stream_events_hourly"].build(spark, SF_SMOKE).collect()
    )
    assert rows
    assert jobs <= 1, f"stream_events_hourly: {jobs} Spark jobs, budget 1"


def _discarded_actions(tree):
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Expr)
            and isinstance(n.value, ast.Call)
            and isinstance(n.value.func, ast.Attribute)
            and n.value.func.attr in ("count", "collect", "first", "isEmpty")
        ):
            yield n.lineno


def test_no_action_runs_only_to_be_discarded():
    """A statement like ``df.count()`` runs a Spark job and throws its
    answer away: it only fills a cache. ``session.materialize`` does
    that in one job and can observe what the caller needs on the way."""
    offenders = [
        f"{path.relative_to(PKG)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        for line in _discarded_actions(ast.parse(path.read_text(), str(path)))
    ]
    assert not offenders, (
        "discarded actions (use session.materialize): " + ", ".join(offenders)
    )
