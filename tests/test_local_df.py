"""``session.local_df``: the one way driver data re-enters Spark.

It must give back what ``createDataFrame(list)`` gives for every type
the package re-enters, plan as a ``LocalRelation`` whatever the Arrow
conf says, and be the only ``createDataFrame`` call in the package.
"""

from __future__ import annotations

import ast
import datetime as dt
from decimal import Decimal
from pathlib import Path

import pytest

from utn_dataengineering_stockmarketpipeline_spark.session import local_df
from utn_dataengineering_stockmarketpipeline_spark.sources.rest import (
    fetch_stock,
)

PKG = (
    Path(__file__).resolve().parent.parent
    / "utn_dataengineering_stockmarketpipeline_spark"
)


def _plan_root(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


@pytest.mark.parametrize(
    "schema, rows, list_rows",
    [
        ("v long", [(2**53 + 1,), (None,), (-(2**62),)], None),
        ("v double", [(3,), (None,), (2.5,)], [(3.0,), (None,), (2.5,)]),
        ("v string", [("a",), (None,), ("",)], None),
        ("v boolean", [(True,), (None,), (False,)], None),
        ("v date", [(dt.date(2024, 2, 29),), (None,)], None),
        ("v decimal(20,4)", [(Decimal("12.3400"),), (None,)], None),
        ("v array<float>", [([1.5, None, -2.0],), (None,), ([],)], None),
        ("a long, b string", [(None, None), (None, None)], None),
        ("a long, b array<float>, c date", [], None),
    ],
    ids=["long", "double-from-int", "string", "boolean", "date",
         "decimal", "array-float", "all-null", "zero-rows"],
)
def test_round_trip_equals_list_path(spark, schema, rows, list_rows):
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(list_rows or rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_naive_timestamp_under_non_utc_session_zone(spark):
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ts = dt.datetime(2024, 3, 10, 1, 30, 15, 123456)
        rows = [(ts, ts), (None, None)]
        schema = "t timestamp, n timestamp_ntz"
        got = local_df(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.collect() == want.collect() == [(ts, ts), (None, None)]
        # the session zone renders both the same instant
        assert (
            got.selectExpr("cast(t as string)").collect()
            == want.selectExpr("cast(t as string)").collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_pandas_frame_columns_by_position(spark):
    import pandas as pd

    pdf = pd.DataFrame({"x": [1, 2], "y": [3, None]})  # y: float64 + NaN
    got = local_df(spark, pdf, "node long, h long")
    assert got.collect() == [(1, 3), (2, None)]


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_plans_as_local_relation_under_either_arrow_conf(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        assert _plan_root(local_df(spark, [(1, "a")], "k long, v string")) == (
            "LocalRelation"
        )
        assert _plan_root(local_df(spark, [], "k long")) == "LocalRelation"
    finally:
        spark.conf.set(key, before)


def test_etl_fetch_frame_is_a_local_relation(spark):
    """The fetch batch scans a ``LocalRelation``, coalesced (a narrow
    ``Repartition`` without shuffle) to the one partition that writes
    one file per lake leaf."""
    bar = {"date": "2024-01-02", "open": 1.0, "high": 2.0, "low": 0.5,
           "close": 1.5, "adjusted_close": 1.5, "volume": 10}
    bars = [{**bar, "date": f"2024-01-{d:02d}"} for d in range(2, 12)]
    raw = fetch_stock(spark, lambda kind, t, frm: bars, {"AAA": "2024-01-01"})
    plan = raw._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "Repartition"
    assert not plan.shuffle() and plan.numPartitions() == 1
    assert plan.child().getClass().getSimpleName() == "LocalRelation"
    assert raw.count() == 10


def test_null_in_non_nullable_field_raises(spark):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType(), nullable=False)])
    with pytest.raises(TypeError, match="non-nullable"):
        local_df(spark, [(1,), (None,)], schema)


def test_package_creates_dataframes_only_through_local_df():
    """No ``createDataFrame`` anywhere in the package outside
    ``session.local_df`` — a list or pandas re-entry would plan a
    ``LogicalRDD`` again."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == PKG / "session.py":
            fn = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "local_df"
            )
            allowed = {id(n) for n in ast.walk(fn)}
        for n in ast.walk(tree):
            name = (
                n.attr if isinstance(n, ast.Attribute)
                else n.id if isinstance(n, ast.Name)
                else n.value if isinstance(n, ast.Constant)
                else None
            )
            if name == "createDataFrame" and id(n) not in allowed:
                offenders.append(f"{path.relative_to(PKG)}:{n.lineno}")
    assert not offenders, (
        "createDataFrame outside session.local_df: " + ", ".join(offenders)
    )
