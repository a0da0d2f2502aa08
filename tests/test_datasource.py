"""Spark 4 Python DataSource tests (S1/S2 scale path) — hermetic via
JSON fixtures, exercising the real DataSource machinery end to end
(registration, per-ticker partitions, typed rows, incremental bound)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from utn_dataengineering_stockmarketpipeline_spark.operators.transforms import (
    normalize_stock_payload,
)
from utn_dataengineering_stockmarketpipeline_spark.sources.datasource import (
    StockApiDataSource,
)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("api_fixtures")
    d0 = dt.date(2024, 1, 1)
    for ticker, n in (("AAPL", 8), ("MSFT", 5)):
        rows = [
            {
                "date": (d0 + dt.timedelta(days=i)).isoformat(),
                "open": 10.0 + i,
                "high": 11.0 + i,
                "low": 9.0 + i,
                "close": 10.5 + i,
                "adjusted_close": 10.4 + i,
                "volume": 1000 + i,
            }
            for i in range(n)
        ]
        (base / f"{ticker}.json").write_text(json.dumps(rows))
    # E1 bodies: an in-body error sentinel and a null payload
    (base / "GHOST.json").write_text(json.dumps("Ticker Not Found."))
    (base / "EMPTY.json").write_text("null")
    # S3 numbers: whole values in the other kind, and a lossy volume
    bar = {"date": "2024-01-02", "open": 100, "high": 101.0, "low": 99.0,
           "close": 100.5, "adjusted_close": 100.5}
    (base / "WHOLE.json").write_text(json.dumps([{**bar, "volume": 12345.0}]))
    (base / "LOSSY.json").write_text(json.dumps([{**bar, "volume": 1.5}]))
    return str(base)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(StockApiDataSource)
    return spark


def test_datasource_reads_all_tickers(registered, fixture_dir):
    df = (
        registered.read.format("stock_api")
        .option("tickers", "AAPL,MSFT")
        .option("fixture_dir", fixture_dir)
        .load()
    )
    counts = {
        r["ticker"]: r["n"]
        for r in df.groupBy("ticker").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {"AAPL": 8, "MSFT": 5}
    # one partition per ticker — the parallel-fetch contract
    assert df.rdd.getNumPartitions() == 2


def test_datasource_incremental_from_date(registered, fixture_dir):
    df = (
        registered.read.format("stock_api")
        .option("tickers", "AAPL")
        .option("fixture_dir", fixture_dir)
        .option("from_date", "2024-01-06")
        .load()
    )
    dates = sorted(r["date"] for r in df.collect())
    assert dates == ["2024-01-06", "2024-01-07", "2024-01-08"]


def test_datasource_feeds_transform_layer(registered, fixture_dir):
    raw = (
        registered.read.format("stock_api")
        .option("tickers", "MSFT")
        .option("fixture_dir", fixture_dir)
        .load()
    )
    norm = normalize_stock_payload(raw.drop("ticker"), "MSFT")
    rows = norm.orderBy("stock_date").collect()
    assert len(rows) == 5
    assert rows[0]["stock_key"] == "2024-01-01/MSFT"
    assert rows[0]["stock_close"] == 10.5


def test_datasource_applies_payload_checks(registered, fixture_dir):
    """The executor path runs the same E1 checks as ``fetch_stock``: a
    sentinel body fails the read, a null body yields no rows."""

    def read(ticker):
        return (
            registered.read.format("stock_api")
            .option("tickers", ticker)
            .option("fixture_dir", fixture_dir)
            .load()
        )

    with pytest.raises(Exception, match="Ticker Not Found"):
        read("GHOST").collect()
    assert read("EMPTY").count() == 0


def test_datasource_numbers_match_the_rest_path(registered, fixture_dir):
    """The executor path loads numbers by the rule ``fetch_stock``
    applies: a whole value widens, a fractional volume fails the read
    and names the column instead of loading truncated to 1."""

    def read(ticker):
        return (
            registered.read.format("stock_api")
            .option("tickers", ticker)
            .option("fixture_dir", fixture_dir)
            .load()
        )

    row = read("WHOLE").collect()[0]
    assert row["open"] == 100.0 and isinstance(row["open"], float)
    assert row["volume"] == 12345 and isinstance(row["volume"], int)
    with pytest.raises(Exception, match="'volume': 1.5"):
        read("LOSSY").collect()
