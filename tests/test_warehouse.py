"""Catalog-warehouse surface tests (SURVEY.md §2.3): full DB_manager
lifecycle — create, stage load, SCD-0 commit, truncate, drop — plus the
reboot flow, on Spark managed tables."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from utn_dataengineering_stockmarketpipeline_spark.operators import warehouse as wh
from utn_dataengineering_stockmarketpipeline_spark.schemas import STOCK_PRICES
from utn_dataengineering_stockmarketpipeline_spark.plans.reference_tables import (
    markets,
    stock_prices,
)

from conftest import SF_SMOKE


@pytest.fixture
def dbs(spark):
    tag = uuid.uuid4().hex[:8]
    stage, dw = f"stage_{tag}", f"dw_{tag}"
    yield stage, dw
    wh.delete_schemas(spark, stage, dw)


def test_full_warehouse_lifecycle(spark, dbs):
    stage, dw = dbs
    wh.create_tables(spark, stage, dw)
    assert spark.catalog.tableExists(f"{stage}.stock_prices")
    assert spark.catalog.tableExists(f"{dw}.markets")
    # idempotent DDL (IF NOT EXISTS)
    wh.create_tables(spark, stage, dw)

    sp = stock_prices(spark, SF_SMOKE)
    mk = markets(spark, SF_SMOKE)
    n_sp = sp.count()

    def stage_and_reread(table, df):
        # the count and the lowest (year, month) are observed on the
        # INSERT job; check them against an independent scan of what the
        # overwrite left behind
        n, since = wh.save_to_stage(spark, table, df, stage)
        staged = spark.table(f"{stage}.{table}")
        assert n == staged.count()
        if table == "stock_prices":
            lo = F.min(F.struct("stock_year", "stock_month"))
            assert since == staged.select(lo).first()[0]
        else:
            assert since is None
        return n

    # an empty batch stages 0 rows (and the observation does not hang)
    assert stage_and_reread("stock_prices", sp.limit(0)) == 0
    assert stage_and_reread("stock_prices", sp) == n_sp
    assert stage_and_reread("markets", mk) == 5

    assert wh.commit_to_warehouse(spark, "stock_prices", stage, dw) == n_sp
    assert wh.commit_to_warehouse(spark, "markets", stage, dw) == 5

    # SCD-0: recommitting the same stage adds nothing
    assert wh.commit_to_warehouse(spark, "stock_prices", stage, dw) == 0
    fact = spark.table(f"{dw}.stock_prices")
    assert fact.count() == n_sp
    assert fact.select("stock_key").distinct().count() == n_sp

    # stage truncate-and-reload is an overwrite, not an append
    assert stage_and_reread("stock_prices", sp) == n_sp

    # D4: the generic SQL surface answers over the warehouse
    row = wh.make_query(
        spark,
        f"SELECT COUNT(*) AS n FROM {dw}.stock_prices "
        f"WHERE stock_ticker = 'AAPL'",
    ).first()
    assert row["n"] == sp.filter(F.col("stock_ticker") == "AAPL").count()

    wh.truncate_table(spark, stage, "stock_prices")
    assert spark.table(f"{stage}.stock_prices").count() == 0


def test_old_fact_layout_fails_loudly(spark, dbs):
    """CREATE TABLE IF NOT EXISTS keeps a fact table of the older,
    unpartitioned layout, and positional insertInto would load its
    columns into the wrong fields: create_tables refuses it by name."""
    stage, dw = dbs
    old_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in STOCK_PRICES.fields
    )
    spark.sql(f"CREATE DATABASE {dw}")
    spark.sql(f"CREATE TABLE {dw}.stock_prices ({old_ddl}) USING PARQUET")
    expected = r"partitioned by \['stock_year', 'stock_month'\]"
    with pytest.raises(ValueError, match=rf"`{dw}`\.`stock_prices` .*{expected}"):
        wh.create_tables(spark, stage, dw)


def test_reboot_drops_everything(spark, dbs):
    stage, dw = dbs
    wh.create_tables(spark, stage, dw)
    wh.save_to_stage(spark, "markets", markets(spark, SF_SMOKE), stage)
    wh.delete_schemas(spark, stage, dw)
    assert not spark.catalog.databaseExists(stage)
    assert not spark.catalog.databaseExists(dw)
    # delete is idempotent (IF EXISTS), like reboot.py re-runs
    wh.delete_schemas(spark, stage, dw)
