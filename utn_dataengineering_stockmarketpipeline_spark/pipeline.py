"""End-to-end pipeline orchestration — the reference's ``main.py`` flow
(``main.py:57-100``) as one composable function.

Reference run: for each exchange, full symbol-list snapshot → warehouse
dimension; for each ticker, incremental EOD pull from the saved state →
bronze parquet → stage → SCD-0 warehouse commit; then the
``get_last_price`` query. Spark-native differences:

- each cycle is one batch, not a loop over tickers: one watermark
  aggregate gives every ticker's ``from`` bound, one ``ticker``-tagged
  frame holds all fetched rows, and one projection normalizes them;
- the incremental bound derives from the warehouse itself
  (sources/state.py) — no ``state.json``;
- the bronze lake partitions by year/month (not day/ticker, §4.1);
- stage → warehouse is one left-anti append, not a truncate-and-INSERT
  loop over a WAN; it reads only the warehouse's year/month partitions
  from the batch's earliest one on, and a cycle that staged nothing
  skips it;
- counts come from the write jobs; no post-write re-scan.

The fact reads of a daily cycle are bounded. The stage write and the
commit read the batch, which came from the driver as one partition.
The commit's anti-join reads the warehouse from the batch's month on.
The watermark and the lookup read the newest ``(stock_year,
stock_month)`` partition holding a file, as one partition, so neither
needs an exchange. The watermark's bound holds only for tickers with a
row in the newest month. A requested ticker absent from it (not yet
loaded, or no longer trading) sends the watermark to a distributed
aggregate over every older month, on every cycle it stays absent. The
symbol list is a full snapshot, staged and committed every cycle. On
the e2e fixture a new-day cycle runs 8 Spark jobs, an idle one 6, and
a lookup 2.

Everything is injected (fetcher, paths, databases) so the same function
runs in tests against local JSON fixtures and in production against the
real API — the reference hard-codes all of it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import warehouse as wh
from .operators.transforms import normalize_market_payload, normalize_stock_payload
from .sources import lake
from .sources.rest import Fetcher, fetch_market, fetch_stock
from .sources.state import newest_partition, next_from_date


@dataclass
class PipelineReport:
    """Row counts per phase (the reference prints these; we return them).
    ``fetched == staged`` by construction: the stage overwrites exactly
    the normalized batch, whose ``len`` ``DB_manager.py:109`` prints."""

    fetched: dict[str, int] = field(default_factory=dict)
    staged: dict[str, int] = field(default_factory=dict)
    committed: dict[str, int] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    fetcher: Fetcher,
    tickers: list[str],
    exchanges: list[str],
    lake_dir: str,
    stage: str = wh.STAGE,
    warehouse: str = wh.WAREHOUSE,
) -> PipelineReport:
    """One full load cycle: dims (full refresh) + facts (incremental).

    The warehouse is replay-safe: re-running with the same upstream
    data commits zero new rows (SCD-0 absorbs every replay). The bronze
    lake is not yet: a replay appends the same days to it again.
    """
    report = PipelineReport()
    wh.create_tables(spark, stage, warehouse)

    # --- dimension: full snapshot of every exchange (T4, main.py:22-23) ---
    dim = normalize_market_payload(fetch_market(spark, fetcher, exchanges))

    # --- fact: incremental, all tickers in one batch (T1, main.py:14-16) ---
    fact_table = spark.table(f"`{warehouse}`.`stock_prices`")
    raw = fetch_stock(spark, fetcher, next_from_date(fact_table, tickers))
    incoming = normalize_stock_payload(raw, F.col("ticker"))
    lake.write_stocks(incoming, lake_dir)  # bronze first (K1)

    for table, df in (("markets", dim), ("stock_prices", incoming)):
        n, since = wh.save_to_stage(spark, table, df, stage)
        report.fetched[table] = report.staged[table] = n
        # an empty stage cannot add a key: skip the commit's jobs
        report.committed[table] = (
            wh.commit_to_warehouse(spark, table, stage, warehouse, since)
            if n else 0
        )
    return report


def get_last_price(
    spark: SparkSession, ticker: str, warehouse: str = wh.WAREHOUSE
) -> DataFrame:
    """The reference's analytical query over the live warehouse
    (``DB_manager.py:181-199``), global-max-date quirk included.

    The global max date lies in the newest partition holding a file
    (the partition columns are parts of the date), so only that
    partition is read, as one partition, and ``max(stock_date) over ()``
    needs no exchange: one job, plus the ``markets`` broadcast. An empty
    warehouse has no such partition and reads the (empty) table. The
    lookup trusts ``state.newest_partition``'s rule that a partition
    holding a file holds rows, which every Spark write to the table
    keeps. An empty file put there by another writer would make it
    return no row where a full scan returns the previous month's."""
    from .functions.scalar import fmt_ddmmyyyy

    fact = spark.table(f"`{warehouse}`.`stock_prices`")
    dim = spark.table(f"`{warehouse}`.`markets`")
    newest = newest_partition(fact)
    month = (fact if newest is None else fact.filter(newest)).coalesce(1)
    latest = month.withColumn(
        "__d", F.max("stock_date").over(Window.partitionBy())
    ).filter(F.col("stock_date") == F.col("__d"))
    return (
        latest.filter(F.col("stock_ticker") == ticker)
        .join(
            F.broadcast(dim),
            latest.stock_ticker == dim.market_stockid,
            "left",
        )
        .select(
            fmt_ddmmyyyy("stock_date").alias("stock_date_fmt"),
            "stock_ticker",
            "market_companyname",
            "stock_close",
            "market_exchange",
            "market_stockisin",
        )
    )
