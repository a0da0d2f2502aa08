"""Full-pipeline E2E (the reference's main.py flow): two load cycles
with growing upstream data, idempotency, and the live get_last_price."""

from __future__ import annotations

import datetime as dt
import uuid
from pathlib import Path
from urllib.parse import urlparse

import pytest

from utn_dataengineering_stockmarketpipeline_spark import pipeline
from utn_dataengineering_stockmarketpipeline_spark.operators import warehouse as wh


def _markets(exchange):
    return [
        {"Code": t, "Name": f"Co {t}", "Country": "US",
         "Exchange": exchange, "Currency": "USD",
         "Type": "Common Stock", "Isin": f"ISIN{t}"}
        for t in ("AAA", "BBB")
    ]


def _bar(i: int, d: str) -> dict:
    return {"date": d, "open": 1.0 + i, "high": 2.0 + i, "low": 0.5 + i,
            "close": 1.5 + i, "adjusted_close": 1.4 + i, "volume": 100 + i}


def make_fetcher(up_to: str):
    """Fixture API serving a calendar that 'grows' as up_to advances."""
    d0 = dt.date(2024, 1, 1)

    def fetch(kind, entity, from_date):
        if kind == "market":
            return _markets(entity)
        out = []
        for i in range(60):
            d = (d0 + dt.timedelta(days=i)).isoformat()
            if from_date <= d <= up_to:
                out.append(_bar(i, d))
        return out

    return fetch


def _table_dir(spark, db, table) -> Path:
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {db}.{table}")
        .filter("col_name = 'Location'")
        .first()["data_type"]
    )
    return Path(urlparse(loc).path)


def _parquet_files(spark, lake_dir, dw):
    """Parquet files under the lake and under each warehouse table."""
    roots = [Path(lake_dir)] + [
        _table_dir(spark, dw, table) for table in ("stock_prices", "markets")
    ]
    return {str(root): set(root.rglob("*.parquet")) for root in roots}


@pytest.fixture
def dbs(spark):
    tag = uuid.uuid4().hex[:8]
    stage, dw = f"p_stage_{tag}", f"p_dw_{tag}"
    yield stage, dw
    wh.delete_schemas(spark, stage, dw)


def test_two_cycle_incremental_pipeline(spark, dbs, tmp_path):
    stage, dw = dbs
    lake_dir = str(tmp_path / "bronze")
    tickers, exchanges = ["AAA", "BBB"], ["NYSE"]

    # cycle 1: first 10 days exist upstream
    r1 = pipeline.run_pipeline(
        spark, make_fetcher("2024-01-10"), tickers, exchanges, lake_dir,
        stage, dw,
    )
    assert r1.fetched["stock_prices"] == 20  # 10 days x 2 tickers
    assert r1.committed["stock_prices"] == 20
    assert r1.committed["markets"] == 2

    # cycle 2: upstream grew by 5 days — only the delta is fetched
    r2 = pipeline.run_pipeline(
        spark, make_fetcher("2024-01-15"), tickers, exchanges, lake_dir,
        stage, dw,
    )
    assert r2.fetched["stock_prices"] == 10  # 5 new days x 2
    assert r2.committed["stock_prices"] == 10
    assert r2.committed["markets"] == 0  # dim snapshot unchanged

    # cycle 3: nothing new upstream — fully idempotent, and it writes
    # no data file to the lake or the warehouse (an empty append must
    # not leave an empty parquet file behind every idle day)
    files_before = _parquet_files(spark, lake_dir, dw)
    assert all(files_before.values())
    r3 = pipeline.run_pipeline(
        spark, make_fetcher("2024-01-15"), tickers, exchanges, lake_dir,
        stage, dw,
    )
    assert r3.fetched["stock_prices"] == 0
    assert r3.committed["stock_prices"] == 0
    assert _parquet_files(spark, lake_dir, dw) == files_before

    fact = spark.table(f"{dw}.stock_prices")
    assert fact.count() == 30
    assert fact.select("stock_key").distinct().count() == 30

    # the flagship query over the live warehouse
    rows = pipeline.get_last_price(spark, "AAA", dw).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["stock_date_fmt"] == "15-01-2024"
    assert r["market_companyname"] == "Co AAA"
    assert r["market_exchange"] == "NYSE"


def test_cycle_job_budget(spark, dbs, tmp_path, spark_jobs):
    """Spark jobs started by one cycle: deterministic where wall time is
    not, so a write path that re-scans what it just wrote fails here.
    Every phase count is observed on its write job, a cycle that staged
    no stock rows skips the stock commit, the stock commit is one
    append with no empty-batch probe, and the watermark and the lookup
    read the newest month as one partition (no exchange)."""
    stage, dw = dbs
    lake_dir = str(tmp_path / "bronze")

    def jobs(up_to):
        n, _ = spark_jobs(
            pipeline.run_pipeline, spark, make_fetcher(up_to), ["AAA", "BBB"],
            ["NYSE"], lake_dir, stage, dw,
        )
        return n

    backfill = jobs("2024-01-10")
    new_day = jobs("2024-01-11")  # one new trading day
    idle = jobs("2024-01-11")  # nothing new upstream
    lookup, rows = spark_jobs(
        lambda: pipeline.get_last_price(spark, "AAA", dw).collect()
    )
    assert len(rows) == 1
    assert backfill <= 9 and new_day <= 8 and idle <= 6 and lookup <= 2, (
        backfill, new_day, idle, lookup,
    )


def test_cycle_writes_one_lake_file_per_leaf(spark, dbs, tmp_path):
    """A cycle's fetch batch is one partition, so its lake append adds
    exactly one parquet file to each ``(year, month)`` leaf it touches,
    not one file per core (a 4-ticker new day used to write 4 one-row
    files into its month)."""
    stage, dw = dbs
    lake_dir = tmp_path / "bronze"
    tickers = ["AAA", "BBB", "CCC", "DDD"]

    def cycle(up_to):
        pipeline.run_pipeline(
            spark, make_fetcher(up_to), tickers, ["NYSE"], str(lake_dir),
            stage, dw,
        )
        leaves = {}
        for f in lake_dir.rglob("*.parquet"):
            leaf = str(f.parent.relative_to(lake_dir))
            leaves[leaf] = leaves.get(leaf, 0) + 1
        return leaves

    jan, feb = "stock_year=2024/stock_month=1", "stock_year=2024/stock_month=2"
    assert cycle("2024-02-10") == {jan: 1, feb: 1}  # backfill: 164 rows
    assert cycle("2024-02-11") == {jan: 1, feb: 2}  # new day: 4 rows
    assert cycle("2024-02-11") == {jan: 1, feb: 2}  # idle: no file


def test_commit_prune_is_exact_across_months(spark, dbs, tmp_path):
    """The stock commit reads only the warehouse partitions from the
    batch's earliest (year, month) on. The fixture API ignores ``from``
    and re-serves the whole history, which crosses Jan 31 -> Feb 1 and
    later gains a late January row, so a prune on the ``from`` bounds
    (in February) would let January duplicates through."""
    stage, dw = dbs
    lake_dir = str(tmp_path / "bronze")
    days = [dt.date(2024, 1, 29) + dt.timedelta(days=i) for i in range(5)]
    late = dt.date(2024, 1, 15)  # AAA only

    def cycle(n_days, with_late=False):
        def fetch(kind, entity, from_date):
            if kind == "market":
                return _markets(entity)
            served = days[:n_days]
            if with_late and entity == "AAA":
                served = served + [late]
            return [_bar(d.day, d.isoformat()) for d in served]

        r = pipeline.run_pipeline(
            spark, fetch, ["AAA", "BBB"], ["NYSE"], lake_dir, stage, dw,
        )
        fact = spark.table(f"{dw}.stock_prices")
        assert fact.count() == fact.select("stock_key").distinct().count()
        return r.staged["stock_prices"], r.committed["stock_prices"]

    assert cycle(3) == (6, 6)  # Jan 29-31
    assert cycle(5) == (10, 4)  # + Feb 1-2; Jan re-served
    assert cycle(5, with_late=True) == (11, 1)  # + the late Jan 15 row
    fact_dir = _table_dir(spark, dw, "stock_prices")
    files = set(fact_dir.rglob("*.parquet"))
    # a replay stages rows but commits none, and writes no parquet file
    assert cycle(5, with_late=True) == (11, 0)
    assert set(fact_dir.rglob("*.parquet")) == files
    assert spark.table(f"{dw}.stock_prices").count() == 11


def test_new_ticker_joins_incremental_cycle(spark, dbs, tmp_path):
    """One cycle with mixed lags: a new ticker pulls its full history
    from the sentinel while the loaded ones pull only the delta."""
    from utn_dataengineering_stockmarketpipeline_spark.sources.state import (
        SENTINEL_DATE,
    )

    stage, dw = dbs
    lake_dir = str(tmp_path / "bronze")
    pipeline.run_pipeline(
        spark, make_fetcher("2024-01-10"), ["AAA", "BBB"], ["NYSE"],
        lake_dir, stage, dw,
    )

    fetch, asked = make_fetcher("2024-01-15"), {}

    def recording(kind, entity, from_date):
        if kind == "stock":
            asked[entity] = from_date
        return fetch(kind, entity, from_date)

    r = pipeline.run_pipeline(
        spark, recording, ["AAA", "BBB", "CCC"], ["NYSE"], lake_dir, stage, dw,
    )
    assert asked == {
        "AAA": "2024-01-11", "BBB": "2024-01-11", "CCC": SENTINEL_DATE,
    }
    assert r.fetched["stock_prices"] == 5 + 5 + 15
    assert r.committed["stock_prices"] == 25

    fact = spark.table(f"{dw}.stock_prices")
    per_ticker = {
        row["stock_ticker"]: row["count"]
        for row in fact.groupBy("stock_ticker").count().collect()
    }
    assert per_ticker == {"AAA": 15, "BBB": 15, "CCC": 15}
    assert fact.select("stock_key").distinct().count() == 45


def test_empty_inputs_commit_nothing(spark, dbs, tmp_path):
    stage, dw = dbs
    r = pipeline.run_pipeline(
        spark, make_fetcher("2024-01-10"), [], [], str(tmp_path / "bronze"),
        stage, dw,
    )
    for table in ("markets", "stock_prices"):
        assert r.fetched[table] == r.staged[table] == r.committed[table] == 0
    assert spark.table(f"{dw}.stock_prices").count() == 0


def _bars_on(days):
    """Fixture API serving ``days[ticker]`` (ISO dates) from ``from``."""

    def fetch(kind, entity, from_date):
        if kind == "market":
            return _markets(entity)
        return [_bar(int(d[-2:]), d) for d in days.get(entity, ())
                if d >= from_date]

    return fetch


def _full_scan(spark, dw, tickers):
    """``next_from_date`` and ``get_last_price`` computed over every row
    of the warehouse fact, for comparison with the bounded reads."""
    from utn_dataengineering_stockmarketpipeline_spark.sources.state import (
        SENTINEL_DATE,
    )
    from pyspark.sql import functions as F

    fact = spark.table(f"{dw}.stock_prices")
    last = dict(
        fact.groupBy("stock_ticker").agg(F.max("stock_date")).collect()
    )
    bounds = {
        t: (last[t] + dt.timedelta(days=1)).isoformat() if t in last
        else SENTINEL_DATE
        for t in tickers
    }
    top = fact.agg(F.max("stock_date")).first()[0]
    prices = {
        t: sorted(
            (r["stock_date"].strftime("%d-%m-%Y"), r["stock_close"])
            for r in fact.filter((F.col("stock_date") == top)
                                 & (F.col("stock_ticker") == t)).collect()
        )
        for t in tickers
    }
    return bounds, prices


def _bounded_reads(spark, dw, tickers, monkeypatch):
    """The bounds, last prices and fact files that the bounded
    ``next_from_date`` and ``get_last_price`` read."""
    from utn_dataengineering_stockmarketpipeline_spark.sources import state

    scans, orig = [], state.watermarks
    monkeypatch.setattr(
        state, "watermarks", lambda f, *a: scans.append(f) or orig(f, *a)
    )
    bounds = state.next_from_date(spark.table(f"{dw}.stock_prices"), tickers)
    monkeypatch.undo()
    prices, files = {}, set()
    for t in tickers:
        df = pipeline.get_last_price(spark, t, dw)
        prices[t] = sorted(
            (r["stock_date_fmt"], r["stock_close"]) for r in df.collect()
        )
        files |= {f for f in df.inputFiles() if "/stock_prices/" in f}
    watermark_files = [
        {f for f in scan.inputFiles() if "/stock_prices/" in f}
        for scan in scans
    ]
    return bounds, prices, watermark_files, files


def _months(files):
    return {f.split("/stock_prices/")[1].rsplit("/", 1)[0] for f in files}


def test_watermark_and_lookup_read_one_month(spark, dbs, tmp_path,
                                             monkeypatch):
    """As months are committed, the watermark aggregate and the lookup
    each read one file of the newest month, and both equal a full
    scan of the fact."""
    stage, dw = dbs
    lake_dir = str(tmp_path / "bronze")
    tickers = ["AAA", "BBB"]
    d0 = dt.date(2024, 1, 20)
    days = [(d0 + dt.timedelta(days=i)).isoformat() for i in range(80)]
    for up_to, month in (("2024-01-25", 1), ("2024-02-10", 2),
                         ("2024-03-05", 3), ("2024-04-02", 4)):
        served = [d for d in days if d <= up_to]
        pipeline.run_pipeline(
            spark, _bars_on({t: served for t in tickers}), tickers, ["NYSE"],
            lake_dir, stage, dw,
        )
        bounds, prices, wm_files, lookup_files = _bounded_reads(
            spark, dw, tickers, monkeypatch,
        )
        assert (bounds, prices) == _full_scan(spark, dw, tickers)
        newest = {f"stock_year=2024/stock_month={month}"}
        assert len(wm_files) == 1 and len(wm_files[0]) == 1, wm_files
        assert _months(wm_files[0]) == newest
        assert len(lookup_files) == 1 and _months(lookup_files) == newest


def test_ticker_absent_from_newest_month_falls_back(spark, dbs, tmp_path,
                                                    monkeypatch):
    """A ticker with no row in the newest month takes the aggregate
    over the older months: its bound equals a full scan's. The lookup
    keeps the reference's global-max-date rule, so that ticker has no
    last price, as in a full scan."""
    stage, dw = dbs
    tickers = ["AAA", "BBB", "CCC"]
    fetch = _bars_on({"AAA": ["2024-01-05", "2024-02-03"],
                      "BBB": ["2024-01-04", "2024-01-09"]})
    pipeline.run_pipeline(spark, fetch, tickers, ["NYSE"],
                          str(tmp_path / "bronze"), stage, dw)
    bounds, prices, wm_files, _ = _bounded_reads(spark, dw, tickers,
                                                 monkeypatch)
    assert (bounds, prices) == _full_scan(spark, dw, tickers)
    assert bounds["BBB"] == "2024-01-10" and not prices["BBB"]
    # the newest month, then the older ones for BBB and CCC
    assert [_months(f) for f in wm_files] == [
        {"stock_year=2024/stock_month=2"}, {"stock_year=2024/stock_month=1"},
    ]


def test_truncated_newest_month_then_older_commit(spark, dbs, tmp_path,
                                                  monkeypatch):
    """``TRUNCATE`` of the newest partition leaves it listed by
    ``SHOW PARTITIONS`` but without files, so the bounded reads pick
    the newest partition that holds a file. After a commit to an older
    month both equal a full scan."""
    stage, dw = dbs
    lake_dir = str(tmp_path / "bronze")
    tickers = ["AAA", "BBB"]

    def cycle(served):
        pipeline.run_pipeline(
            spark, _bars_on({t: served for t in tickers}), tickers, ["NYSE"],
            lake_dir, stage, dw,
        )

    cycle(["2024-01-10", "2024-01-11", "2024-02-05"])
    spark.sql(f"TRUNCATE TABLE {dw}.stock_prices "
              "PARTITION (stock_year = 2024, stock_month = 2)")
    listed = {r[0] for r in spark.sql(f"SHOW PARTITIONS {dw}.stock_prices")
              .collect()}
    assert "stock_year=2024/stock_month=2" in listed
    cycle(["2024-01-10", "2024-01-11", "2024-01-12"])  # January only
    bounds, prices, wm_files, lookup_files = _bounded_reads(
        spark, dw, tickers, monkeypatch,
    )
    assert (bounds, prices) == _full_scan(spark, dw, tickers)
    assert bounds == {"AAA": "2024-01-13", "BBB": "2024-01-13"}
    assert prices["AAA"] == [("12-01-2024", 13.5)]
    assert _months(lookup_files) == {"stock_year=2024/stock_month=1"}
    assert len(wm_files) == 1


def test_empty_newer_month(spark, dbs, tmp_path, monkeypatch):
    """The bounded reads trust that a partition holding a file holds
    rows. A static-partition ``INSERT OVERWRITE`` of an empty select
    registers a month newer than any row but writes no file into it,
    so both reads keep to the newest month with rows and equal a full
    scan. A zero-row file that another writer puts into that month
    breaks the rule: the month is chosen, no ticker has a row in it, and
    the watermark takes its fallback over the older months for every
    ticker, still equal to a full scan. (The lookup has no fallback;
    its docstring states the rule it depends on.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stage, dw = dbs
    tickers = ["AAA", "BBB"]
    served = ["2024-01-10", "2024-02-05", "2024-02-06"]
    pipeline.run_pipeline(
        spark, _bars_on({t: served for t in tickers}), tickers, ["NYSE"],
        str(tmp_path / "bronze"), stage, dw,
    )
    fact = spark.table(f"{dw}.stock_prices")
    cols = ", ".join(c for c in fact.columns
                     if c not in ("stock_year", "stock_month"))
    spark.sql(f"INSERT OVERWRITE TABLE {dw}.stock_prices "
              "PARTITION (stock_year = 2024, stock_month = 3) "
              f"SELECT {cols} FROM {stage}.stock_prices WHERE false")
    listed = {r[0] for r in spark.sql(f"SHOW PARTITIONS {dw}.stock_prices")
              .collect()}
    jan, feb, mar = (f"stock_year=2024/stock_month={m}" for m in (1, 2, 3))
    assert mar in listed
    assert _months(spark.table(f"{dw}.stock_prices").inputFiles()) == {
        jan, feb,
    }
    bounds, prices, wm_files, lookup_files = _bounded_reads(
        spark, dw, tickers, monkeypatch,
    )
    assert (bounds, prices) == _full_scan(spark, dw, tickers)
    assert bounds == {"AAA": "2024-02-07", "BBB": "2024-02-07"}
    assert prices["AAA"] == [("06-02-2024", 7.5)]
    assert [_months(f) for f in wm_files] == [{feb}]
    assert _months(lookup_files) == {feb}

    pq.write_table(pa.table({"stock_ticker": pa.array([], pa.string())}),
                   _table_dir(spark, dw, "stock_prices") / mar
                   / "part-empty.parquet")
    spark.sql(f"REFRESH TABLE {dw}.stock_prices")
    bounds, _, wm_files, _ = _bounded_reads(spark, dw, tickers, monkeypatch)
    assert bounds == _full_scan(spark, dw, tickers)[0]
    assert bounds == {"AAA": "2024-02-07", "BBB": "2024-02-07"}
    # the empty newest month, then every older month for both tickers
    assert [_months(f) for f in wm_files] == [{mar}, {jan, feb}]


def test_corpus_release_end_to_end(spark, tmp_path):
    """The LLM-corpus release flow, end to end on real files: curated
    catalog query -> atomic snapshot publish -> (bad release) ->
    rollback serves the previous version.

    Each stage is an already-verified unit; this pins the COMPOSITION —
    the snapshot layer versions the curation output as written, and a
    rollback reproduces the curated corpus exactly."""
    from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import CATALOG
    from utn_dataengineering_stockmarketpipeline_spark.sources import (
        snapshots as sn,
    )
    from utn_dataengineering_stockmarketpipeline_spark.sources.parquet import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "corpus_releases")

    # release 1: curated survivors joined back to their text
    kept = CATALOG["llm_curation_pipeline"].build(spark, sf).select("doc_id")
    docs = load_table(spark, sf, "documents").join(kept, "doc_id")
    n_curated = docs.count()
    assert 0 < n_curated < load_table(spark, sf, "documents").count()

    v1 = sn.publish_snapshot(docs, root)
    assert sn.read_snapshot(spark, root).count() == n_curated

    # release 2: a (deliberately bad) 3-document release
    v2 = sn.publish_snapshot(docs.limit(3), root)
    assert sn.current_version(spark, root) == v2
    assert sn.read_snapshot(spark, root).count() == 3

    # rollback: the previous release is immediately current again,
    # and its files still reproduce the curated corpus exactly
    sn.rollback(spark, root, to_version=v1)
    back = sn.read_snapshot(spark, root)
    assert back.count() == n_curated
    assert back.select("doc_id").distinct().count() == n_curated
    assert back.exceptAll(docs.select(*back.columns)).isEmpty()
