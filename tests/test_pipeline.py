"""Pipeline-level tests (SURVEY.md §5.4): SCD-0 idempotency, incremental
boundary, schema drift, empty batch, key parity, lake round-trip +
compaction. The fetcher is a local fixture (no network) exactly as the
pluggable design intends (sources/rest.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from utn_dataengineering_stockmarketpipeline_spark.operators.scd import (
    merge_append,
    new_rows,
)
from utn_dataengineering_stockmarketpipeline_spark.operators.transforms import (
    normalize_market_payload,
    normalize_stock_payload,
)
from utn_dataengineering_stockmarketpipeline_spark.sources import lake
from utn_dataengineering_stockmarketpipeline_spark.sources.rest import (
    fetch_market,
    fetch_stock,
    json_rows_to_df,
)
from utn_dataengineering_stockmarketpipeline_spark.sources.state import (
    SENTINEL_DATE,
    next_from_date,
)
from utn_dataengineering_stockmarketpipeline_spark.schemas import STOCK_RAW


def _calendar(start: str, days: int) -> list[dict]:
    """Deterministic daily bars from `start`, EODHD payload shape."""
    d0 = dt.date.fromisoformat(start)
    out = []
    for i in range(days):
        d = d0 + dt.timedelta(days=i)
        out.append(
            {
                "date": d.isoformat(),
                "open": 10.0 + i,
                "high": 11.0 + i,
                "low": 9.0 + i,
                "close": 10.5 + i,
                "adjusted_close": 10.4 + i,
                "volume": 1000 + i,
            }
        )
    return out


def fixture_fetcher(kind: str, entity: str, from_date: str) -> list[dict]:
    """Serves a fixed 10-day calendar (2024-01-01..10) filtered to
    >= from_date — the incremental contract of the EODHD `from` param."""
    if kind == "market":
        return [
            {"Code": "AAA", "Name": "Alpha", "Country": "US",
             "Exchange": entity, "Currency": "USD", "Type": "Common Stock",
             "Isin": "US000A"},
            {"Code": "FFF", "Name": "Fund", "Country": "US",
             "Exchange": entity, "Currency": "USD", "Type": "ETF",
             "Isin": "US000F"},
        ]
    return [r for r in _calendar("2024-01-01", 10) if r["date"] >= from_date]


def test_scd0_idempotent_and_unique(spark, tmp_path):
    target = str(tmp_path / "fact")
    raw = fetch_stock(spark, fixture_fetcher, {"AAA": SENTINEL_DATE})
    batch = normalize_stock_payload(raw, "AAA")

    n1 = merge_append(batch, target, "stock_key")
    assert n1 == 10
    n2 = merge_append(batch, target, "stock_key")  # identical reload
    assert n2 == 0

    out = spark.read.parquet(target)
    assert out.count() == 10
    assert out.select("stock_key").distinct().count() == 10


def test_scd0_corrupt_target_raises_not_first_load(spark, tmp_path):
    """A target that EXISTS but can't be read (corrupt footer) must
    surface the error — treating it as first-load would append the whole
    batch without the anti-join and duplicate keys on the next repair."""
    import pytest

    target = tmp_path / "fact"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"this is not parquet")

    raw = fetch_stock(spark, fixture_fetcher, {"AAA": SENTINEL_DATE})
    batch = normalize_stock_payload(raw, "AAA")
    with pytest.raises(Exception):
        merge_append(batch, str(target), "stock_key")
    # nothing must have been appended to the broken target
    assert not list(target.glob("*stock_key*")) and len(list(target.iterdir())) == 1


def test_scd0_empty_dir_is_first_load(spark, tmp_path):
    """An existing-but-empty target directory IS a first load (the
    UNABLE_TO_INFER_SCHEMA case), not an error."""
    target = tmp_path / "fact"
    target.mkdir()
    raw = fetch_stock(spark, fixture_fetcher, {"AAA": SENTINEL_DATE})
    batch = normalize_stock_payload(raw, "AAA")
    assert merge_append(batch, str(target), "stock_key") == 10


def test_incremental_boundary_fetches_exactly_missing_days(spark, tmp_path):
    """from = watermark + 1 pulls exactly the days the sink lacks."""
    target = str(tmp_path / "fact")

    day5 = [r for r in _calendar("2024-01-01", 10) if r["date"] <= "2024-01-05"]
    first = normalize_stock_payload(json_rows_to_df(spark, day5, STOCK_RAW), "AAA")
    merge_append(first, target, "stock_key")

    sink = spark.read.parquet(target)
    # unknown entity → sentinel → full fetch
    frm = next_from_date(sink, ["AAA", "ZZZ"])
    assert frm == {"AAA": "2024-01-06", "ZZZ": SENTINEL_DATE}

    raw = fetch_stock(spark, fixture_fetcher, {"AAA": frm["AAA"]})
    incr = normalize_stock_payload(raw, "AAA")
    got_dates = sorted(r["stock_date"].isoformat() for r in incr.collect())
    assert got_dates == [f"2024-01-{d:02d}" for d in range(6, 11)]

    assert merge_append(incr, target, "stock_key") == 5
    assert spark.read.parquet(target).count() == 10


def test_next_from_date_jobs_do_not_grow_with_tickers(spark, spark_jobs):
    """All tickers' bounds come from one aggregate: 20 tickers start as
    many Spark jobs as one."""
    tickers = [f"T{i:02d}" for i in range(20)]
    sink = spark.createDataFrame(
        [(t, dt.date(2024, 1, d)) for t in tickers for d in (1, 2, 3)],
        "stock_ticker string, stock_date date",
    )

    def jobs(ts):
        n, frm = spark_jobs(next_from_date, sink, ts)
        assert frm == {t: "2024-01-04" for t in ts}
        return n

    assert jobs(tickers[:1]) == jobs(tickers) > 0


def test_schema_drift_payload_with_and_without_optional_fields(spark):
    """adjusted_close / warning may come and go (API_manager.py:164-167);
    both payload shapes must normalize to the identical schema."""
    full = _calendar("2024-01-01", 3)
    bare = [
        {k: v for k, v in r.items() if k != "adjusted_close"} for r in full
    ]
    df_full = normalize_stock_payload(
        json_rows_to_df(spark, full, STOCK_RAW), "AAA"
    )
    df_bare = normalize_stock_payload(
        json_rows_to_df(spark, bare, STOCK_RAW), "AAA"
    )
    assert df_full.schema == df_bare.schema
    assert "adjusted_close" not in df_full.columns
    assert "warning" not in df_full.columns
    assert df_full.count() == df_bare.count() == 3


def test_fetch_accepts_lossless_numbers_and_rejects_lossy_ones(spark):
    """S3 parity with the reference's ``pd.DataFrame.from_dict``: a
    whole-number price or a whole float volume is the same value and
    loads; a fractional volume or a string price is not and raises."""
    bar = _calendar("2024-01-01", 1)[0]

    def fetch_one(**fields):
        return fetch_stock(
            spark, lambda kind, t, frm: [{**bar, **fields}], {"AAA": "2024-01-01"}
        )

    row = fetch_one(open=100, volume=12345.0).collect()[0]
    assert row["open"] == 100.0 and isinstance(row["open"], float)
    assert row["volume"] == 12345 and isinstance(row["volume"], int)
    for bad in ({"volume": 1.5}, {"open": "7"}, {"open": "x"},
                {"volume": "7"}, {"close": True}):
        with pytest.raises(TypeError, match=next(iter(bad))):
            fetch_one(**bad)


def test_empty_batch_is_noop(spark, tmp_path):
    target = str(tmp_path / "fact")
    batch = normalize_stock_payload(
        json_rows_to_df(spark, _calendar("2024-01-01", 2), STOCK_RAW), "AAA"
    )
    merge_append(batch, target, "stock_key")

    empty = normalize_stock_payload(json_rows_to_df(spark, [], STOCK_RAW), "AAA")
    assert merge_append(empty, target, "stock_key") == 0
    assert spark.read.parquet(target).count() == 2


def test_surrogate_key_parity_golden(spark):
    """P4 golden: pandas str(date) + '/' + ticker renders YYYY-MM-DD;
    the Spark key must match byte-for-byte or SCD-0 dedup diverges."""
    batch = normalize_stock_payload(
        json_rows_to_df(spark, _calendar("2024-03-07", 2), STOCK_RAW), "MSFT"
    )
    keys = sorted(r["stock_key"] for r in batch.collect())
    assert keys == ["2024-03-07/MSFT", "2024-03-08/MSFT"]


def test_market_snapshot_filters_type_and_scd0(spark, tmp_path):
    """P7 filter (common stock only) + J1 anti-join on the dimension."""
    target = str(tmp_path / "dim")
    raw = fetch_market(spark, fixture_fetcher, ["NYSE"])
    dim = normalize_market_payload(raw)
    rows = dim.collect()
    assert [r["market_stockid"] for r in rows] == ["AAA"]  # ETF filtered out

    assert merge_append(dim, target, "market_stockid") == 1
    assert merge_append(dim, target, "market_stockid") == 0  # full re-snapshot


def test_lake_roundtrip_partition_layout_and_compaction(spark, tmp_path):
    path = str(tmp_path / "bronze")
    days = 40  # spans two months → two partitions
    batch = normalize_stock_payload(
        json_rows_to_df(spark, _calendar("2024-01-15", days), STOCK_RAW), "AAA"
    )
    lake.write_stocks(  # second ticker first: appends arrive out of order
        normalize_stock_payload(
            json_rows_to_df(spark, _calendar("2024-01-15", days), STOCK_RAW),
            "BBB",
        ),
        path,
    )
    lake.write_stocks(batch, path)

    import os

    parts = sorted(p for p in os.listdir(path) if p.startswith("stock_year="))
    assert parts == ["stock_year=2024"]
    months = sorted(
        os.listdir(os.path.join(path, "stock_year=2024"))
    )
    assert months == ["stock_month=1", "stock_month=2"]

    back = lake.read_lake(spark, path)
    assert back.count() == 2 * days
    # partition values survive the round trip as real columns
    assert back.filter(
        (F.col("stock_year") == 2024) & (F.col("stock_month") == 2)
    ).count() == 2 * (days - 17)

    # anti-join sees lake contents: nothing new on reload
    assert new_rows(batch, back, "stock_key").count() == 0

    lake.compact(spark, path, lake.STOCK_PARTITIONS)
    after = lake.read_lake(spark, path)
    assert after.count() == 2 * days
    assert sorted(after.columns) == sorted(back.columns)
    # compaction merged the two appends: one file per leaf partition
    def leaf_files():
        return {
            month_dir: [
                f for f in os.listdir(
                    os.path.join(path, "stock_year=2024", month_dir)
                ) if f.endswith(".parquet")
            ]
            for month_dir in months
        }

    assert {m: len(fs) for m, fs in leaf_files().items()} == {
        m: 1 for m in months
    }

    import pyarrow.parquet as pq

    def assert_files_sorted():
        # every compacted file keeps write_stocks' (ticker, date) order,
        # which the row-group min/max stats rely on
        for month_dir, files in leaf_files().items():
            for f in files:
                t = pq.read_table(
                    os.path.join(path, "stock_year=2024", month_dir, f),
                    columns=["stock_ticker", "stock_date"],
                )
                rows = list(zip(t.column("stock_ticker").to_pylist(),
                                t.column("stock_date").to_pylist()))
                assert rows == sorted(rows), f"{month_dir}/{f} unsorted"

    assert_files_sorted()

    # a small target splits each leaf into ceil(rows/target) files
    per_leaf = {
        f"stock_month={r['stock_month']}": r["count"]
        for r in after.groupBy("stock_month").count().collect()
    }
    keys = sorted(r["stock_key"] for r in after.select("stock_key").collect())
    target = 4
    lake.compact(spark, path, lake.STOCK_PARTITIONS, target_rows_per_file=target)
    assert {m: len(fs) for m, fs in leaf_files().items()} == {
        m: -(-n // target) for m, n in per_leaf.items()
    }
    again = lake.read_lake(spark, path)
    assert sorted(r["stock_key"] for r in again.select("stock_key").collect()) == keys
    assert_files_sorted()


def test_scd2_idempotent_and_versions(spark):
    from utn_dataengineering_stockmarketpipeline_spark.operators.scd import (
        scd2_apply,
    )

    snap = spark.createDataFrame(
        [("A", "Alpha v2"), ("B", "Beta"), ("C", "Gamma")], "k string, name string"
    )
    current = spark.createDataFrame(
        [
            ("A", "Alpha v1", dt.date(2020, 1, 1), None, True),
            ("B", "Beta", dt.date(2020, 1, 1), None, True),
            ("D", "Delta", dt.date(2020, 1, 1), None, True),  # absent in snap
            ("A", "Alpha v0", dt.date(2015, 1, 1), dt.date(2020, 1, 1), False),
        ],
        "k string, name string, valid_from date, valid_to date, is_current boolean",
    )
    out = scd2_apply(snap, current, "k", ["name"], "2024-06-01")
    rows = {(r["k"], r["name"]): r for r in out.collect()}
    assert len(rows) == 6
    # A: v1 closed at load date, v2 opened, v0 history intact
    assert rows[("A", "Alpha v1")]["valid_to"] == dt.date(2024, 6, 1)
    assert rows[("A", "Alpha v1")]["is_current"] is False
    assert rows[("A", "Alpha v2")]["is_current"] is True
    assert rows[("A", "Alpha v0")]["valid_to"] == dt.date(2020, 1, 1)
    # B unchanged; C brand new; D (absent from snapshot) stays open
    assert rows[("B", "Beta")]["is_current"] is True
    assert rows[("C", "Gamma")]["valid_from"] == dt.date(2024, 6, 1)
    assert rows[("D", "Delta")]["is_current"] is True

    # idempotent: re-applying the identical snapshot changes nothing
    again = scd2_apply(snap, out, "k", ["name"], "2024-07-01")
    assert again.count() == out.count()
    assert again.exceptAll(out).count() == 0

    # exactly one open row per key
    opens = out.filter(F.col("is_current")).groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in opens)


def test_scd2_as_of_snapshots(spark):
    """Point-in-time reads over a versioned dim: half-open [from, to)
    intervals, boundary dates belong to the NEW version, all report
    dates ride one scan."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.scd import (
        scd2_as_of,
    )

    versioned = spark.createDataFrame(
        [
            ("A", "v0", dt.date(2015, 1, 1), dt.date(2020, 1, 1), False),
            ("A", "v1", dt.date(2020, 1, 1), None, True),
            ("B", "b0", dt.date(2018, 6, 1), None, True),
        ],
        "k string, name string, valid_from date, valid_to date, "
        "is_current boolean",
    )
    out = scd2_as_of(versioned, ["2016-01-01", "2020-01-01", "2025-01-01"])
    got = {
        (str(r["as_of"]), r["k"]): r["name"] for r in out.collect()
    }
    # 2016: only A v0 is live (B not yet born)
    # 2020-01-01 (boundary): belongs to v1, not the closed v0
    assert got == {
        ("2016-01-01", "A"): "v0",
        ("2020-01-01", "A"): "v1",
        ("2020-01-01", "B"): "b0",
        ("2025-01-01", "A"): "v1",
        ("2025-01-01", "B"): "b0",
    }


def test_scd2_null_transitions_are_versioned(spark):
    """concat_ws skips nulls, so the attribute hash must null-sentinel
    each tracked column: NULL→'' and ['a',NULL]→[NULL,'a'] are real
    changes and must close/open versions (ADVICE r2)."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.scd import (
        scd2_apply,
    )

    schema = "k string, c1 string, c2 string"
    current = spark.createDataFrame(
        [
            ("A", None, "x", dt.date(2020, 1, 1), None, True),
            ("B", "a", None, dt.date(2020, 1, 1), None, True),
        ],
        schema + ", valid_from date, valid_to date, is_current boolean",
    )
    # A: NULL -> '' in c1; B: ['a', NULL] -> [NULL, 'a'] layout shift
    snap = spark.createDataFrame([("A", "", "x"), ("B", None, "a")], schema)
    out = scd2_apply(snap, current, "k", ["c1", "c2"], "2024-06-01")
    rows = out.collect()
    assert len(rows) == 4  # both keys closed + re-opened
    for k in ("A", "B"):
        vers = [r for r in rows if r["k"] == k]
        closed = [r for r in vers if not r["is_current"]]
        opened = [r for r in vers if r["is_current"]]
        assert len(closed) == 1 and len(opened) == 1, k
        assert closed[0]["valid_to"] == dt.date(2024, 6, 1), k
        assert opened[0]["valid_from"] == dt.date(2024, 6, 1), k

    # idempotent on the null-bearing snapshot: nothing changes on re-apply
    again = scd2_apply(snap, out, "k", ["c1", "c2"], "2024-07-01")
    assert again.exceptAll(out).count() == 0


def test_table_diff_null_key_classified_by_hash_presence(spark):
    """A matched NULL-key pair must classify like any other key
    (unchanged -> dropped, attribute flip -> 'changed'), and a NULL key
    present on only one side must be 'added'/'removed' — presence is
    tested on the hash columns, not the nullable key (ADVICE r7)."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.scd import (
        table_diff,
    )

    schema = "k string, v string"

    # identical null-key rows: must NOT appear in the diff
    old = spark.createDataFrame([(None, "same"), ("A", "x")], schema)
    new = spark.createDataFrame([(None, "same"), ("A", "x")], schema)
    assert table_diff(old, new, "k", ["v"]).count() == 0

    # null-key attribute flip: 'changed', not 'added'
    new2 = spark.createDataFrame([(None, "flip"), ("A", "x")], schema)
    rows = {r["k"]: r["change_type"]
            for r in table_diff(old, new2, "k", ["v"]).collect()}
    assert rows == {None: "changed"}

    # null key only in old: 'removed' must be reachable
    new3 = spark.createDataFrame([("A", "x")], schema)
    rows = {r["k"]: r["change_type"]
            for r in table_diff(old, new3, "k", ["v"]).collect()}
    assert rows == {None: "removed"}

    # null key only in new: 'added'
    old2 = spark.createDataFrame([("A", "x")], schema)
    rows = {r["k"]: r["change_type"]
            for r in table_diff(old2, old, "k", ["v"]).collect()}
    assert rows == {None: "added"}
