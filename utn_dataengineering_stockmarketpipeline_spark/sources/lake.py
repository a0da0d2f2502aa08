"""Bronze parquet lake (SURVEY.md §2.2 K1/K2, §4.1 layout note).

The reference Hive-partitions the stock lake by
``stock_year/stock_month/stock_day/stock_ticker``
(``API_manager.py:123,206``) — at daily-bar granularity that is ~1 row
per leaf directory, the classic small-files antipattern: at 100 TB the
NameNode/listing cost alone dwarfs the scan. Here the layout is
``stock_year/stock_month`` only; day+ticker selectivity comes free from
parquet row-group min/max stats (each file is written sorted by
(ticker, date) so stat ranges are tight), which is how a columnar lake
actually indexes at scale.

Each ETL cycle's fetch batch is one partition (``rest.json_rows_to_df``),
so a cycle's append adds one file to each leaf it touches. Compaction:
those per-cycle files still accumulate, one per cycle per leaf; plain
parquet has no auto-OPTIMIZE, so ``compact`` is the periodic job that
rewrites a partition into target-sized files (§4.2 "not automatic"
row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

STOCK_PARTITIONS = ["stock_year", "stock_month"]
MARKET_PARTITIONS = ["market_exchange"]


def write_stocks(df: DataFrame, path: str) -> None:
    """K1: append normalized stock_prices rows to the bronze lake.

    Empty-input guard (P8, API_manager.py:203): an empty write is one
    job that leaves ``_SUCCESS`` and no parquet file, so no caller
    guards the empty batch. Rows are sorted within partitions so
    row-group stats stay selective.
    """
    (
        df.sortWithinPartitions("stock_ticker", "stock_date")
        .write.mode("append")
        .partitionBy(*STOCK_PARTITIONS)
        .parquet(path)
    )


def write_markets(df: DataFrame, path: str) -> None:
    """K2: append normalized market rows, partitioned by exchange."""
    df.write.mode("append").partitionBy(*MARKET_PARTITIONS).parquet(path)


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """S6: scan the lake; partition columns come back as real columns
    and predicates on them prune directories (verified in
    tests/test_plans.py)."""
    return spark.read.parquet(path)


def compact(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    target_rows_per_file: int = 5_000_000,
) -> None:
    """Rewrite the lake with ceil(rows/target) files per partition.

    The periodic small-file compaction job plain parquet needs
    (SURVEY.md §4.2). Reads everything and hash-repartitions on the
    partition keys, so each partition's rows land in one task, sorted
    by the partition keys and then by ``(stock_ticker, stock_date)`` —
    the order ``write_stocks`` gives each file, which keeps row-group
    stats selective. The writer's ``maxRecordsPerFile`` then rolls to
    a new file every ``target_rows_per_file`` rows, so every file of a
    leaf holds one sorted run. Rewrites atomically-enough for a
    single-writer lake (a real deployment would stage + swap or use a
    table format with ACID commits).
    """
    tmp = path.rstrip("/") + "__compacting"
    (
        spark.read.parquet(path)
        .repartition(*partition_by)
        .sortWithinPartitions(*partition_by, "stock_ticker", "stock_date")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(*partition_by)
        .parquet(tmp)
    )
    # stage-and-swap via the Hadoop FS (atomic on HDFS/local; object
    # stores would use a table format's ACID commit instead)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p_old = jvm.org.apache.hadoop.fs.Path(path)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    fs = p_old.getFileSystem(conf)
    fs.delete(p_old, True)
    fs.rename(p_tmp, p_old)
