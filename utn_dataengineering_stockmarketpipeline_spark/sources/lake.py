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

Compaction: incremental appends accumulate small files; plain parquet
has no auto-OPTIMIZE, so ``compact`` is the periodic job that rewrites a
partition into target-sized files (§4.2 "not automatic" row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 32,
    sort_key: str | None = None,
) -> None:
    """Persist as a bucketed managed table: rows hash-partitioned into
    ``n_buckets`` files by ``bucket_key`` at WRITE time.

    The §4 co-location play: two tables bucketed the same way join with
    ZERO exchange — the shuffle was paid once at write and amortizes
    over every subsequent join/aggregation on the key. The big-fact
    join that dominates a 100 TB star schema is exactly this shape
    (verified exchange-free in tests/test_plans.py).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_key:
        writer = writer.sortBy(sort_key)
    writer.saveAsTable(table)


def compact(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    target_rows_per_file: int = 5_000_000,
) -> None:
    """Rewrite the lake with ~target-sized files per partition.

    The periodic small-file compaction job plain parquet needs
    (SURVEY.md §4.2). Reads everything, re-buckets to
    ceil(rows/target) files per partition via repartition on the
    partition keys, rewrites atomically-enough for a single-writer lake
    (a real deployment would stage + swap or use a table format with
    ACID commits).
    """
    df = spark.read.parquet(path)
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    tmp = path.rstrip("/") + "__compacting"
    (
        df.repartition(files, *[F.col(c) for c in partition_by])
        .sortWithinPartitions(*partition_by)
        .write.mode("overwrite")
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


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    sort_col: str | None = None,
    max_records_per_file: int | None = None,
    shuffle_seed: str | None = None,
) -> DataFrame:
    """Export a curated corpus as TRAINING SHARDS — the end of the
    pipeline: the file layout a data-loader actually consumes.

    - shard = pmod(xxhash64(id), n_shards): DETERMINISTIC content-based
      assignment — re-exporting the same corpus reproduces the same
      shard membership bit-for-bit regardless of upstream partitioning
      or cluster size (loaders checkpoint by (shard, offset); a layout
      that reshuffles between runs invalidates every checkpoint);
    - each shard lands WHOLLY in one task (repartition hashes the
      shard key, so a shard value never splits across writers — one
      writer's output per shard directory; tasks may own several
      shards or none, the balls-in-bins reality of hashing n keys into
      n partitions), rows sorted within the task by (shard,
      ``sort_col``) — deterministic in-file order and tight row-group
      stats;
    - ``max_records_per_file`` caps file size (loaders want bounded
      files for work-stealing); splitting preserves the sorted order.

    Returns the manifest (shard, n_docs) the training job plans
    against — computed by reading BACK the written shards, so it
    counts the files as written (re-aggregating the input lineage
    would re-execute the whole upstream pipeline a second time and
    could disagree with the files if any upstream stage is
    nondeterministic). Callers persist it next to the shards.

    ``shuffle_seed`` switches the layout from content-addressed to the
    SEEDED TRAINING SHUFFLE (operators/text.shard_assignment): shard
    and in-file order both derive from md5(seed:id), so the export IS
    the reproducible pseudo-random corpus order a training job reads
    sequentially — same seed → byte-identical layout, new seed → a
    fresh epoch permutation with no extra pass. The content-addressed
    default stays right for checkpoint-stable incremental re-exports
    (membership survives corpus growth; the seeded order deliberately
    does not — reshuffling is its purpose).

    100 TB: one full shuffle (the export's unavoidable cost), then
    map-side sorted writes; the manifest is one scan of the output's
    shard column (parquet prunes everything else).
    """
    if shuffle_seed is not None:
        if sort_col is not None:
            raise ValueError(
                "sort_col and shuffle_seed conflict: the seeded shuffle "
                "OWNS the in-file order (that is its purpose) — pass one"
            )
        from ..functions.hashing import md5_prefix64

        key = md5_prefix64(
            F.concat(F.lit(f"{shuffle_seed}:"), F.col(id_col).cast("string"))
        )
        sharded = df.withColumn("__k", key).withColumn(
            "shard", (F.col("__k") % F.lit(n_shards)).cast("int")
        )
        order: list = ["shard", "__k", id_col]
    else:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
        sharded = df.withColumn("shard", shard)
        order = ["shard", sort_col or id_col]
    writer = (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions(*order)
        .drop("__k")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
    spark = df.sparkSession
    return (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def backfill_partitions(df: DataFrame, path: str,
                        partition_by: list[str] | None = None) -> None:
    """Idempotent partition backfill: overwrite ONLY the partitions the
    incoming frame touches, leave every other partition untouched —
    Spark's dynamic ``partitionOverwriteMode``, the correction-run
    primitive a production lake needs (re-run March after a bad feed
    without re-writing the year, and without the delete-then-append
    window where readers see a hole).

    STATIC overwrite mode (Spark's default) would truncate the WHOLE
    table before writing the new partitions — the classic footgun this
    wrapper exists to scope away: the mode is set per-write via the
    DataFrameWriter option, not session-wide, so concurrent writers
    keep their own semantics. Replays are idempotent by construction
    (same input → same partitions → same bytes), the
    quarantine-sink/batch_id discipline generalized to calendar
    partitions.

    At 100 TB: the rewrite cost is proportional to the TOUCHED
    partitions only; commit granularity is per-partition directory
    (Hadoop FileOutputCommitter v1 semantics apply — for object
    stores, front with the snapshot layer's versioned publish
    instead).
    """
    parts = partition_by if partition_by is not None else STOCK_PARTITIONS
    (
        df.sortWithinPartitions("stock_ticker", "stock_date")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(path)
    )


def write_observed(df: DataFrame, path: str, partition_by: list[str],
                   metrics: dict | None = None) -> dict:
    """Append with INLINE write-audit metrics via Spark's Observation
    API — the load-job contract that reports what it wrote without a
    second scan: row count, null-key count, min/max of the partition
    columns, plus any caller-supplied named aggregate expressions.

    ``df.observe`` attaches the aggregates to the write job itself
    (computed by the same tasks that write the files), so the metrics
    are free — no post-write COUNT(*) re-scan, no race against a
    concurrent append between write and audit. Returns the observed
    metric dict; callers gate on it (the expectations layer's
    quality_report is the heavier, rule-based sibling for when
    verdicts must be per-row).
    """
    from pyspark.sql import Observation

    base = {
        "n_rows": F.count(F.lit(1)),
    }
    for c in partition_by:
        base[f"null_{c}"] = F.sum(
            F.when(F.col(c).isNull(), 1).otherwise(0)
        )
        base[f"min_{c}"] = F.min(c)
        base[f"max_{c}"] = F.max(c)
    if metrics:
        base.update(metrics)
    obs = Observation("write_audit")
    observed = df.observe(obs, *[v.alias(k) for k, v in base.items()])
    (
        observed.write.mode("append")
        .partitionBy(*partition_by)
        .parquet(path)
    )
    return dict(obs.get)
