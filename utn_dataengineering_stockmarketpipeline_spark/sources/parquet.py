"""Parquet scan layer (SURVEY.md §2 S6).

One loader per driver table. The only re-typing done here is the
``events.ts`` column, whose parquet unit has varied across driver
rounds: TIMESTAMP(MICROS) reads natively; TIMESTAMP(NANOS) reads as
nano-epoch long (``spark.sql.legacy.parquet.nanosAsLong``) and is
truncated to microsecond timestamps — exactly what DuckDB's
TIMESTAMP_NS→TIMESTAMP cast does, so oracles agree either way. The
truncation is guarded by the observed dtype, so it only fires for the
nanos encoding.

Everything else is a bare ``spark.read.parquet`` so Catalyst keeps full
pushdown freedom (PushedFilters / ReadSchema reach the scan node). Spark
infers a parquet schema with a job that reads the file footers; the
schema of each file is inferred once and handed back to later reads of
the same file, which then run no job before the query's own.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (path, mtime_ns, size) -> the schema Spark inferred for that file.
# mtime and size are in the key so a file rewritten in place, possibly
# with another schema (events.ts has shipped in two time units), is
# inferred again instead of read with a stale schema.
_SCHEMA_CACHE: dict[tuple[str, int, int], T.StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring its schema only on the
    first read of this version of the file. A path ``os.stat`` cannot
    see (a remote URI) is read, and inferred, every time."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table; ``events`` gets its nanos→micros re-type.

    Both configs are set at runtime (they are SQL confs) because callers
    may hand us a session built without them — e.g. the driver's own
    harness session:
    - nanosAsLong: a NANOS-encoded events.parquet is unreadable
      otherwise (no-op for the MICROS encoding);
    - UTC session timezone: parquet timestamps are naive instants; the
      DuckDB oracle renders them as stored, so Spark must too.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: `/` would go through double, and nano-epoch
        # values exceed 2^53 — the float round-trip is off by ±1 µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view for spark.sql access."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
