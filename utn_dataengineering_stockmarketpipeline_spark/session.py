"""SparkSession factory with scale-oriented defaults.

The reference runs a single Python process (``main.py:65-75``) — no
parallelism at all. Here every knob is set for a real cluster and merely
*sized down* by env vars for local runs:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting),
- broadcast threshold sized so dimension tables never shuffle,
- Arrow enabled so the few pandas-UDF operators batch-transfer,
- nanos-as-long so the driver's TIMESTAMP(NANOS) parquet is readable.

``local_df`` is the one path by which driver-side rows re-enter Spark,
and :func:`lossless` the one numeric check every row source applies.
:func:`materialize` is the one way a frame is computed only to fill its
cache or checkpoint.
"""

from __future__ import annotations

import numbers
import os
from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import types as T

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "utn-stockmarket-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` sizes local parallelism; on a real cluster the
    master/executor topology comes from spark-submit and these local
    settings are ignored.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", shuffle)
        # AQE: coalesce tiny shuffle partitions, split skewed ones, and
        # convert to broadcast joins at runtime when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables here are ≤ a few MB; broadcast aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Arrow for pandas_udf / mapInPandas extension operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet has shipped as TIMESTAMP(NANOS) or (MICROS)
        # across driver rounds; this flag makes the nanos variant read as
        # long (sources/parquet.py re-types it) and is a no-op for micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Target split size — at 100 TB this keeps ~128MB tasks; local SFs
        # produce a handful of splits, which AQE coalesces anyway.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def lossless(field: T.StructField, value: Any) -> Any:
    """``value`` as a number of ``field``'s type, or ``TypeError``
    naming the column when that would lose or invent information.

    Lossless widening is accepted, as the reference's
    ``pd.DataFrame.from_dict`` accepts it: an int into a double (100 →
    100.0) and a whole float into an integer (12345.0 → 12345). A
    fractional float into an integer (Arrow and the Python DataSource
    would both truncate 1.5 to 1), a bool and a non-number raise.
    Non-numeric fields and nulls pass through unchanged.
    """
    dt = field.dataType
    if value is None or not isinstance(dt, T.NumericType):
        return value
    integral = isinstance(dt, T.IntegralType)
    if (
        isinstance(value, bool)
        or not isinstance(value, numbers.Number)
        or (integral and isinstance(value, float) and not value.is_integer())
    ):
        raise TypeError(
            f"column {field.name!r}: {value!r} is not a lossless "
            f"{dt.simpleString()}"
        )
    if integral and isinstance(value, float):
        return int(value)
    if isinstance(dt, (T.DoubleType, T.FloatType)) and isinstance(value, int):
        return float(value)
    return value


def materialize(df: DataFrame, **aggs: Column) -> Row:
    """Run ``df`` once, for its side effects, and return the aggregates
    ``aggs`` (name → aggregate column) evaluated over its rows.

    The one job fills ``df``'s ``persist()`` or lazy
    ``localCheckpoint(eager=False)`` (a ``noop`` write scans every
    row and keeps none) while an ``Observation`` computes the
    aggregates as the rows stream past. A ``count()`` after a
    checkpoint, or beside a persist, is a second job over the same
    rows: under AQE a count alone is two jobs (its partial-aggregate
    exchange and the final one). Over zero rows a count observes 0 and
    a sum ``None``.
    """
    if aggs:
        obs = Observation()
        df = df.observe(obs, *[c.alias(k) for k, c in aggs.items()])
    df.write.format("noop").mode("overwrite").save()
    return Row(**obs.get) if aggs else Row()


def local_df(
    spark: SparkSession,
    data: Sequence[Sequence[Any]] | Any,
    schema: T.StructType | str,
) -> DataFrame:
    """The one way driver data re-enters Spark: rows (tuples or Rows in
    ``schema`` order) or a pandas frame (columns by position) become a
    ``pyarrow.Table``, which plans as a ``LocalRelation``.

    ``createDataFrame`` on a list plans a ``LogicalRDD``: PySpark
    re-serializes the pickled rows through a Python-worker ``map``
    (``RDD._reserialize``), so every scan of the frame, and every
    broadcast build over it, is a distributed job run in Python workers.
    A pandas frame takes the Arrow path only while
    ``spark.sql.execution.arrow.pyspark.enabled`` is on, which a vanilla
    session leaves off. An Arrow table is a ``LocalRelation`` whatever
    that conf says: scanning it runs no task and broadcasting it is a
    driver-side collect (the streaming SCD2 merge loop measured 5.7 →
    2.5 s when its per-batch state stopped costing 6-7 jobs).

    Values convert as the list path converts them; numbers go through
    :func:`lossless`. Anything else raises ``TypeError`` naming the
    column: a value Arrow cannot convert, a null into a non-nullable
    field. A naive datetime in a ``TimestampType`` column is local time
    of this process, as on the list path.
    """
    import datetime

    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    width = len(schema.fields)
    if isinstance(data, pd.DataFrame):
        columns = [data.iloc[:, i] for i in range(width)]
    else:
        columns = [[row[i] for row in data] for i in range(width)]
    arrays = []
    for field, arrow_type, values in zip(
        schema.fields, arrow_schema.types, columns
    ):
        dt = field.dataType
        if isinstance(values, list) and isinstance(dt, T.NumericType):
            values = [lossless(field, v) for v in values]
        try:
            if isinstance(values, list) and isinstance(dt, T.TimestampType):
                values = [
                    v.astimezone()
                    if isinstance(v, datetime.datetime) and v.tzinfo is None
                    else v
                    for v in values
                ]
            array = pa.array(values, type=arrow_type)
        except (TypeError, ValueError, OverflowError) as e:
            raise TypeError(
                f"local_df: column {field.name!r} ({dt.simpleString()}): {e}"
            ) from e
        if not field.nullable and array.null_count:
            raise TypeError(
                f"local_df: null in non-nullable column {field.name!r}"
            )
        arrays.append(array)
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )
