"""SparkSession factory with scale-oriented defaults.

The reference runs a single Python process (``main.py:65-75``) — no
parallelism at all. Here every knob is set for a real cluster and merely
*sized down* by env vars for local runs:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting),
- broadcast threshold sized so dimension tables never shuffle,
- Arrow enabled so the few pandas-UDF operators batch-transfer,
- nanos-as-long so the driver's TIMESTAMP(NANOS) parquet is readable.

``local_df`` is the one path by which driver-side rows re-enter Spark.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
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

    Values convert as the list path converts them, plus lossless
    widening (an int into a double or decimal, a whole float into an
    integer: what the reference's ``pd.DataFrame.from_dict`` accepts).
    Anything else raises ``TypeError`` naming the column: a fractional
    float into an integer (Arrow alone would truncate it), a bool or a
    string into a number, a null into a non-nullable field. A naive
    datetime in a ``TimestampType`` column is local time of this
    process, as on the list path.
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
        try:
            if isinstance(values, list) and isinstance(dt, T.NumericType):
                integral = isinstance(dt, T.IntegralType)
                for v in values:
                    if isinstance(v, bool) or (
                        integral and isinstance(v, float) and not v.is_integer()
                    ):
                        raise TypeError(
                            f"{v!r} is not a lossless {dt.simpleString()}"
                        )
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
