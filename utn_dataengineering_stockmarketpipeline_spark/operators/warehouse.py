"""Warehouse surface — the reference's DB_manager re-expressed on the
Spark catalog (SURVEY.md §2.3 D1-D5, §2.2 K3/K5, §2.5 J1/J2).

The reference manages a Postgres warehouse: two schemas (``stage``,
``datawarehouse``), typed DDL, truncate-and-reload stage loads, and
SCD-0 inserts (``DB_manager.py:39-179``). Spark's catalog + managed
parquet tables express the same surface without the stage *network* hop
— the stage keeps its role as the validated landing zone, but the load
is a metadata-cheap INSERT OVERWRITE, and the warehouse commit is the
same left-anti append the reference runs in SQL.

Layout: warehouse ``stock_prices`` is partitioned by
``(stock_year, stock_month)``, the bronze lake's layout; ``markets`` and
both stage tables are unpartitioned. ``insertInto`` maps columns by
position, so every table stores its partition columns last
(``_columns``) and every write selects in that order.

The SCD-0 commit costs the batch, not the history. The stage write
observes the batch's lowest (year, month) beside its row count, and the
commit's anti-join reads only warehouse partitions at or after it. That
is exact: ``stock_key`` is ``date/ticker``, so two rows with one key
share a partition. The commit reads the stage as one partition: it holds
one batch, which entered Spark from the driver as one partition, so its
``dropDuplicates`` needs no exchange.

Empty appends: an append to a partitioned table opens a file only when
a row arrives, so a commit of 0 new rows writes nothing. An append to an
unpartitioned table writes an empty parquet file even for 0 rows, so a
``markets`` commit probes ``isEmpty()`` first and skips the append.

At scale: managed tables here are plain parquet; a production
deployment swaps in a transactional format for concurrent writers —
the API is format-agnostic on purpose.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField

from ..schemas import MARKETS, STOCK_PRICES
from ..sources.lake import STOCK_PARTITIONS
from .scd import new_rows

STAGE = "stage"
WAREHOUSE = "datawarehouse"

# table name → (StructType, SCD-0 key, warehouse partition columns) —
# DDL parity with DB_manager.py:43-86.
_TABLES = {
    "stock_prices": (STOCK_PRICES, "stock_key", tuple(STOCK_PARTITIONS)),
    "markets": (MARKETS, "market_stockid", ()),
}


def _columns(table: str) -> list[StructField]:
    """``table``'s fields in storage order: partition columns last,
    because ``insertInto`` maps columns by position."""
    schema, _, parts = _TABLES[table]
    return [f for f in schema.fields if f.name not in parts] + [
        schema[p] for p in parts
    ]


def create_tables(spark: SparkSession, stage: str = STAGE,
                  warehouse: str = WAREHOUSE) -> None:
    """D1: CREATE SCHEMA / CREATE TABLE IF NOT EXISTS
    (``createTables`` DB_manager.py:39-90): 2 databases x 2 tables,
    explicit types. Spark has no engine PKs — key uniqueness is the
    SCD-0 invariant, asserted in tests.

    IF NOT EXISTS keeps a table of an older layout, which positional
    ``insertInto`` would load into the wrong columns, so an existing
    table whose columns or partitioning differ raises ``ValueError``."""
    for db in (stage, warehouse):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    for table, (_, _, parts) in _TABLES.items():
        cols = _columns(table)
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in cols)
        want = [f.name for f in cols]
        for db, p in ((stage, ()), (warehouse, parts)):
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS `{db}`.`{table}` ({ddl}) "
                "USING PARQUET"
                + (f" PARTITIONED BY ({', '.join(p)})" if p else "")
            )
            # DESCRIBE runs no job (catalog.listColumns runs two)
            desc = json.loads(spark.sql(
                f"DESCRIBE TABLE EXTENDED `{db}`.`{table}` AS JSON"
            ).first()[0])
            layout = (
                [c["name"] for c in desc["columns"]],
                desc.get("partition_columns", []),
            )
            if layout != (want, list(p)):
                raise ValueError(
                    f"`{db}`.`{table}` has columns {layout[0]} partitioned by "
                    f"{layout[1]}; expected columns {want} partitioned by "
                    f"{list(p)}. Recreate it in that layout (delete_schemas, "
                    "then a full load)."
                )


def truncate_table(spark: SparkSession, db: str, table: str) -> None:
    """D2 (``truncate_table`` DB_manager.py:93-95)."""
    spark.sql(f"TRUNCATE TABLE `{db}`.`{table}`")


def delete_schemas(spark: SparkSession, stage: str = STAGE,
                   warehouse: str = WAREHOUSE) -> None:
    """D3: DROP SCHEMA … CASCADE — the full reset used by ``reboot.py``
    (``delete_schemas`` DB_manager.py:98-103)."""
    for db in (stage, warehouse):
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")


def make_query(spark: SparkSession, query: str) -> DataFrame:
    """D4: the generic SQL executor (``makeQuery`` DB_manager.py:29-35).
    Spark SQL *is* the engine's query surface; no catch-and-print —
    callers get real exceptions (E2 improved)."""
    return spark.sql(query)


def save_to_stage(spark: SparkSession, table: str, df: DataFrame,
                  stage: str = STAGE) -> tuple[int, Row | None]:
    """K3: truncate-and-reload the stage table
    (``save_to_stage`` DB_manager.py:107-136). One INSERT OVERWRITE —
    atomic per partition set, no row-oriented INSERT loop.

    Returns the row count the reference prints (:109) and the batch's
    lowest warehouse partition tuple, the ``since`` bound of
    :func:`commit_to_warehouse` (``None`` for an unpartitioned table or
    an empty batch). Both are observed by the INSERT job itself, so the
    stage is never read back."""
    _, _, parts = _TABLES[table]
    aggs = [F.count(F.lit(1)).alias("n")]
    if parts:
        aggs.append(F.min(F.struct(*parts)).alias("lo"))
    obs = Observation()
    df.select(*[f.name for f in _columns(table)]).observe(obs, *aggs).write.mode(
        "overwrite"
    ).insertInto(f"`{stage}`.`{table}`")
    got = obs.get
    return got["n"], got.get("lo")


def pending_rows(spark: SparkSession, table: str, since: Row | None = None,
                 stage: str = STAGE,
                 warehouse: str = WAREHOUSE) -> DataFrame:
    """Stage rows whose key is absent from the warehouse, in storage
    order: what :func:`commit_to_warehouse` appends. A ``since``
    partition tuple limits the warehouse scan to partitions at or after
    it; ``None`` scans the whole table. The stage is read as one
    partition (one batch), so deduplicating it needs no exchange."""
    _, key, parts = _TABLES[table]
    prune = None
    if since is not None:
        lo = F.struct(*[F.lit(since[p]).alias(p) for p in parts])
        prune = F.struct(*parts) >= lo
    # re-align: the USING-key anti-join moves the key column first and
    # insertInto maps by POSITION, not name.
    return new_rows(
        spark.table(f"`{stage}`.`{table}`").coalesce(1),
        spark.table(f"`{warehouse}`.`{table}`"),
        key,
        prune,
    ).select(*[f.name for f in _columns(table)])


def commit_to_warehouse(spark: SparkSession, table: str,
                        stage: str = STAGE,
                        warehouse: str = WAREHOUSE,
                        since: Row | None = None) -> int:
    """J1/J2: SCD-0 commit — append stage rows whose key is absent from
    the warehouse (``commit_to_warehouse`` DB_manager.py:140-179, the
    LEFT JOIN … IS NULL anti-join). Returns rows inserted (:179).

    ``since`` is the stage batch's lowest partition tuple, as
    :func:`save_to_stage` returns it: the anti-join then reads only the
    warehouse partitions that can hold one of the batch's keys. One
    observed append; an unpartitioned target probes ``isEmpty()`` first,
    because an empty append to it writes an empty parquet file."""
    _, _, parts = _TABLES[table]
    fresh = pending_rows(spark, table, since, stage, warehouse)
    if not parts and fresh.isEmpty():
        return 0
    obs = Observation()
    fresh.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).insertInto(f"`{warehouse}`.`{table}`")
    return obs.get["n"]


def show_preview(df: DataFrame, n: int = 3) -> None:
    """K5: console sink (``API_manager.py:59`` head(3) preview)."""
    df.show(n)
