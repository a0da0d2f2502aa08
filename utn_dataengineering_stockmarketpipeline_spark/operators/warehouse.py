"""Warehouse surface — the reference's DB_manager re-expressed on the
Spark catalog (SURVEY.md §2.3 D1-D5, §2.2 K3/K5, §2.5 J1/J2).

The reference manages a Postgres warehouse: two schemas (``stage``,
``datawarehouse``), typed DDL, truncate-and-reload stage loads, and
SCD-0 inserts (``DB_manager.py:39-179``). Spark's catalog + managed
parquet tables express the same surface without the stage *network* hop
— the stage keeps its role as the validated landing zone, but the load
is a metadata-cheap INSERT OVERWRITE, and the warehouse commit is the
same left-anti append the reference runs in SQL.

At scale: managed tables here are plain parquet; a production
deployment swaps in a transactional format for concurrent writers —
the API is format-agnostic on purpose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schemas import MARKETS, STOCK_PRICES
from .scd import new_rows

STAGE = "stage"
WAREHOUSE = "datawarehouse"

# table name → (StructType, SCD-0 key) — DDL parity with
# DB_manager.py:43-86.
_TABLES = {
    "stock_prices": (STOCK_PRICES, "stock_key"),
    "markets": (MARKETS, "market_stockid"),
}


def _ddl(schema) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


def create_tables(spark: SparkSession, stage: str = STAGE,
                  warehouse: str = WAREHOUSE) -> None:
    """D1: CREATE SCHEMA / CREATE TABLE IF NOT EXISTS
    (``createTables`` DB_manager.py:39-90): 2 databases x 2 tables,
    explicit types. Spark has no engine PKs — key uniqueness is the
    SCD-0 invariant, asserted in tests."""
    for db in (stage, warehouse):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    for table, (schema, _) in _TABLES.items():
        for db in (stage, warehouse):
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS `{db}`.`{table}` "
                f"({_ddl(schema)}) USING PARQUET"
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
                  stage: str = STAGE) -> int:
    """K3: truncate-and-reload the stage table
    (``save_to_stage`` DB_manager.py:107-136). One INSERT OVERWRITE —
    atomic per partition set, no row-oriented INSERT loop — returns the
    row count the reference prints (:109): rows written, observed by the
    INSERT job itself, so the stage is never read back."""
    schema, _ = _TABLES[table]
    obs = Observation()
    df.select(*[c.name for c in schema.fields]).observe(
        obs, F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").insertInto(f"`{stage}`.`{table}`")
    return obs.get["n"]


def commit_to_warehouse(spark: SparkSession, table: str,
                        stage: str = STAGE,
                        warehouse: str = WAREHOUSE) -> int:
    """J1/J2: SCD-0 commit — append stage rows whose key is absent from
    the warehouse (``commit_to_warehouse`` DB_manager.py:140-179, the
    LEFT JOIN … IS NULL anti-join). Returns rows inserted (:179)."""
    schema, key = _TABLES[table]
    stg = spark.table(f"`{stage}`.`{table}`")
    tgt = spark.table(f"`{warehouse}`.`{table}`")
    # re-align: the USING-key anti-join moves the key column first and
    # insertInto maps by POSITION, not name.
    # persist: count + append must see the SAME anti-join result (a lazy
    # plan would re-run it against the table we just appended to)
    fresh = (
        new_rows(stg, tgt, key).select(*[c.name for c in schema.fields]).persist()
    )
    try:
        n = fresh.count()
        if n:
            fresh.write.mode("append").insertInto(f"`{warehouse}`.`{table}`")
    finally:
        fresh.unpersist()
    return n


def show_preview(df: DataFrame, n: int = 3) -> None:
    """K5: console sink (``API_manager.py:59`` head(3) preview)."""
    df.show(n)
