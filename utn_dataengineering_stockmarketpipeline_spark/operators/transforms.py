"""Payload normalization (SURVEY.md §2.4 P1-P10).

The reference runs these eagerly in pandas, one statement at a time with
full materialization between steps (``API_manager.py:145-199``). Here
each normalizer is ONE lazy ``select`` — Catalyst fuses every rename,
cast, and derived column into the scan projection, so at 100 TB the
whole transform is a zero-shuffle map stage inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import date_parts, surrogate_key


def _maybe_drop(df: DataFrame, *cols: str) -> DataFrame:
    """P5: schema-drift-tolerant drop (API_manager.py:164-167).

    Spark's ``drop`` is already a no-op for missing columns, so the
    reference's hasattr-style conditionals collapse to one call.
    """
    return df.drop(*cols)


def normalize_stock_payload(raw: DataFrame, ticker: str | Column) -> DataFrame:
    """Raw EOD JSON rows → warehouse ``stock_prices`` shape.

    Implements P1 (literal ticker tag, API_manager.py:154), P2 (string→
    date, :156), P3 (date parts, :158-160), P4 (surrogate key, :162),
    P5 (drift drops, :164-167), P6 (renames, :169-182) as one projection.

    ``ticker`` may be a literal (single-ticker fetch, the reference's
    shape) or a Column (a multi-ticker batch where the ticker tag rides
    along with each row, as ``rest.fetch_stock`` returns it).
    """
    t = F.lit(ticker) if isinstance(ticker, str) else ticker
    raw = _maybe_drop(raw, "adjusted_close", "warning")
    d = F.to_date("date", "yyyy-MM-dd")
    y, m, day = date_parts(d)
    return raw.select(
        d.alias("stock_date"),
        F.col("open").cast("double").alias("stock_open"),
        F.col("high").cast("double").alias("stock_high"),
        F.col("low").cast("double").alias("stock_low"),
        F.col("close").cast("double").alias("stock_close"),
        F.col("volume").cast("long").alias("stock_volume"),
        t.alias("stock_ticker"),
        y,
        m,
        day,
        surrogate_key(d, t).alias("stock_key"),
    )


def normalize_market_payload(raw: DataFrame) -> DataFrame:
    """Raw exchange-symbol-list rows → warehouse ``markets`` shape.

    P7: keep only ``Type == 'Common Stock'`` then drop Type
    (API_manager.py:187,189); P6: the 6 renames (:191-197). The filter
    sits in the same projection stage, so it pushes to the scan.
    """
    return raw.filter(F.col("Type") == "Common Stock").select(
        F.col("Code").alias("market_stockid"),
        F.col("Name").alias("market_companyname"),
        F.col("Country").alias("market_country"),
        F.col("Exchange").alias("market_exchange"),
        F.col("Currency").alias("market_currency"),
        F.col("Isin").alias("market_stockisin"),
    )


def add_rolling_mean(
    prices: DataFrame, window_days: int = 30
) -> DataFrame:
    """P10/W2: 30-day rolling mean + deviation — the reference *declares*
    these columns (rename targets ``API_manager.py:180-181``) but never
    computes them; here they are a first-class window op.

    Row-frame window partitioned by ticker: one shuffle on the ticker
    key, then a streaming frame scan per partition. At 100 TB the
    per-ticker history (~250 rows/yr) is tiny, so skew is bounded by
    history length, not data volume.
    """
    w = (
        Window.partitionBy("stock_ticker")
        .orderBy("stock_date")
        .rowsBetween(-(window_days - 1), 0)
    )
    mean = F.avg("stock_close").over(w)
    return prices.select(
        "*",
        mean.alias("stock_30daymean"),
        (F.col("stock_close") - mean).alias("stock_dif_mean"),
    )


# -- incremental aggregation state (algebraic monoid merge) ------------------

#: Grouping keys of the monthly OHLC rollup state.
OHLC_KEYS = ("stock_ticker", "stock_year", "stock_month")


def ohlc_state(bars: DataFrame) -> DataFrame:
    """Monthly OHLC rollup as MERGEABLE STATE — the partial-aggregate
    form incremental view maintenance needs: every column is an
    algebraic (commutative-monoid) statistic, so two states built from
    disjoint bar sets merge into exactly the state of their union
    (:func:`ohlc_merge`), without rescanning history.

    open/close are NOT plain firsts: they carry their anchor dates
    (``first_date``/``last_date``) so a merge can decide which side's
    open/close survives — the trick that makes the non-commutative
    "first/last by time" reductions mergeable (min_by/max_by over the
    carried anchor). One partial-aggregated shuffle; same plan shape as
    the plain monthly rollup.
    """
    return bars.groupBy(*OHLC_KEYS).agg(
        F.min("stock_date").alias("first_date"),
        F.min_by("stock_open", "stock_date").alias("month_open"),
        F.max("stock_high").alias("month_high"),
        F.min("stock_low").alias("month_low"),
        F.max("stock_date").alias("last_date"),
        F.max_by("stock_close", "stock_date").alias("month_close"),
        F.sum("stock_volume").alias("month_volume"),
        F.count(F.lit(1)).alias("n_days"),
    )


def ohlc_merge(state_a: DataFrame, state_b: DataFrame) -> DataFrame:
    """Merge two OHLC states over DISJOINT bar sets (the nightly
    incremental load: yesterday's materialized state + today's batch
    state). Pure monoid algebra — min/max/sum combine directly,
    open/close resolve by their carried anchor dates — so the merge
    cost scales with |touched months|, never with history length.
    """
    both = state_a.unionByName(state_b)
    return both.groupBy(*OHLC_KEYS).agg(
        F.min("first_date").alias("first_date"),
        F.min_by("month_open", "first_date").alias("month_open"),
        F.max("month_high").alias("month_high"),
        F.min("month_low").alias("month_low"),
        F.max("last_date").alias("last_date"),
        F.max_by("month_close", "last_date").alias("month_close"),
        F.sum("month_volume").alias("month_volume"),
        F.sum("n_days").alias("n_days"),
    )
