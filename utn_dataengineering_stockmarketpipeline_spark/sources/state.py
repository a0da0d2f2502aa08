"""Incremental-watermark state (SURVEY.md §2 S4, K4, T1, T3).

The reference persists per-ticker last-loaded dates in ``state.json``
(read ``API_manager.py:79-96``, write ``:100-113``) — with two bugs we
do not replicate: a double ``json.load`` on an exhausted handle and a
truncate-before-write that loses state on crash (SURVEY.md §2.9).

The Spark-native design needs no side state file at all: the sink itself
is the state. ``max(stock_date) per ticker`` over the warehouse table is
the exact watermark, is crash-consistent (it can't disagree with the
data), and is a cheap aggregate with a map-side partial MAX.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Missing entity → fetch-everything sentinel (API_manager.py:91 uses
# "1990-1-1"; we normalize to ISO).
SENTINEL_DATE = "1990-01-01"


def watermarks(sink: DataFrame, entity_col: str = "stock_ticker",
               date_col: str = "stock_date") -> DataFrame:
    """Last loaded date per entity: the replacement for state.json.

    Returns (entity, watermark_date). Map-side partial MAX makes this a
    tiny shuffle even over a 100 TB fact table. The warehouse fact is
    partitioned by year/month, so a caller that bounds the lookback with
    a filter on those columns reads only recent partitions;
    :func:`next_from_date` sets no bound (a ticker's last date may lie
    in any month) and scans them all.
    """
    return sink.groupBy(F.col(entity_col)).agg(
        F.max(F.col(date_col)).alias("watermark_date")
    )


def next_from_date(sink: DataFrame, tickers: list[str],
                   entity_col: str = "stock_ticker",
                   date_col: str = "stock_date") -> dict[str, str]:
    """``from`` bound per ticker for the next incremental pull:
    watermark + 1 day, all tickers from one aggregate.

    Mirrors API_manager.py:125 (state + 1 day) with the missing-entity
    sentinel of API_manager.py:91.
    """
    rows = (
        watermarks(sink.filter(F.col(entity_col).isin(tickers)),
                   entity_col, date_col)
        .select(entity_col, F.date_add("watermark_date", 1).alias("next_date"))
        .collect()
    )
    found = {r[0]: r[1].isoformat() for r in rows if r[1] is not None}
    return {t: found.get(t, SENTINEL_DATE) for t in tickers}
