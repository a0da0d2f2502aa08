"""Incremental-watermark state (SURVEY.md §2 S4, K4, T1, T3).

The reference persists per-ticker last-loaded dates in ``state.json``
(read ``API_manager.py:79-96``, write ``:100-113``) — with two bugs we
do not replicate: a double ``json.load`` on an exhausted handle and a
truncate-before-write that loses state on crash (SURVEY.md §2.9).

The Spark-native design needs no side state file at all: the sink itself
is the state. ``max(stock_date) per ticker`` over the warehouse table is
the exact watermark and is crash-consistent (it can't disagree with the
data). Its cost does not grow with history: the warehouse fact is
partitioned by ``(stock_year, stock_month)``, both parts of the date, so
a ticker's last date lies in the newest partition that holds its rows.
:func:`next_from_date` aggregates only the newest partition holding a
file, and looks further back only for tickers absent from it.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lake import STOCK_PARTITIONS

# Missing entity → fetch-everything sentinel (API_manager.py:91 uses
# "1990-1-1"; we normalize to ISO).
SENTINEL_DATE = "1990-01-01"

_LEAF = re.compile("".join(f"/{p}=(\\d+)" for p in STOCK_PARTITIONS) + "/")


def newest_partition(sink: DataFrame) -> Column | None:
    """Predicate selecting the newest ``(stock_year, stock_month)``
    partition that holds a data file of ``sink``, or ``None`` when no
    file lies in such a directory (an empty table, or a plain frame).

    The partition comes from the file listing, which runs no job.
    ``SHOW PARTITIONS`` would not do: it still lists a partition that
    ``TRUNCATE`` emptied, or that a static-partition insert of an empty
    select registered. Callers rely on this rule: a partition that
    holds a file holds rows. Every Spark write to the warehouse fact
    keeps it (appends, dynamic and static partition inserts and
    overwrites open a file only when a row arrives), but a file put
    into a partition directory by another writer may hold none.
    """
    leaves = {
        tuple(int(v) for v in m.groups())
        for f in sink.inputFiles()
        if (m := _LEAF.search(f))
    }
    if not leaves:
        return None
    newest = max(leaves)
    return F.struct(*STOCK_PARTITIONS) == F.struct(
        *[F.lit(v).alias(p) for p, v in zip(STOCK_PARTITIONS, newest)]
    )


def watermarks(sink: DataFrame, entity_col: str = "stock_ticker",
               date_col: str = "stock_date") -> DataFrame:
    """Last loaded date per entity: the replacement for state.json.

    Returns (entity, watermark_date), one distributed aggregate with a
    map-side partial MAX over every row of ``sink``.
    :func:`next_from_date` calls it on the newest partition only, and on
    the older ones for the entities that partition lacks.
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

    The aggregate reads the newest partition of ``sink`` as one
    partition (:func:`newest_partition`): a month of bars is small, and
    a one-partition aggregate needs no exchange, so it is one job
    whatever the history holds. Only tickers absent from that month
    take the distributed aggregate over the older ones. A ``sink``
    without year/month directories takes that aggregate whole.
    """

    def bounds(frame: DataFrame, names: list[str]) -> dict[str, str]:
        rows = (
            watermarks(frame.filter(F.col(entity_col).isin(names)),
                       entity_col, date_col)
            .select(entity_col,
                    F.date_add("watermark_date", 1).alias("next_date"))
            .collect()
        )
        return {r[0]: r[1].isoformat() for r in rows if r[1] is not None}

    newest = newest_partition(sink)
    if newest is None:
        found = bounds(sink, tickers)
    else:
        found = bounds(sink.filter(newest).coalesce(1), tickers)
        missing = [t for t in tickers if t not in found]
        if missing:
            found |= bounds(sink.filter(~newest), missing)
    return {t: found.get(t, SENTINEL_DATE) for t in tickers}
