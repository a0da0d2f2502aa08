"""Structured Streaming surface (SURVEY.md §2.9 T1-T4, §7 phase 4).

The reference implements incremental ingest by hand: a JSON state file
holding per-ticker low watermarks (``API_manager.py:79-113``), an
at-least-once HTTP source, and an idempotent PK anti-join sink
(``DB_manager.py:142-177``). Those are exactly the concepts Structured
Streaming provides natively:

- T1 low-watermark per key  → checkpoint + ``withWatermark``
- T2 at-least-once source + exactly-once sink
                            → ``foreachBatch`` running the SCD-0
                              anti-join append (operators/scd.py) — the
                              canonical idempotent-sink pattern; replayed
                              micro-batches vanish in the anti-join
- T3 monotonic state advance → checkpoint semantics (automatic)
- T4 full-refresh dim vs incremental fact
                            → batch overwrite vs append stream

Scale notes: the file source lists incrementally (no full re-scan per
trigger); windowed aggregations shuffle on (key, window) with partial
aggregation map-side; watermarks bound state size so a 100 TB/day event
stream holds only the open windows in state, not history. The stateful
operator uses ``applyInPandasWithState`` — Arrow-batched, state local to
the shuffle partition that owns the key.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source readStream over a parquet directory/glob.

    The schema must be explicit (streaming sources never infer). The
    file source tracks seen files in the checkpoint — the streaming
    replacement for the reference's per-entity ``state.json`` dates.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_agg(
    stream: DataFrame,
    ts_col: str,
    keys: Iterable[str],
    aggs: dict[str, str],
    window: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation.

    ``aggs`` maps output column name → "fn(col)" expression string.
    Output: (window_start, window_end, *keys, *aggs). Late rows beyond
    ``watermark_delay`` are dropped; state for closed windows is evicted
    — this is what bounds memory on an unbounded stream.
    """
    exprs = [F.expr(e).alias(name) for name, e in aggs.items()]
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window), *keys)
        .agg(*exprs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            *[name for name in aggs],
        )
    )


def scd0_sink(
    stream: DataFrame,
    target_path: str,
    key: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
):
    """Exactly-once SCD-0 sink: ``foreachBatch`` → anti-join append.

    Every micro-batch runs operators/scd.merge_append against the
    parquet target: only never-seen keys land, so source replays and
    batch re-deliveries are absorbed (T2). Returns the started query;
    callers use ``trigger(availableNow)`` semantics via
    ``.awaitTermination()`` for batch-drain runs.
    """
    from ..operators.scd import merge_append

    def write_batch(batch: DataFrame, _batch_id: int) -> None:
        merge_append(batch, target_path, key, partition_by)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    watermark_delay: str = "10 minutes",
    lookback: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event
    with right events of the same key where
    ``right_ts ∈ [left_ts - lookback, left_ts]``.

    Both sides carry watermarks and the join condition bounds event
    time in both directions — that is what lets Spark EVICT join state
    (without the bound, each side buffers the other forever). The
    equi-key keeps it a shuffle-hash join on (key), never a broadcast
    of an unbounded stream.
    """
    l = left.withWatermark(left_ts, watermark_delay).alias("l")
    r = right.withWatermark(right_ts, watermark_delay).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lookback}")
        )
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    return l.join(r, cond, "inner")


# --- custom stateful operator (applyInPandasWithState) ----------------------

_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("group_key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_TOTALS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def stateful_running_totals(
    stream: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Per-key running (count, sum) across micro-batches — a custom
    stateful operator the built-in aggs can't express in append-style
    pipelines (state survives between triggers and is emitted
    incrementally, not at window close).

    Arrow-batched ``applyInPandasWithState``; state is one (n, total)
    row per key, co-located with the key's shuffle partition.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"group_key": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        stream.select(F.col(key_col).cast("string").alias("group_key"), value_col)
        .groupBy("group_key")
        .applyInPandasWithState(
            update,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_QUOTA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_admitted", T.LongType()),
        T.StructField("n_dropped", T.LongType()),
    ]
)


def stateful_quota_admission(
    stream: DataFrame, key_col: str = "user_id", k: int = 5
) -> DataFrame:
    """Per-key streaming QUOTA admission: each key may admit at most
    ``k`` events; the rest are counted as dropped — the ingestion
    rate-cap every multi-tenant event pipeline runs (per-user flood
    control ahead of expensive enrichment).

    Emits one (key, n_admitted, n_dropped) row per key per micro-batch
    in update mode; both outputs are MONOTONE in the running count, so
    the final row per key equals the batch truth LEAST(k, n) /
    GREATEST(n - k, 0) regardless of arrival order or batch split —
    which is exactly what the DuckDB oracle states.

    State is ONE bigint counter per key (``applyInPandasWithState``),
    co-located with the key's shuffle partition and
    checkpoint-persisted; at 100 TB the state size is O(distinct
    keys), independent of event volume.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_admitted": [min(k, n)],
                "n_dropped": [max(n - k, 0)],
            }
        )

    return (
        stream.select(F.col(key_col).cast("long").alias("user_id"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_QUOTA_SCHEMA,
            stateStructType=T.StructType([T.StructField("n", T.LongType())]),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def quarantine_sink(
    stream: DataFrame,
    rules: dict[str, Any],
    clean_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
):
    """Streaming data-quality gate: every micro-batch splits through
    operators/expectations.quarantine_split — clean rows append to the
    serving sink, violating rows (WITH their violation tags) to the
    quarantine sink for triage. The ingestion shape every production
    feed runs: bad rows must neither poison the serving table nor
    vanish.

    Row verdicts are pure projections (micro-batch-independent), so
    the drained (clean, quarantine) pair equals the batch split of the
    union of all inputs regardless of how files batch — the
    stream==batch convergence contract the other drains pin. Each
    micro-batch lands in its own ``batch_id=N`` partition directory
    with OVERWRITE (not a bare append): foreachBatch is at-least-once,
    so a crash between the two writes replays the batch, and the
    replay must land on the same target, not duplicate it. Readers see
    ``batch_id`` as a discovered partition column (provenance for
    free). Returns the started availableNow query."""
    from ..operators.expectations import quarantine_split

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        clean, bad = quarantine_split(batch, rules)
        clean.write.mode("overwrite").parquet(
            f"{clean_path}/batch_id={batch_id}"
        )
        bad.write.mode("overwrite").parquet(
            f"{quarantine_path}/batch_id={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
