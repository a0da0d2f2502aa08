"""Streaming queries in the catalog (SURVEY.md §2.9, §7 phase 4).

These run REAL Structured Streaming plans — file source, watermark,
tumbling window — drained with an ``availableNow`` trigger so the result
is a bounded DataFrame the driver can compare. The drained memory sink
IS the result (the Structured Streaming model: the sink holds the
query's output once the stream is drained), so a drain returns a frame
over the sink (``_drain``) and runs no further job of its own; the
rows are plain values that no longer depend on the drain's scoped
confs, and the sink's temp view is dropped once the frame is resolved.
The hourly aggregation is oracle-checked against the same batch SQL as ``ana_events_hourly``: a
correct streaming engine must converge to the batch answer once the
stream is fully drained (complete mode ignores the watermark for
emission, so no windows are withheld).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_df
from .catalog import register
from .confscope import scoped_sql_conf

def _scoped_conf(spark: SparkSession, **settings: str):
    """Context manager: set session confs, restore originals on exit
    (shared helper — see :mod:`..plans.confscope` for the leak/race
    rationale). E.g. ``spark.sql.legacy.parquet.nanosAsLong`` changes
    how *batch* reads of events.parquet parse ``ts``, so a leaked set
    would make later batch queries depend on driver iteration order.
    """
    return scoped_sql_conf(spark, **settings)


def _capped_state_partitions(spark: SparkSession, n: int = 32):
    """Cap shuffle partitions for a streaming drain (restored on exit).

    A streaming query creates one state store per shuffle partition at
    START and keeps it for the checkpoint's lifetime; inheriting a
    batch-tuned 200 means 200 tiny HDFS-backed stores for a bounded
    drain.
    """
    return _scoped_conf(spark, **{"spark.sql.shuffle.partitions": str(n)})


def _streaming_events_conf(spark: SparkSession, n_partitions: int = 8):
    """All conf a bounded events-stream drain needs, scoped:

    - UTC session timezone so window bounds match the UTC-epoch oracle;
    - ``nanosAsLong`` so the TIMESTAMP(NANOS) parquet column reads as
      long (converted to a real timestamp via ``timestamp_micros``);
    - capped shuffle partitions. Stateful operators pay per-partition
      state-store commit overhead EVERY micro-batch regardless of row
      volume (measured: the interval-join drain is 8s at 32 partitions,
      2.6s at 8 — pure fixed cost). Size partitions to stream volume:
      8 fits these sf-scale drains; a production stream sizes up with
      throughput, where the same fixed cost amortizes.
    """
    return _scoped_conf(
        spark,
        **{
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.shuffle.partitions": str(n_partitions),
        },
    )


_EVENTS_LONG_TS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_EVENTS_MICROS_TS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),  # TIMESTAMP(MICROS), native
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# (path, mtime_ns, size) -> parquet time unit of events.ts ('ns'|'us').
# The driver has shipped BOTH encodings across rounds, so the unit is
# probed from file metadata, never assumed — assuming nanos against a
# micros file slides every timestamp 1000x toward the epoch and silently
# wrecks windows. The cache key includes mtime+size so a file
# regenerated in place with the other unit re-probes instead of reusing
# a stale answer (the footer probe is a cheap metadata read anyway).
_TS_UNIT_CACHE: dict[tuple[str, int, int], str] = {}


def _events_ts_unit(sf_dir: str) -> str:
    """Physical time unit of ``events.ts`` in this directory's parquet."""
    import os

    path = f"{sf_dir}/events.parquet"
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    unit = _TS_UNIT_CACHE.get(key)
    if unit is None:
        import pyarrow.parquet as pq

        typ = pq.ParquetFile(path).schema_arrow.field("ts").type
        unit = getattr(typ, "unit", "us")
        _TS_UNIT_CACHE[key] = unit
    return unit


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet with ``ts`` as a proper
    microsecond TimestampType, whatever the file's physical unit.

    - TIMESTAMP(MICROS): read natively with a TimestampType schema.
    - TIMESTAMP(NANOS): Spark can't read nanos as timestamps; read the
      column as nano-epoch long (``nanosAsLong``, set by the enclosing
      ``_streaming_events_conf``) and truncate. Integer division: ``/``
      routes through double and nano-epoch values exceed 2^53, so the
      float round-trip is off by ±1 µs.
    """
    if _events_ts_unit(sf_dir) == "ns":
        return (
            spark.readStream.schema(_EVENTS_LONG_TS)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    return (
        spark.readStream.schema(_EVENTS_MICROS_TS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _drain(stream: DataFrame, prefix: str, output_mode: str) -> DataFrame:
    """Drain ``stream`` with an ``availableNow`` trigger into a memory
    sink named ``prefix`` + a fresh id, and return the sink's rows.

    The frame is resolved before the sink's temp view is dropped: it
    keeps reading the drained rows, and no build leaves a view (and
    the rows it holds) behind in the session. Call it inside the
    drain's conf scope."""
    spark = stream.sparkSession
    name = prefix + uuid.uuid4().hex[:12]
    (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


@register(
    "stream_events_hourly",
    """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc="Structured Streaming tumbling 1h window over the events file "
        "source (watermarked, availableNow drain to memory sink) — must "
        "equal the batch aggregation, which is the DuckDB oracle",
    tags=("streaming", "window", "events"),
)
def q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _streaming_events_conf(spark):
        raw = _events_stream(spark, sf_dir)
        agg = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                    "total_value"
                ),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        out = _drain(agg, "stream_hourly_", "complete")
    return out


@register(
    "stream_purchase_error_join",
    """
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
           FROM events),
p AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM e
      WHERE event_type = 'purchase'),
er AS (SELECT user_id, ts AS e_ts, event_id AS e_id FROM e
       WHERE event_type = 'error')
SELECT p.user_id, p_id, e_id
FROM p JOIN er ON p.user_id = er.user_id
  AND e_ts >= p_ts - INTERVAL 30 MINUTE AND e_ts <= p_ts
""",
    doc="watermarked stream-stream interval join (purchases x same-user "
        "errors within the prior 30 min), availableNow-drained — must "
        "equal the batch interval join, which is the DuckDB oracle",
    tags=("streaming", "join", "interval"),
)
def q_stream_purchase_error_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import stream_stream_join

    with _streaming_events_conf(spark):
        raw = _events_stream(spark, sf_dir)

        def side(etype: str, prefix: str) -> DataFrame:
            return raw.filter(F.col("event_type") == etype).select(
                "user_id",
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("event_id").alias(f"{prefix}_id"),
            )

        joined = stream_stream_join(
            side("purchase", "p"),
            side("error", "e"),
            on="user_id",
            left_ts="p_ts",
            right_ts="e_ts",
        ).select(F.col("l.user_id").alias("user_id"), "p_id", "e_id")

        out = _drain(joined, "stream_ssj_", "append")
    return out


@register(
    "stream_static_enrich",
    """
SELECT n.n_name AS nation, e.event_type, COUNT(*) AS n_events
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY n.n_name, e.event_type
""",
    doc="STREAM-STATIC join drain (the third Structured Streaming join "
        "shape next to stream-stream and stateful): the event stream "
        "enriches against a static dimension loaded per micro-batch — "
        "Spark broadcasts the dim side, so the stream never shuffles "
        "for the join; counts then aggregate in complete mode. Must "
        "equal the batch join+aggregate, which is the oracle",
    tags=("streaming", "join", "static"),
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.parquet import load_table

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    with _streaming_events_conf(spark):
        raw = _events_stream(spark, sf_dir)
        enriched = raw.withColumn(
            "n_nationkey", (F.col("user_id") % 25).cast("long")
        ).join(F.broadcast(nation), "n_nationkey")
        agg = enriched.groupBy("nation", "event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        out = _drain(agg, "stream_enrich_", "complete")
    return out


@register(
    "stream_stateful_totals",
    """
SELECT CAST(user_id % 8 AS VARCHAR) AS group_key,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_value
FROM events GROUP BY 1
""",
    doc="custom stateful operator (applyInPandasWithState): per-key "
        "running (count, sum) carried in partition-local state across "
        "micro-batches, update-mode emission. Drained availableNow; the "
        "FINAL state per key must equal the batch GROUP BY, which is "
        "the DuckDB oracle (totals rounded to 2 dp: state accumulates "
        "in float64, the oracle in DECIMAL)",
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import stateful_running_totals

    with _streaming_events_conf(spark):
        # key on a mod-8 user cohort: few enough keys that the
        # oracle output is readable, many enough to exercise
        # cross-partition state
        raw = _events_stream(spark, sf_dir).select(
            (F.col("user_id") % 8).alias("cohort"), "value"
        )
        totals = stateful_running_totals(raw, "cohort", "value")
        drained = _drain(totals, "stream_totals_", "update")
        # update mode emits one row per key per micro-batch; the final
        # state per key is the row with the largest running count
        out = (
            drained.groupBy("group_key")
            .agg(
                F.max("n_events").alias("n_events"),
                F.round(F.max_by("total_value", "n_events"), 2).alias(
                    "total_value"
                ),
            )
        )
    return out


@register(
    "stream_quota_admission",
    """
SELECT user_id,
       LEAST(5, COUNT(*)) AS n_admitted,
       GREATEST(COUNT(*) - 5, 0) AS n_dropped
FROM events GROUP BY user_id
""",
    doc="per-key streaming quota admission: each user admits at most "
        "5 events, the rest count as dropped — multi-tenant flood "
        "control ahead of enrichment. One bigint of state per key "
        "(applyInPandasWithState); admitted/"
        "dropped are monotone in the running count, so the final "
        "update-mode row per key equals the batch LEAST/GREATEST "
        "truth regardless of arrival order or batch split (the oracle)",
    tags=("streaming", "stateful", "quota"),
)
def q_stream_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import stateful_quota_admission

    with _streaming_events_conf(spark):
        raw = _events_stream(spark, sf_dir).select("user_id")
        quota = stateful_quota_admission(raw, "user_id", k=5)
        drained = _drain(quota, "stream_quota_", "update")
        # update mode: one row per key per micro-batch; both outputs
        # are monotone, so the final state is the per-key max
        out = (
            drained.groupBy("user_id")
            .agg(
                F.max("n_admitted").alias("n_admitted"),
                F.max("n_dropped").alias("n_dropped"),
            )
        )
    return out


@register(
    "stream_dedup_events",
    """
SELECT event_type, COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
    doc="at-least-once -> exactly-once via streaming dropDuplicates: the "
        "source is deliberately DOUBLED (union of two readStreams over "
        "the same files — every event delivered twice), watermarked "
        "dedup state collapses redeliveries, and the per-type counts "
        "must equal the batch counts over the ORIGINAL table (the "
        "oracle). The dedup key includes the event-time column so "
        "state evicts by watermark on an unbounded stream",
    tags=("streaming", "dedup", "exactly-once"),
)
def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _streaming_events_conf(spark):
        def one_stream() -> DataFrame:
            return _events_stream(spark, sf_dir).select(
                "event_id", "ts", "event_type"
            )

        doubled = one_stream().unionAll(one_stream())
        deduped = doubled.withWatermark("ts", "10 minutes").dropDuplicates(
            ["event_id", "ts"]
        )
        drained = _drain(deduped, "stream_dedup_", "append")
        out = (
            drained.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
    return out


@register(
    "stream_dedup_within_watermark",
    """
SELECT event_type, COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
    doc="KEY-ONLY streaming dedup via dropDuplicatesWithinWatermark "
        "(Spark 3.5+): the source is doubled (every event delivered "
        "twice at the same event time), and dedup state keyed on "
        "event_id alone — impossible with plain dropDuplicates on an "
        "unbounded stream, whose state would grow forever unless the "
        "time column rides in the key — collapses redeliveries while "
        "the watermark bounds state lifetime to the 10-minute delay. "
        "Redeliveries carry identical timestamps, so they are always "
        "inside the watermark window and the drained counts must equal "
        "the batch counts over the original table (the oracle); "
        "whichever micro-batch a redelivery lands in, it either hits "
        "live dedup state or arrives below the watermark and is "
        "dropped as late — both collapse it exactly once",
    tags=("streaming", "dedup", "watermark", "late-data"),
)
def q_stream_dedup_within_watermark(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    with _streaming_events_conf(spark):
        def one_stream() -> DataFrame:
            return _events_stream(spark, sf_dir).select(
                "event_id", "ts", "event_type"
            )

        doubled = one_stream().unionAll(one_stream())
        deduped = doubled.withWatermark(
            "ts", "10 minutes"
        ).dropDuplicatesWithinWatermark(["event_id"])
        drained = _drain(deduped, "stream_ddww_", "append")
        out = (
            drained.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
    return out


@register(
    "stream_user_sessions",
    """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
m AS (SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
""",
    doc="STREAMING sessionization: dynamic-gap session_window state "
        "merged across micro-batches (sessions have no fixed end until "
        "the gap elapses — the stateful-window class tumbling windows "
        "can't express), availableNow-drained in complete mode; must "
        "equal the batch session_window result, whose oracle is the "
        "classic gaps-and-islands SQL (same as ana_user_sessions)",
    tags=("streaming", "session", "stateful", "events"),
)
def q_stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _streaming_events_conf(spark):
        raw = _events_stream(spark, sf_dir)
        sess = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("sw"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
            )
        )
        out = _drain(sess, "stream_sess_", "complete")
    return out


@register(
    "stream_sliding_counts",
    """
WITH e AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts
           FROM events),
slots AS (
  -- an event belongs to the 4 hour-long windows sliding by 15 min that
  -- cover it: starts = trunc15(ts) - {0,15,30,45} min
  SELECT e.event_type, e.value,
         date_trunc('minute', ts)
           - INTERVAL 1 MINUTE * (EXTRACT(MINUTE FROM ts)::INT % 15)
           - INTERVAL 15 MINUTE * k.k AS window_start
  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k)
SELECT window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM slots GROUP BY 1, 2
""",
    doc="STREAMING sliding-window aggregation (1 h length, 15 min slide: "
        "overlapping windows — each event feeds 4 window states), "
        "availableNow-drained in complete mode; oracle expands each "
        "event into its 4 covering slots (unnest offsets) and batch-"
        "aggregates — exactly the window() multiplexing Spark performs",
    tags=("streaming", "window", "sliding", "events"),
)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _streaming_events_conf(spark):
        raw = _events_stream(spark, sf_dir)
        agg = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(
                F.window("ts", "1 hour", "15 minutes").alias("w"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        out = _drain(agg, "stream_slide_", "complete")
    return out


@register(
    "stream_hourly_topk",
    """
WITH c AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS rk
  FROM c)
SELECT window_start, event_type, n_events, rk FROM r WHERE rk <= 3
""",
    doc="streaming top-k: tumbling 1h counts maintained by the stream "
        "(complete-mode state), ranked top-3-per-window AFTER the drain "
        "by a batch row_number over the tiny aggregate (|windows| x "
        "|event types| rows — ranking inside the stream would force "
        "complete-mode re-sorts of all state every micro-batch). "
        "Deterministic tie-break (count DESC, then type) keeps both "
        "engines' rank assignment identical",
    tags=("streaming", "window", "topk"),
)
def q_stream_hourly_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _streaming_events_conf(spark):
        raw = _events_stream(spark, sf_dir)
        agg = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )
        drained = _drain(agg, "stream_topk_", "complete")
        from pyspark.sql import Window as W

        rk = F.row_number().over(
            W.partitionBy("window_start").orderBy(
                F.col("n_events").desc(), "event_type"
            )
        )
        out = (
            drained.withColumn("rk", rk)
            .filter(F.col("rk") <= 3)
        )
    return out


_DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _incremental_dedup_oracle() -> str:
    """Identical SQL to llm_incremental_dedup's oracle: a correct
    streaming drain must CONVERGE to the batch answer (the same
    contract stream_events_hourly has with ana_events_hourly)."""
    from .catalog import CATALOG

    return CATALOG["llm_incremental_dedup"].oracle


@register(
    "stream_incremental_dedup",
    _incremental_dedup_oracle(),
    doc="STREAMING corpus-ingest dedup — the nightly shape run "
        "continuously: new documents arrive as a file stream, each "
        "micro-batch is MinHash-LSH screened against the standing "
        "corpus via foreachBatch + dedup.incremental_candidates (cross-"
        "side pairing only — the corpus never re-pairs with itself), "
        "per-doc verdicts accumulate across batches. Must converge to "
        "the batch llm_incremental_dedup answer (same oracle SQL "
        "verbatim). At 100 TB the corpus side's banded signatures are "
        "a precomputed table and foreachBatch APPENDS verdicts to a "
        "sink table instead of collecting; per-doc verdicts are "
        "micro-batch-independent, so any availableNow split yields "
        "the same union",
    tags=("streaming", "dedup", "incremental", "minhash"),
)
def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dd
    from ..sources.parquet import load_table
    from .queries_llm import _BANDS, _NUM_PERMS

    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 != 0)
        .select("doc_id", "text")
    )
    collected: list = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
        pairs = dd.incremental_candidates(
            corpus, b, num_perms=_NUM_PERMS, bands=_BANDS
        )
        hits = pairs.groupBy("batch_id").agg(
            F.min("corpus_id").alias("dup_of"),
            F.count(F.lit(1)).alias("n_corpus_hits"),
        )
        out = (
            b.select("doc_id")
            .join(hits, F.col("doc_id") == F.col("batch_id"), "left")
            .select(
                "doc_id",
                "dup_of",
                F.coalesce("n_corpus_hits", F.lit(0)).alias("n_corpus_hits"),
                F.col("dup_of").isNotNull().alias("is_dup"),
            )
        )
        collected.extend(out.collect())

    with _capped_state_partitions(spark, 8):
        stream = (
            spark.readStream.schema(_DOCUMENTS_SCHEMA)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return local_df(
        spark,
        collected,
        "doc_id long, dup_of long, n_corpus_hits long, is_dup boolean",
    )


# --- streaming SCD2 dimension maintenance -----------------------------------

_MKT_COLS = ("market_stockid", "market_companyname", "market_country",
             "market_exchange", "market_currency", "market_stockisin")

_SCD2_STREAM_DATES = ("2024-01-01", "2024-02-01", "2024-03-01")


def _scd2_stream_oracle() -> str:
    from .reference_tables import with_reference_ctes

    return with_reference_ctes("""
SELECT market_stockid,
       market_companyname || ' (v0)' AS market_companyname,
       market_country, market_exchange, market_currency, market_stockisin,
       DATE '2024-01-01' AS valid_from,
       CASE WHEN market_exchange = 'NASDAQ' THEN DATE '2024-02-01'
            ELSE DATE '2024-03-01' END AS valid_to,
       FALSE AS is_current
FROM markets
UNION ALL
SELECT market_stockid, market_companyname || ' (legacy)', market_country,
       market_exchange, market_currency, market_stockisin,
       DATE '2024-02-01', DATE '2024-03-01', FALSE
FROM markets WHERE market_exchange = 'NASDAQ'
UNION ALL
SELECT market_stockid, market_companyname, market_country, market_exchange,
       market_currency, market_stockisin,
       DATE '2024-03-01', CAST(NULL AS DATE), TRUE
FROM markets
""")


@register(
    "stream_scd2_apply",
    _scd2_stream_oracle(),
    doc="STREAMING SCD2 dimension maintenance: successive dimension "
        "snapshots arrive as a rate-limited file stream "
        "(maxFilesPerTrigger=1 — one snapshot per micro-batch, oldest "
        "first) and foreachBatch chains operators/scd.scd2_apply over "
        "an evolving current state; the drained state must equal the "
        "hand-derived chained batch merge (v0 versions close when "
        "NASDAQ names go '(legacy)' at d2, everything re-versions to "
        "fresh names at d3). The CDC-ingest shape of a warehouse "
        "dimension: each batch's load_date rides IN the snapshot "
        "file, so ordering semantics are data-driven, not trigger-"
        "driven. Test-harness drain materializes the bounded dim "
        "state per batch (like the other streaming drains' collect); "
        "at 100 TB the state is a warehouse table and foreachBatch "
        "MERGEs into it (the scd0_sink pattern) — scd2_apply itself "
        "already shuffles only (key, md5) pairs",
    tags=("streaming", "scd2", "warehouse", "cdc"),
)
def q_stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..operators.scd import scd2_apply
    from .reference_tables import markets

    mk_rows = sorted(
        markets(spark, sf_dir).select(*_MKT_COLS).collect(),
        key=lambda r: r["market_stockid"],
    )  # bounded: the 5-ticker reference dimension

    def snap_name(r, tag):
        base = r["market_companyname"]
        if tag == "v0":
            return base + " (v0)"
        if tag == "legacy":
            return (base + " (legacy)"
                    if r["market_exchange"] == "NASDAQ" else base + " (v0)")
        return base

    tmp = tempfile.mkdtemp(prefix="scd2stream_")
    try:
        import datetime as dt
        now = int(__import__("time").time())
        for i, (tag, ld) in enumerate(
            zip(("v0", "legacy", "fresh"), _SCD2_STREAM_DATES)
        ):
            cols = {c: [r[c] for r in mk_rows] for c in _MKT_COLS}
            cols["market_companyname"] = [snap_name(r, tag) for r in mk_rows]
            cols["load_date"] = pa.array(
                [dt.date.fromisoformat(ld)] * len(mk_rows), pa.date32()
            )
            path = os.path.join(tmp, f"snap{i}.parquet")
            pq.write_table(pa.table(cols), path)
            # FileStreamSource orders by modification time: pin it
            os.utime(path, (now - 100 + 50 * i, now - 100 + 50 * i))

        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in _MKT_COLS]
            + [T.StructField("load_date", T.DateType())]
        )
        state_schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in _MKT_COLS]
            + [
                T.StructField("valid_from", T.DateType()),
                T.StructField("valid_to", T.DateType()),
                T.StructField("is_current", T.BooleanType()),
            ]
        )
        state_cols = [f.name for f in state_schema.fields]

        state_box = [local_df(spark, [], state_schema)]

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            # the dimension snapshot is BOUNDED (the 5-ticker reference
            # dim) and this drain materializes state per batch anyway —
            # collect the micro-batch ONCE (r18) so the load_date check
            # needs no distinct job and the merge's several semi/anti
            # joins read a local relation instead of re-scanning the
            # micro-batch source per consumer
            rows = batch_df.limit(10_001).collect()
            if not rows:
                return
            # the boundedness assumption above, made executable (r19):
            # a misconfigured source must fail loudly, not OOM the
            # driver silently (the limit above already caps the pull)
            assert len(rows) <= 10_000, (
                f"scd2 micro-batch snapshot exceeds the bounded-dim "
                f"assumption (> 10000 rows); this drain collects state "
                f"per batch and is sized for a reference dimension"
            )
            lds = {str(r["load_date"]) for r in rows}
            assert len(lds) == 1, f"snapshot files merged into one batch: {lds}"
            # a LocalRelation, so the merge's broadcast builds run no task
            inc = local_df(
                spark,
                [[r[c] for c in _MKT_COLS] for r in rows],
                T.StructType(
                    [T.StructField(c, T.StringType()) for c in _MKT_COLS]
                ),
            )
            new_state = scd2_apply(
                inc,
                state_box[0],
                key="market_stockid",
                tracked=["market_companyname"],
                load_date=next(iter(lds)),
            )
            # materialize the bounded dim state so the next batch's merge
            # reads data, not an ever-deepening lineage
            state_box[0] = local_df(
                spark,
                [[r[c] for c in state_cols] for r in new_state.collect()],
                state_schema,
            )

        with _capped_state_partitions(spark, 8):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(tmp)
                .writeStream.foreachBatch(handle)
                .option("checkpointLocation", os.path.join(tmp, "_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return state_box[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _register_stream_heavy_hitters() -> None:
    """Registered via a helper so the oracle can be imported from
    queries_llm AFTER that module is loaded (same SQL string verbatim:
    the streaming drain must converge to the batch CMS answer — the
    stream_events_hourly / stream_incremental_dedup contract)."""
    from .queries_llm import _CMS_ORACLE_SQL

    @register(
        "stream_heavy_hitters",
        _CMS_ORACLE_SQL,
        doc="STREAMING count-min heavy hitters: the corpus arrives as "
            "a 3-file stream (maxFilesPerTrigger=1), each micro-batch "
            "pre-aggregates its bigram stream to partial term counts "
            "(one map-side-combined shuffle) and derives its partial "
            "d*w sketch from them — CMS[i][b] = Σ_{h_i(t)=b} count(t), "
            "identical to hashing the raw stream because each hash row "
            "is a pure key function (the batch operator's own "
            "derivation; r18 — hashing per OCCURRENCE paid 4 md5 "
            "evaluations per bigram instance where the ~930-key bigram "
            "space needs 4 per DISTINCT term). The driver merges "
            "partials by plain addition: CMS is LINEAR, so the merged "
            "sketch is bit-equal to the batch sketch and the drained "
            "report hash-matches the batch llm_heavy_hitters_cms "
            "oracle verbatim. The exact-companion columns come from "
            "one batch read after the drain (the audit anchor, exactly "
            "what a nightly reconciliation job does); the 1024-int "
            "sketch state is the only thing that crosses micro-batches "
            "— the mergeable-sketch property that makes CMS the "
            "streaming frequency primitive",
        tags=("streaming", "sketch", "frequency", "incremental"),
    )
    def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os
        import shutil
        import tempfile
        import time as _time

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..operators import text as tx
        from ..sources.parquet import load_table

        d, w = 4, 256
        table = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
        )
        tmp = tempfile.mkdtemp(prefix="cmsstream_")
        try:
            now = int(_time.time())
            doc_mod = table.column("doc_id").to_numpy() % 3
            for k in range(3):
                part = table.filter(pa.array(doc_mod == k))
                path = os.path.join(tmp, f"part{k}.parquet")
                pq.write_table(part, path)
                os.utime(path, (now - 90 + 30 * k, now - 90 + 30 * k))

            acc: dict[tuple[int, int], int] = {}
            n_batches = [0]

            def handle(batch_df: DataFrame, batch_id: int) -> None:
                n_batches[0] += 1
                # partial term counts FIRST (map-side-combined), then
                # the d bucket hashes per DISTINCT term: the summed
                # buckets equal the per-occurrence hash by CMS
                # linearity, at |vocab| instead of |occurrences| md5
                # evaluations
                part_sk = (
                    tx.bigram_terms(batch_df, "text")
                    .groupBy("term")
                    .agg(F.count(F.lit(1)).alias("tc"))
                    .select(
                        "tc",
                        F.posexplode(tx.cms_bucket_array(d, w)).alias(
                            "i", "b"
                        ),
                    )
                    .groupBy("i", "b")
                    .agg(F.sum("tc").alias("c"))
                )
                for r in part_sk.collect():  # <= d*w = 1024 rows per batch
                    key = (r["i"], r["b"])
                    acc[key] = acc.get(key, 0) + r["c"]

            with _capped_state_partitions(spark, 8):
                q = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", "1")
                    .parquet(tmp)
                    .writeStream.foreachBatch(handle)
                    .option("checkpointLocation", os.path.join(tmp, "_ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            assert n_batches[0] == 3, f"expected 3 micro-batches, got {n_batches[0]}"

            sk = local_df(
                spark,
                [(i, b, c) for (i, b), c in sorted(acc.items())],
                "i int, b bigint, cms long",
            )
            tc = (
                tx.bigram_terms(
                    load_table(spark, sf_dir, "documents"), "text"
                )
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("exact_count"))
            )
            return tx.cms_report(tc, sk, d, w, threshold_permille=1)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


_register_stream_heavy_hitters()


def _drained_counts_monitor(spark: SparkSession, sf_dir: str, stat_fn,
                            prefix: str) -> DataFrame:
    """Shared drain for ALL streaming distributional monitors (KS /
    EMD / PSI / CUSUM / Mann-Whitney): the corpus arrives as a 3-file
    stream
    (maxFilesPerTrigger=1), each micro-batch reduces to its partial
    (source, n_chars) counts grid — the mergeable monitoring state,
    bounded by the VALUE DOMAIN, never the batch — written to a
    batch_id=N partition with OVERWRITE (the quarantine sink's
    idempotent replay protocol). Counts are ADDITIVE, so after the
    drain one groupBy-sum merges the partials and ``stat_fn`` (one of
    skew.{ks,emd,psi,cusum}_drift_from_counts or
    skew.mann_whitney_from_counts) re-derives the exact integer
    statistic — hash-equal to its batch oracle verbatim
    (stream==batch). ONE grid, every statistic: this helper is the
    production shape where a monitor keeps the merged grid, adds each
    batch's partial, and reads every distributional verdict from the
    same state.
    In-query guard asserts the 3-batch split actually happened."""
    import os
    import shutil
    import tempfile
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "source", "n_chars"],
    )
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        now = int(_time.time())
        doc_mod = table.column("doc_id").to_numpy() % 3
        for k in range(3):
            part = table.filter(pa.array(doc_mod == k))
            path = os.path.join(in_dir, f"part{k}.parquet")
            pq.write_table(part, path)
            os.utime(path, (now - 90 + 30 * k, now - 90 + 30 * k))

        parts_dir = os.path.join(tmp, "partials")
        n_batches = [0]

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            n_batches[0] += 1
            (
                batch_df.filter(
                    F.col("source").isNotNull()
                    & F.col("n_chars").isNotNull()
                )
                .groupBy("source", "n_chars")
                .agg(F.count(F.lit(1)).alias("c"))
                # the partial grid is bounded by the VALUE DOMAIN
                # (|sources| × |distinct n_chars|), so one file per
                # batch is the right layout at any scale — 8 shuffle
                # partitions wrote 8 tiny files per batch and the
                # post-drain merge paid 3× the listing/open cost (r18,
                # guide §6 small-files)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(parts_dir, f"batch_id={batch_id}"))
            )

        with _capped_state_partitions(spark, 8):
            q = (
                spark.readStream.schema(
                    "doc_id long, source string, n_chars long"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(in_dir)
                .writeStream.foreachBatch(handle)
                .option("checkpointLocation", os.path.join(tmp, "_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        assert n_batches[0] == 3, (
            f"expected 3 micro-batches, got {n_batches[0]}"
        )

        merged = (
            spark.read.parquet(parts_dir)
            .groupBy("source", "n_chars")
            .agg(F.sum("c").alias("c"))
        )
        out = stat_fn(merged, "n_chars", "source")
        # materialize BEFORE the temp partials vanish (the finally
        # removes them; the returned relation must not read lazily
        # from a deleted directory)
        return local_df(spark, out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _register_stream_ks_drift() -> None:
    """Registered via a helper so the oracle imports from
    queries_analytics after that module loads (same SQL verbatim: the
    drained streaming monitor must converge to the batch statistic —
    the stream_heavy_hitters contract)."""
    from .queries_analytics import _KS_DRIFT_ORACLE_SQL

    @register(
        "stream_ks_drift",
        _KS_DRIFT_ORACLE_SQL,
        doc="STREAMING per-source KS drift monitor: the corpus arrives "
            "as a 3-file stream (maxFilesPerTrigger=1); each micro-"
            "batch reduces to its partial (source, n_chars) COUNTS "
            "grid — the mergeable monitoring state, bounded by the "
            "VALUE DOMAIN, never the batch — written to a batch_id=N "
            "partition (the quarantine sink's idempotent-overwrite "
            "protocol: at-least-once replay lands on the same target). "
            "Counts are ADDITIVE, so after the drain one groupBy-sum "
            "merges the partials and skew.ks_drift_from_counts "
            "recomputes the exact integer-ppm statistic — hash-equal "
            "to the batch ana_ks_drift oracle verbatim (stream==batch; "
            "this is how a production feed gets a drift verdict after "
            "EVERY ingest batch without rescanning the corpus: keep "
            "the merged grid, add each batch's partial, re-derive). "
            "In-query guard asserts the 3-batch split actually "
            "happened",
        tags=("streaming", "drift", "quality", "scale"),
    )
    def q_stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.skew import ks_drift_from_counts

        return _drained_counts_monitor(
            spark, sf_dir, ks_drift_from_counts, "ksstream_"
        )


_register_stream_ks_drift()


def _register_stream_emd_drift() -> None:
    """Same late-import discipline as stream_ks_drift: the oracle is
    the batch ana_emd_drift SQL verbatim (stream==batch)."""
    from .queries_analytics import _EMD_DRIFT_ORACLE_SQL

    @register(
        "stream_emd_drift",
        _EMD_DRIFT_ORACLE_SQL,
        doc="STREAMING per-source earth-mover drift monitor — the "
            "stream_ks_drift protocol carrying the 1-Wasserstein "
            "statistic: per micro-batch the corpus slice reduces to "
            "its partial (source, n_chars) counts grid (mergeable "
            "state bounded by the VALUE DOMAIN), written to an "
            "idempotent batch_id=N overwrite partition; after the "
            "drain one groupBy-sum merges the partials and "
            "skew.emd_drift_from_counts re-derives the exact integer "
            "micro-unit statistic — hash-equal to the batch "
            "ana_emd_drift oracle verbatim. KS and EMD share the SAME "
            "mergeable state, so a production monitor maintains ONE "
            "counts grid and reads every distributional statistic "
            "(KS, PSI, EMD) from it after each ingest batch",
        tags=("streaming", "drift", "quality", "scale"),
    )
    def q_stream_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.skew import emd_drift_from_counts

        return _drained_counts_monitor(
            spark, sf_dir, emd_drift_from_counts, "emdstream_"
        )


_register_stream_emd_drift()


def _register_stream_psi_drift() -> None:
    """Same late-import discipline: oracle = the batch ana_psi_drift
    SQL verbatim (stream==batch)."""
    from .queries_analytics import _PSI_DRIFT_ORACLE_SQL

    @register(
        "stream_psi_drift",
        _PSI_DRIFT_ORACLE_SQL,
        doc="STREAMING Population Stability Index monitor — completes "
            "the streaming monitor trio on the stream_ks_drift "
            "protocol: per micro-batch partial (source, n_chars) "
            "counts grids in idempotent batch_id=N partitions, one "
            "post-drain groupBy-sum merge, then "
            "skew.psi_drift_from_counts re-derives the exact "
            "micro-unit PSI — hash-equal to the batch ana_psi_drift "
            "oracle verbatim. KS, EMD, and PSI now all read from ONE "
            "shared mergeable counts grid, so a production feed pays "
            "one partial-counts write per batch and gets all three "
            "distributional verdicts",
        tags=("streaming", "drift", "quality", "scale"),
    )
    def q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.skew import psi_drift_from_counts

        return _drained_counts_monitor(
            spark, sf_dir, psi_drift_from_counts, "psistream_"
        )


_register_stream_psi_drift()


def _register_stream_cusum_drift() -> None:
    """Same late-import discipline: oracle = the batch ana_cusum_drift
    SQL verbatim (stream==batch)."""
    from .queries_analytics import _CUSUM_DRIFT_ORACLE_SQL

    @register(
        "stream_cusum_drift",
        _CUSUM_DRIFT_ORACLE_SQL,
        doc="STREAMING CUSUM drift monitor — the last of the four "
            "distributional monitors to get its streaming twin, on the "
            "stream_ks_drift protocol: per micro-batch partial "
            "(source, n_chars) counts grids in idempotent batch_id=N "
            "overwrite partitions, one post-drain groupBy-sum merge, "
            "then skew.cusum_drift_from_counts re-derives the exact "
            "max-ascent statistic and its alarm_value — hash-equal to "
            "the batch ana_cusum_drift oracle verbatim. KS, EMD, PSI, "
            "and CUSUM now ALL read from the one shared mergeable "
            "counts grid: a production feed pays one partial-counts "
            "write per ingest batch and gets every distributional "
            "verdict, including WHERE in the value domain the drift "
            "mass concentrates",
        tags=("streaming", "drift", "quality", "scale"),
    )
    def q_stream_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.skew import cusum_drift_from_counts

        return _drained_counts_monitor(
            spark, sf_dir, cusum_drift_from_counts, "cusumstream_"
        )


_register_stream_cusum_drift()


def _register_stream_mann_whitney_drift() -> None:
    """Same late-import discipline: oracle = the batch
    ana_mann_whitney_drift SQL verbatim (stream==batch)."""
    from .queries_analytics import _MW_DRIFT_ORACLE_SQL

    @register(
        "stream_mann_whitney_drift",
        _MW_DRIFT_ORACLE_SQL,
        doc="STREAMING Mann-Whitney U drift monitor — the fifth "
            "distributional monitor on the stream_ks_drift protocol "
            "and the last batch monitor to get its streaming twin: "
            "per micro-batch partial (source, n_chars) counts grids "
            "in idempotent batch_id=N overwrite partitions, one "
            "post-drain groupBy-sum merge, then "
            "skew.mann_whitney_from_counts re-derives the exact "
            "tie-aware doubled-U integer statistic and signed "
            "rank-biserial ppm — hash-equal to the batch "
            "ana_mann_whitney_drift oracle verbatim. KS, EMD, PSI, "
            "CUSUM, and Mann-Whitney now ALL read from the one shared "
            "mergeable counts grid: a production feed pays one "
            "partial-counts write per ingest batch and gets the "
            "shape tests (KS/EMD/PSI), the change-point localizer "
            "(CUSUM), and the stochastic-order test (MW) from the "
            "same state",
        tags=("streaming", "drift", "quality", "scale"),
    )
    def q_stream_mann_whitney_drift(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from ..operators.skew import mann_whitney_from_counts

        return _drained_counts_monitor(
            spark, sf_dir, mann_whitney_from_counts, "mwstream_"
        )


_register_stream_mann_whitney_drift()


def _register_stream_jonckheere_trend() -> None:
    """Same late-import discipline: oracle = the batch
    ana_jonckheere_trend SQL verbatim (stream==batch)."""
    from .queries_analytics import _JT_ORACLE_SQL

    @register(
        "stream_jonckheere_trend",
        _JT_ORACLE_SQL,
        doc="STREAMING Jonckheere-Terpstra ordered-alternative trend "
            "monitor — the sixth distributional monitor on the "
            "stream_ks_drift protocol and the first ORDERED-GROUPS "
            "member: per micro-batch partial (source, n_chars) counts "
            "grids in idempotent batch_id=N overwrite partitions, one "
            "post-drain groupBy-sum merge, then "
            "skew.jonckheere_from_counts re-derives the exact "
            "doubled-integer tie-exact J statistic and integral-"
            "division trend_ppm — hash-equal to the batch "
            "ana_jonckheere_trend oracle verbatim. KS, EMD, PSI, "
            "CUSUM, Mann-Whitney, and now Jonckheere ALL read from "
            "the one shared mergeable counts grid: a production feed "
            "pays one partial-counts write per ingest batch and gets "
            "the shape tests, the change-point localizer, the "
            "stochastic-order test, AND the ordered-trend verdict "
            "('are release batches drifting monotonically') from the "
            "same state",
        tags=("streaming", "drift", "quality", "scale", "statistics"),
    )
    def q_stream_jonckheere_trend(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from ..operators.skew import jonckheere_from_counts

        return _drained_counts_monitor(
            spark, sf_dir, jonckheere_from_counts, "jtstream_"
        )


_register_stream_jonckheere_trend()


def _register_stream_kruskal_wallis() -> None:
    """Same late-import discipline: oracle = the batch
    ana_kruskal_wallis SQL verbatim (stream==batch)."""
    from .queries_analytics import _KW_ORACLE_SQL

    @register(
        "stream_kruskal_wallis",
        _KW_ORACLE_SQL,
        doc="STREAMING tie-corrected Kruskal-Wallis H monitor — the "
            "seventh distributional monitor on the stream_ks_drift "
            "protocol and the K-GROUP omnibus member: per micro-batch "
            "partial (source, n_chars) counts grids in idempotent "
            "batch_id=N overwrite partitions, one post-drain "
            "groupBy-sum merge, then skew.kruskal_wallis_from_counts "
            "re-derives the exact doubled-rank integer h_micro and "
            "tie-corrected h_tie_micro — hash-equal to the batch "
            "ana_kruskal_wallis oracle verbatim. KS, EMD, PSI, CUSUM, "
            "Mann-Whitney, Jonckheere, and now Kruskal-Wallis ALL read "
            "from the one shared mergeable counts grid: a production "
            "feed pays one partial-counts write per ingest batch and "
            "gets the shape tests, the change-point localizer, the "
            "per-group and ordered-trend verdicts, AND the K-group "
            "omnibus gate ('did ANY source shift') from the same state",
        tags=("streaming", "drift", "quality", "scale", "statistics"),
    )
    def q_stream_kruskal_wallis(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from ..operators.skew import kruskal_wallis_from_counts

        return _drained_counts_monitor(
            spark, sf_dir, kruskal_wallis_from_counts, "kwstream_"
        )


_register_stream_kruskal_wallis()


@register(
    "stream_quarantine_gate",
    """
WITH v AS (
  SELECT CASE WHEN NOT COALESCE(value <= 90, FALSE)
              THEN 1 ELSE 0 END AS v_value,
         CASE WHEN NOT COALESCE(event_type <> 'error', FALSE)
              THEN 1 ELSE 0 END AS v_err
  FROM events)
SELECT 'value_le_90' AS rule,
       CAST(SUM(v_value) AS BIGINT) AS n_rows
FROM v
UNION ALL
SELECT 'not_error', CAST(SUM(v_err) AS BIGINT) FROM v
UNION ALL
SELECT '__clean__',
       CAST(COUNT(*) FILTER (WHERE v_value = 0 AND v_err = 0) AS BIGINT)
FROM v
""",
    doc="streaming data-quality quarantine gate end-to-end "
        "(streaming/ingest.quarantine_sink over "
        "operators/expectations.quarantine_split): the events feed "
        "streams through the foreachBatch gate, clean rows land in the "
        "serving sink, violators land tagged in the quarantine sink — "
        "each micro-batch into its own batch_id=N partition with "
        "OVERWRITE, so the at-least-once replay of a crashed batch is "
        "idempotent. The result reads BOTH sinks back: per-rule "
        "quarantined-row counts from the violation tags plus the "
        "__clean__ serving count, which must equal the batch split of "
        "the same rows (row verdicts are pure projections, so "
        "stream==batch regardless of file batching). Graduates the "
        "r10 quarantine gate from pytest-only to oracle-backed",
    tags=("streaming", "quality", "expectations", "quarantine"),
)
def q_stream_quarantine_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest import quarantine_sink
    from .scratch import scratch_dir

    base = scratch_dir("quarantine_gate_")
    clean_dir = f"{base}/clean"
    quarantine_dir = f"{base}/quarantine"
    rules = {
        "value_le_90": F.col("value") <= 90,
        "not_error": F.col("event_type") != "error",
    }
    with _streaming_events_conf(spark):
        q = quarantine_sink(
            _events_stream(spark, sf_dir).drop("ts"),
            rules,
            clean_dir,
            quarantine_dir,
            f"{base}/ckpt",
        )
        q.awaitTermination()
    bad = spark.read.parquet(quarantine_dir)
    per_rule = (
        bad.select(F.explode("violations").alias("rule"))
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    clean = (
        spark.read.parquet(clean_dir)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit("__clean__").alias("rule"), "n_rows")
    )
    return per_rule.unionByName(clean)
