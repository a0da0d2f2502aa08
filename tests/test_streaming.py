"""Streaming surface tests (SURVEY.md §2.9, §7 phase 4).

All tests drain file-source streams with ``availableNow`` triggers —
batch-bounded runs of real streaming plans (watermark state machine,
checkpoint recovery, foreachBatch sink) with deterministic results.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from utn_dataengineering_stockmarketpipeline_spark.sources.parquet import load_table
from utn_dataengineering_stockmarketpipeline_spark.streaming import (
    scd0_sink,
    stateful_running_totals,
    stream_parquet,
    tumbling_agg,
)

from conftest import SF_SMOKE, run_to_memory

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def events_split(spark, tmp_path_factory):
    """sf0.001 events split into two parquet drops at the median
    TIMESTAMP — drop2 is strictly newer than drop1, so a stream seeing
    drop1 then drop2 has no late data (watermark tests stay exact)."""
    base = tmp_path_factory.mktemp("events_stream")
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .withColumn("_u", F.unix_timestamp("ts"))
        .cache()
    )
    mid = ev.approxQuantile("_u", [0.5], 0.0)[0]
    ev = ev.drop("_u")
    cut = F.unix_timestamp("ts") <= mid
    d1, d2 = str(base / "drop1"), str(base / "drop2")
    ev.filter(cut).coalesce(1).write.parquet(d1)
    ev.filter(~cut).coalesce(1).write.parquet(d2)
    ev.unpersist()
    return base, d1, d2


def _mem_name() -> str:
    return "m" + uuid.uuid4().hex[:12]


def test_tumbling_agg_matches_batch(spark, events_split, tmp_path):
    """Complete-mode drain of the windowed agg == batch groupBy(window)."""
    base, d1, d2 = events_split
    glob = f"{base}/drop*/*.parquet"
    stream = stream_parquet(spark, glob, EVENTS_SCHEMA)
    agg = tumbling_agg(
        stream,
        "ts",
        ["event_type"],
        {"n": "count(1)", "total": "sum(value)"},
        window="1 hour",
    )
    name = _mem_name()
    run_to_memory(agg, name, output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["total"], 6))
        for r in spark.table(name).collect()
    }

    batch = (
        spark.read.schema(EVENTS_SCHEMA)
        .parquet(glob)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    want = {
        (r["window"]["start"], r["event_type"]): (r["n"], round(r["total"], 6))
        for r in batch.collect()
    }
    assert got == want


def test_append_mode_emits_closed_windows_after_watermark(
    spark, events_split, tmp_path
):
    """Two checkpointed runs over time-ordered drops. availableNow ends
    each run with a no-data batch that advances the watermark, so run 1
    emits exactly the drop-1 windows closed by wm1 = max(d1.ts) - delay;
    run 2 resumes from the checkpoint and emits the remainder up to
    wm2 — disjoint from run 1, together equal to the batch recompute."""
    base, d1, d2 = events_split
    stage = tmp_path / "in"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")
    delay = "10 minutes"

    def drain(out_dir: str):
        stream = stream_parquet(spark, str(stage), EVENTS_SCHEMA)
        agg = tumbling_agg(
            stream,
            "ts",
            ["event_type"],
            {"n": "count(1)"},
            window="1 hour",
            watermark_delay=delay,
        )

        def write_batch(batch, _bid):
            batch.write.mode("append").parquet(out_dir)

        q = (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def emitted(out_dir: str) -> dict:
        try:
            rows = spark.read.parquet(out_dir).collect()
        except Exception:
            return {}
        return {(r["window_start"], r["event_type"]): r["n"] for r in rows}

    def windows_until(wm) -> dict:
        df = (
            spark.read.schema(EVENTS_SCHEMA)
            .parquet(f"{stage}/*.parquet")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("window.end") <= F.lit(wm))
        )
        return {(r["window"]["start"], r["event_type"]): r["n"] for r in df.collect()}

    def wm_of(path: str):
        return (
            spark.read.parquet(path)
            .agg((F.max("ts") - F.expr(f"INTERVAL {delay}")).alias("wm"))
            .first()["wm"]
        )

    spark.read.parquet(d1).coalesce(1).write.mode("append").parquet(str(stage))
    out1 = str(tmp_path / "out1")
    drain(out1)
    got1 = emitted(out1)
    assert got1 == windows_until(wm_of(d1))
    assert len(got1) > 0

    spark.read.parquet(d2).coalesce(1).write.mode("append").parquet(str(stage))
    out2 = str(tmp_path / "out2")
    drain(out2)
    got2 = emitted(out2)
    assert set(got1).isdisjoint(got2)  # nothing re-emitted after restart
    assert {**got1, **got2} == windows_until(wm_of(str(stage)))
    assert len(got2) > 0


def test_scd0_sink_absorbs_redelivery(spark, tmp_path):
    """At-least-once source + SCD-0 foreachBatch sink = exactly-once
    table: re-delivered rows (overlapping files AND a fresh checkpoint
    replaying everything) never produce duplicate keys."""
    stage = tmp_path / "in"
    stage.mkdir()
    target = str(tmp_path / "warehouse")
    schema = "stock_key string, stock_ticker string, stock_close double"

    def rows(lo: int, hi: int):
        return spark.createDataFrame(
            [(f"2024-01-{d:02d}/TT", "TT", 100.0 + d) for d in range(lo, hi)],
            schema,
        )

    def drain(ckpt: str):
        stream = (
            spark.readStream.schema(schema).parquet(str(stage))
        )
        q = scd0_sink(stream, target, "stock_key", ckpt)
        q.awaitTermination()

    rows(1, 11).coalesce(1).write.mode("append").parquet(str(stage))
    drain(str(tmp_path / "ckpt1"))
    assert spark.read.parquet(target).count() == 10

    # second drop overlaps days 5-10 (API re-serving rows, T2)
    rows(5, 16).coalesce(1).write.mode("append").parquet(str(stage))
    drain(str(tmp_path / "ckpt1"))
    got = spark.read.parquet(target)
    assert got.count() == 15
    assert got.select("stock_key").distinct().count() == 15

    # full replay with a FRESH checkpoint: idempotency comes from the
    # anti-join, not just checkpoint bookkeeping
    drain(str(tmp_path / "ckpt2"))
    assert spark.read.parquet(target).count() == 15


def test_stateful_running_totals_across_restarts(spark, events_split, tmp_path):
    """applyInPandasWithState carries (n, total) per key across a
    query restart via the checkpoint; final update == batch totals."""
    base, d1, d2 = events_split
    stage = tmp_path / "in"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def drain(out_dir: str):
        stream = stream_parquet(spark, str(stage), EVENTS_SCHEMA)
        totals = stateful_running_totals(stream, "event_type", "value")

        def write_batch(batch, _bid):
            batch.write.mode("append").parquet(out_dir)

        q = (
            totals.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.read.parquet(d1).coalesce(1).write.mode("append").parquet(str(stage))
    drain(str(tmp_path / "out1"))
    spark.read.parquet(d2).coalesce(1).write.mode("append").parquet(str(stage))
    out2 = str(tmp_path / "out2")
    drain(out2)

    got = {
        r["group_key"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.read.parquet(out2).collect()
    }
    batch = (
        spark.read.schema(EVENTS_SCHEMA)
        .parquet(f"{stage}/*.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    want = {
        r["event_type"]: (r["n"], round(r["total"], 6)) for r in batch.collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_split, tmp_path):
    """Purchases joined to same-user errors within the prior 30 min —
    the watermarked stream-stream interval join must converge to the
    batch join once both streams drain."""
    from utn_dataengineering_stockmarketpipeline_spark.streaming.ingest import (
        stream_stream_join,
    )

    base, d1, d2 = events_split
    glob = f"{base}/drop*/*.parquet"

    def side(df, etype, prefix):
        return df.filter(F.col("event_type") == etype).select(
            F.col("user_id"),
            F.col("ts").alias(f"{prefix}_ts"),
            F.col("event_id").alias(f"{prefix}_id"),
        )

    stream = stream_parquet(spark, glob, EVENTS_SCHEMA)
    joined = stream_stream_join(
        side(stream, "purchase", "p"),
        side(stream, "error", "e"),
        on="user_id",
        left_ts="p_ts",
        right_ts="e_ts",
    ).select(F.col("l.user_id").alias("user_id"), "p_id", "e_id")

    out = str(tmp_path / "out")

    def write_batch(batch, _bid):
        batch.write.mode("append").parquet(out)

    q = (
        joined.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["p_id"], r["e_id"])
        for r in spark.read.parquet(out).collect()
    }

    ev = spark.read.schema(EVENTS_SCHEMA).parquet(glob)
    p, e = side(ev, "purchase", "p"), side(ev, "error", "e")
    batch = p.join(
        e,
        (p["user_id"] == e["user_id"])
        & (e["e_ts"] >= p["p_ts"] - F.expr("INTERVAL 30 minutes"))
        & (e["e_ts"] <= p["p_ts"]),
    ).select(p["user_id"], "p_id", "e_id")
    want = {(r["user_id"], r["p_id"], r["e_id"]) for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_stream_incremental_dedup_multibatch_converges(spark, tmp_path):
    """r8: the per-doc verdicts must be micro-batch-independent — a
    2-file source drained with maxFilesPerTrigger=1 (two micro-batches)
    yields exactly the batch answer over the union. Pins the docstring
    claim that any availableNow split converges."""
    import pyspark.sql.functions as F

    from utn_dataengineering_stockmarketpipeline_spark.operators import dedup
    from utn_dataengineering_stockmarketpipeline_spark.plans.queries_llm import (
        _BANDS,
        _NUM_PERMS,
    )
    from utn_dataengineering_stockmarketpipeline_spark.plans.queries_streaming import (
        _DOCUMENTS_SCHEMA,
    )

    # tiny corpus: ids %5==0 stream in; 10 and 15 duplicate corpus text
    rows = [
        (i, t, "en", "s", len(t))
        for i, t in [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "completely different corpus text with many words here"),
            (3, "a third corpus document that matches nothing else at all"),
            (5, "stream doc one with its own unique and novel wording"),
            (10, "the quick brown fox jumps over the lazy dog again"),
            (15, "completely different corpus text with many words here"),
        ]
    ]
    df = spark.createDataFrame(rows, _DOCUMENTS_SCHEMA)
    src = str(tmp_path / "docs")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    df.filter(F.col("doc_id") <= 3).coalesce(1).write.parquet(src)
    df.filter(F.col("doc_id") > 3).coalesce(1).write.mode("append").parquet(src)

    corpus = df.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    collected = []

    def handle(batch_df, batch_id):
        b = batch_df.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
        pairs = dedup.incremental_candidates(
            corpus, b, num_perms=_NUM_PERMS, bands=_BANDS
        )
        hits = pairs.groupBy("batch_id").agg(
            F.min("corpus_id").alias("dup_of"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        out = b.select("doc_id").join(
            hits, F.col("doc_id") == F.col("batch_id"), "left"
        ).select("doc_id", "dup_of")
        collected.extend((r["doc_id"], r["dup_of"]) for r in out.collect())

    q = (
        spark.readStream.schema(_DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = dict(collected)
    assert len(collected) == len(got) == 3  # every stream doc exactly once
    assert got[10] == 1 and got[15] == 2   # duplicates found across batches
    assert got[5] is None                  # unique stream doc: no corpus hit


def test_late_rows_dropped_and_observed_metrics_account(spark, tmp_path):
    """Late-data accounting surfaces: (a) dropped-late rows reported in
    the window agg's numRowsDroppedByWatermark, (b) pre-state input
    counts exposed via .observe(), (c) emitted closed windows — all
    equated to batch computations.

    Watermark mechanics this test pins (verified against Spark 4.1
    behavior): the LATE-EVENT filter uses the watermark as of the
    PREVIOUS batch (eventTimeWatermarkForLateEvents lags the eviction
    watermark by one batch, SPARK-24634 semantics), so data older than
    the watermark is only guaranteed dropped from the SECOND batch
    after the watermark advanced — hence three file-drops here: newer
    (batch 0, advances the watermark), early_a (batch 1 — late filter
    still at the initial epoch watermark, rows aggregate and their
    closed windows emit), early_b (batch 2 — late filter now at
    max(newer)-10min, every row dropped and counted).
    """
    import datetime
    import os

    from utn_dataengineering_stockmarketpipeline_spark.plans.queries_streaming import (
        _scoped_conf,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).withColumn("_u", F.unix_timestamp("ts")).cache()
    mid = ev.approxQuantile("_u", [0.5], 0.0)[0]
    newer = ev.filter(F.col("_u") > mid).drop("_u")
    early = ev.filter(F.col("_u") <= mid).withColumn(
        "_odd", F.col("event_id") % 2
    ).cache()
    early_a = early.filter(F.col("_odd") == 0).drop("_u", "_odd")
    early_b = early.filter(F.col("_odd") == 1).drop("_u", "_odd")
    d = tmp_path / "late_drops"
    newer.coalesce(1).write.parquet(str(d / "f_newer"))
    early_a.coalesce(1).write.parquet(str(d / "f_early_a"))
    early_b.coalesce(1).write.parquet(str(d / "f_early_b"))
    # file source orders by modification time: newer -> early_a -> early_b
    now = 1_700_000_000
    for sub, t in (("f_newer", now), ("f_early_a", now + 100),
                   ("f_early_b", now + 200)):
        for p in (d / sub).rglob("*.parquet"):
            os.utime(p, (t, t))

    max_ts = newer.agg(F.max("ts")).first()[0]
    wm = max_ts - datetime.timedelta(minutes=10)
    n_newer, n_early = newer.count(), early_a.count() + early_b.count()
    # numRowsDroppedByWatermark counts POST-partial-aggregate rows (one
    # per window the late batch produced), not raw inputs — the filter
    # sits on the state operator, downstream of map-side partial agg
    exp_dropped = (
        early_b.select(F.window("ts", "1 hour")).distinct().count()
    )
    assert early.agg(F.max("ts")).first()[0] < wm  # all early is late
    ev.unpersist()

    name = _mem_name()
    with _scoped_conf(spark, **{
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.session.timeZone": "UTC",
    }):
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/f_*/*.parquet")
            .observe("src_rows", F.count(F.lit(1)).alias("n"))
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("window.start").alias("ws"), "n_events")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p is not None]
        got = {
            (r["ws"], r["n_events"]) for r in spark.table(name).collect()
        }

        observed = sum(
            p["observedMetrics"]["src_rows"]["n"]
            for p in progress
            if "src_rows" in (p["observedMetrics"] or {})
        )
        dropped = sum(
            so["numRowsDroppedByWatermark"]
            for p in progress
            for so in p["stateOperators"]
        )
        # batch equivalents: append mode emits windows whose END the
        # final eviction watermark passed, over the rows that were NOT
        # dropped (newer + early_a; early_b was filtered as late)
        want = {
            (r["ws"], r["n_events"])
            for r in newer.unionByName(early_a)
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .filter(F.col("window.end") <= F.lit(wm))
            .select(F.col("window.start").alias("ws"), "n_events")
            .collect()
        }
    early.unpersist()

    assert observed == n_newer + n_early       # every input row observed
    assert dropped == exp_dropped              # late drops == batch calc
    assert got == want                         # closed windows == batch


def test_quota_admission_multibatch_matches_batch_truth(
    spark, events_split, tmp_path
):
    """Per-key quota over TWO micro-batches (checkpointed restart in
    between): final admitted/dropped per user == LEAST/GREATEST batch
    truth, regardless of how events split across batches."""
    from utn_dataengineering_stockmarketpipeline_spark.streaming.ingest import (
        stateful_quota_admission,
    )

    base, d1, d2 = events_split
    stage = tmp_path / "in"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")
    k = 3

    def drain(out_dir: str):
        stream = stream_parquet(spark, str(stage), EVENTS_SCHEMA)
        quota = stateful_quota_admission(stream, "user_id", k=k)

        def write_batch(batch, _bid):
            batch.write.mode("append").parquet(out_dir)

        q = (
            quota.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.read.parquet(d1).coalesce(1).write.mode("append").parquet(str(stage))
    drain(str(tmp_path / "out1"))
    spark.read.parquet(d2).coalesce(1).write.mode("append").parquet(str(stage))
    out2 = str(tmp_path / "out2")
    drain(out2)

    got = {
        r["user_id"]: (r["n_admitted"], r["n_dropped"])
        for r in (
            spark.read.parquet(out2)
            .groupBy("user_id")
            .agg(
                F.max("n_admitted").alias("n_admitted"),
                F.max("n_dropped").alias("n_dropped"),
            )
            .collect()
        )
    }
    batch = (
        spark.read.schema(EVENTS_SCHEMA)
        .parquet(f"{stage}/*.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {
        r["user_id"]: (min(k, r["n"]), max(r["n"] - k, 0))
        for r in batch.collect()
    }
    # only keys seen in the SECOND drain emit rows there; check those
    assert got
    for uid, adm in got.items():
        assert adm == want[uid]


def test_stream_scd2_apply_version_chains(spark):
    from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import CATALOG
    from conftest import SF_SMOKE

    rows = CATALOG["stream_scd2_apply"].build(spark, SF_SMOKE).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["market_stockid"], []).append(r)
    assert len(by_key) == 5
    for key, versions in by_key.items():
        versions.sort(key=lambda r: r["valid_from"])
        nasdaq = any("(legacy)" in v["market_companyname"] for v in versions)
        assert len(versions) == (3 if nasdaq else 2)
        # half-open chain: each close date is the next version's open date
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert not a["is_current"]
        assert versions[-1]["is_current"]
        assert versions[-1]["valid_to"] is None
        assert versions[0]["market_companyname"].endswith("(v0)")
        assert not versions[-1]["market_companyname"].endswith(")")


def test_quarantine_sink_matches_batch_split(spark, events_split, tmp_path):
    """Streaming quality gate == batch quarantine_split over the same
    rows, regardless of micro-batch boundaries; quarantined rows keep
    their violation tags and clean rows reach the serving sink."""
    from utn_dataengineering_stockmarketpipeline_spark.operators import (
        expectations as ex,
    )
    from utn_dataengineering_stockmarketpipeline_spark.streaming.ingest import (
        quarantine_sink,
        stream_parquet,
    )

    _, d1, d2 = events_split
    schema = spark.read.parquet(d1).schema
    # own stream dir (the fixture is module-scoped and shared — never
    # mutate it): the two fixture drops plus a planted violating drop
    # so the quarantine side provably routes
    base = tmp_path / "feed"
    spark.read.parquet(d1).coalesce(1).write.parquet(str(base / "drop1"))
    spark.read.parquet(d2).coalesce(1).write.parquet(str(base / "drop2"))
    bad_rows = spark.read.parquet(d1).limit(3).withColumn("value", F.lit(-5.0))
    bad_rows.coalesce(1).write.parquet(str(base / "drop3"))
    batch_all = spark.read.parquet(f"{base}/drop*")

    rules = {
        "value_nonneg": F.col("value") >= 0,
        "type_known": F.col("event_type").isin(
            "view", "click", "purchase", "error", "signup"
        ),
    }
    q = quarantine_sink(
        stream_parquet(spark, f"{base}/drop*", schema, max_files_per_trigger=1),
        rules,
        str(tmp_path / "clean"),
        str(tmp_path / "quarantine"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    b_clean, b_bad = ex.quarantine_split(batch_all, rules)
    s_clean = spark.read.parquet(str(tmp_path / "clean"))
    s_bad = spark.read.parquet(str(tmp_path / "quarantine"))
    assert s_clean.count() == b_clean.count()
    assert "violations" not in s_clean.columns
    got = sorted(
        (r.event_id, tuple(sorted(r.violations))) for r in s_bad.collect()
    )
    want = sorted(
        (r.event_id, tuple(sorted(r.violations))) for r in b_bad.collect()
    )
    assert got == want and len(got) >= 3


def test_quarantine_sink_replay_is_idempotent(spark, events_split, tmp_path):
    """A replayed micro-batch (foreachBatch is at-least-once) must not
    duplicate already-written rows: each batch lands in its own
    batch_id=N partition with OVERWRITE, so re-processing the same
    batches onto the same sinks leaves counts unchanged. Simulated by
    draining the identical single-drop stream twice — second run with a
    FRESH checkpoint (so batch 0 genuinely re-executes) but the same
    sink directories."""
    from utn_dataengineering_stockmarketpipeline_spark.streaming.ingest import (
        quarantine_sink,
        stream_parquet,
    )

    _, d1, _ = events_split
    schema = spark.read.parquet(d1).schema
    rules = {"value_nonneg": F.col("value") >= 0}
    clean_dir, q_dir = str(tmp_path / "clean"), str(tmp_path / "quarantine")
    for run in ("ckpt_a", "ckpt_b"):
        q = quarantine_sink(
            stream_parquet(spark, f"{d1}/*.parquet", schema),
            rules,
            clean_dir,
            q_dir,
            str(tmp_path / run),
        )
        q.awaitTermination()
    n_src = spark.read.parquet(d1).count()
    n_clean = spark.read.parquet(clean_dir).count()
    n_bad = spark.read.parquet(q_dir).count()
    assert n_clean + n_bad == n_src


@pytest.mark.parametrize("name", ["stream_events_hourly", "stream_dedup_events"])
def test_drains_leave_no_sink_view(spark, name):
    """A catalog drain returns its memory sink's rows and drops the
    sink's temp view, so repeated builds hold no drained rows in the
    session: three builds leave no ``stream_*`` view and no active
    query, and each returns the same rows (``stream_dedup_events``
    aggregates the sink after the drop)."""
    from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import (
        CATALOG,
    )

    def views():
        return {t.name for t in spark.catalog.listTables()
                if t.isTemporary and t.name.startswith("stream_")}

    before = views()
    results = []
    for _ in range(3):
        rows = CATALOG[name].build(spark, SF_SMOKE).collect()
        results.append(sorted(tuple(r) for r in rows))
        assert views() == before
        assert not spark.streams.active
    assert results[0] and results[0] == results[1] == results[2]

