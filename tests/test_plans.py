"""Physical-plan audits — the 100 TB posture checks (SURVEY.md §4.2).

Correctness says what a query returns; these tests pin HOW: small dims
must broadcast, filters and projections must reach the parquet scan,
partition layouts must prune, and no LSH/near-dup plan may degrade to a
nested-loop cross product. A regression here is a 100x cliff at scale
that no value test would catch.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import re
import uuid

from pyspark.sql import functions as F

from utn_dataengineering_stockmarketpipeline_spark.operators import dedup
from utn_dataengineering_stockmarketpipeline_spark.operators import warehouse as wh
from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import CATALOG
from utn_dataengineering_stockmarketpipeline_spark.schemas import STOCK_PRICES
from utn_dataengineering_stockmarketpipeline_spark.sources import lake
from utn_dataengineering_stockmarketpipeline_spark.sources.parquet import load_table

from conftest import SF_SMOKE


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_get_last_price_broadcasts_dimension(spark):
    plan = plan_of(CATALOG["ref_get_last_price"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = load_table(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_quantity") > 40
    ).select("l_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan


def test_column_pruning_text_quality_reads_two_columns(spark):
    plan = plan_of(CATALOG["llm_text_quality"].build(spark, SF_SMOKE))
    start = plan.index("ReadSchema")
    schema_line = plan[start : plan.index("\n", start)]
    assert "doc_id" in schema_line and "text" in schema_line
    for unused in ("lang", "source", "n_chars"):
        assert unused not in schema_line, f"scan reads unused column {unused}"


def test_lake_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "bronze")
    df = spark.range(200).select(
        F.col("id").alias("n"),
        (F.lit(2020) + (F.col("id") % 4)).cast("int").alias("stock_year"),
        (F.lit(1) + (F.col("id") % 12)).cast("int").alias("stock_month"),
    )
    df.write.partitionBy("stock_year", "stock_month").parquet(path)
    scan = lake.read_lake(spark, path).filter(F.col("stock_year") == 2021)
    plan = plan_of(scan)
    assert "PartitionFilters" in plan
    assert "stock_year" in plan[plan.index("PartitionFilters") :].split("]")[0]
    # pruning is effective, not just present: only 2021 files are read
    assert scan.select(F.count(F.lit(1))).first()[0] == 50


def test_scd0_commit_prunes_warehouse_partitions(spark):
    """The SCD-0 commit's warehouse scan carries a year/month partition
    filter from the staged batch: after commits in January and
    February, a February batch reads only February files, and more
    January days do not add to them."""
    tag = uuid.uuid4().hex[:8]
    stage, dw = f"prune_stage_{tag}", f"prune_dw_{tag}"

    def stage_day(d):
        row = (d, 1.0, 1.0, 1.0, 1.0, 1, "AAA", d.year, d.month, d.day,
               f"{d}/AAA")
        df = spark.createDataFrame([row], STOCK_PRICES)
        return wh.save_to_stage(spark, "stock_prices", df, stage)[1]

    def commit(days):  # one append per day
        for d in days:
            since = stage_day(d)
            wh.commit_to_warehouse(spark, "stock_prices", stage, dw, since)

    def target_scan(d):
        pending = wh.pending_rows(spark, "stock_prices", stage_day(d), stage, dw)
        files = {f for f in pending.inputFiles() if f"/{dw}.db/" in f}
        return plan_of(pending), files

    jan = [dt.date(2024, 1, d) for d in range(1, 7)]
    wh.create_tables(spark, stage, dw)
    try:
        commit(jan[:3] + [dt.date(2024, 2, 1)])
        plan, files = target_scan(dt.date(2024, 2, 2))
        scan = re.search(
            rf"\(\d+\) Scan parquet spark_catalog\.{dw}\.stock_prices\n(.*?)\n\n",
            plan, re.S,
        ).group(1)
        filters = [
            ln for ln in scan.splitlines() if ln.startswith("PartitionFilters")
        ]
        assert filters, scan
        assert "stock_year" in filters[0] and "stock_month" in filters[0]
        assert files and all("/stock_year=2024/stock_month=2/" in f for f in files)
        commit(jan[3:])
        assert target_scan(dt.date(2024, 2, 2))[1] == files
    finally:
        wh.delete_schemas(spark, stage, dw)


def test_no_nested_loop_in_lsh_and_simhash_plans(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    for df in (
        dedup.minhash_candidates(docs),
        dedup.simhash_near_pairs(docs),
        dedup.embedding_near_dup_pairs_lsh(emb, dim=64),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_equi_join_on_buckets(spark):
    plan = plan_of(CATALOG["join_range_price_bands"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_window_no_join_operator(spark):
    """The as-of plan is union + window — any *Join node means the
    nested-loop formulation snuck back in."""
    plan = plan_of(CATALOG["join_asof_price_at_ship"].build(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_nation_flow_broadcasts_dims_no_fact_shuffle_for_dims(spark):
    """Q7 shape: every dimension join broadcasts (at sf0.001 even
    orders fits the broadcast threshold — also correct); the fact never
    hash-shuffles for a dim join, and no nested loop anywhere."""
    plan = plan_of(CATALOG["ana_nation_flow"].build(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4  # s, c, nation×2 (+o)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only allowed hash-partition exchange is the final aggregation
    # (a dim join shuffling the fact would add more)
    agg_exchanges = plan.count("Exchange hashpartitioning")
    join_types = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert agg_exchanges <= 1 + 2 * join_types


def test_market_share_filters_push_to_scans(spark):
    """Q8 shape: the part/region predicates must reach the parquet scans
    (PushedFilters), not run post-join."""
    plan = plan_of(CATALOG["ana_market_share"].build(spark, SF_SMOKE))
    assert "EqualTo(p_type,PROMO)" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "CartesianProduct" not in plan


def test_late_orders_exists_lowers_to_semi_join(spark):
    plan = plan_of(CATALOG["ana_priority_late_orders"].build(spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_covers_transform_layer(spark):
    """The normalize projection must fuse into codegen'd stages (the
    reference's eager pandas steps collapse to one map stage here)."""
    plan = plan_of(CATALOG["ref_normalize_stock_payload"].build(spark, SF_SMOKE))
    # formatted mode stars codegen'd nodes; the projection must be one
    assert "* Project" in plan


def test_tfidf_and_clusters_no_nested_loop(spark):
    for name in ("llm_tfidf_top_terms", "llm_dup_clusters", "ref_scd2_markets"):
        plan = plan_of(CATALOG[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_round3_queries_no_nested_loop(spark):
    """The r3 join/curation additions must lower to equi-joins (bucketed
    or broadcast-hash), never nested-loop fallbacks, and the funnel must
    not Expand event rows."""
    for name in (
        "join_interval_promo_overlap",
        "join_ffill_calendar",
        "join_asof_next_price",
        "llm_containment_pairs",
        "llm_boilerplate_ngrams",
        "llm_curation_pipeline",
        "ana_sole_late_supplier",
        "ana_retention_cohorts",
    ):
        plan = plan_of(CATALOG[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    funnel = plan_of(CATALOG["ana_funnel_conversion"].build(spark, SF_SMOKE))
    assert "Expand" not in funnel


def test_reference_table_cache_eviction(spark):
    """Sweeping several scale factors must not accumulate persisted
    tables forever: evict_materialized frees one sf_dir's tables (or
    all) and unpersists them (ADVICE/VERDICT r2)."""
    from utn_dataengineering_stockmarketpipeline_spark.plans import (
        reference_tables as rt,
    )

    sf1, sf2 = SF_SMOKE, "/root/testdata/sf0.01"
    df1 = rt.stock_prices(spark, sf1)
    rt.markets(spark, sf1)
    df2 = rt.stock_prices(spark, sf2)
    app = spark.sparkContext.applicationId
    assert sum(1 for k in rt._CACHE if k[0] == app and k[1] == sf1) == 2

    n = rt.evict_materialized(spark, sf1)
    assert n == 2
    assert not [k for k in rt._CACHE if k[0] == app and k[1] == sf1]
    assert df1.storageLevel.useMemory is False  # actually unpersisted
    assert df2.storageLevel.useMemory is True   # other sf untouched

    rt.evict_materialized(spark)
    assert not [k for k in rt._CACHE if k[0] == app]
    assert df2.storageLevel.useMemory is False


def test_round6_queries_plan_shapes(spark):
    """Round-6 additions keep the 100 TB posture: the skyline join-back
    broadcasts the tiny frontier, the histogram reads only the price
    column, and no new plan degrades to a nested loop."""
    plan = plan_of(CATALOG["ana_pareto_parts"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    plan = plan_of(CATALOG["ana_price_histogram"].build(spark, SF_SMOKE))
    start = plan.index("ReadSchema")
    schema_line = plan[start : plan.index("\n", start)]
    assert "p_retailprice" in schema_line and "p_name" not in schema_line

    for name in (
        "llm_fuzzy_name_pairs",
        "ana_first_touch",
        "ref_zscore_anomalies",
        "llm_sequence_packing",
        "llm_incremental_dedup",
        "join_interp_calendar",
    ):
        plan = plan_of(CATALOG[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name


def test_length_deciles_no_single_partition_window(spark):
    """exact_ntile must not funnel the table through one task: no
    global (unpartitioned) window and no ntile in the physical plan —
    the broadcast-offset formulation only."""
    plan = plan_of(CATALOG["llm_length_deciles"].build(spark, SF_SMOKE))
    assert "Exchange SinglePartition" not in plan
    assert "ntile" not in plan.lower()
    assert "BroadcastHashJoin" in plan  # offsets join back broadcast


def test_round7_queries_plan_shapes(spark):
    """Round-7 additions keep the 100 TB posture: BM25 filters tokens
    before any shuffle, the new analytics lower to equi-joins (no
    nested loops), and the as-of tolerance variant stays the
    join-free union-window plan."""
    for name in (
        "llm_vocabulary",
        "ref_ohlc_incremental",
        "ref_stochastic_14",
        "llm_split_assignment",
    ):
        plan = plan_of(CATALOG[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    # bm25/unigram join a BROADCAST 1-row stats aggregate (the allowed
    # scalar cross-join pattern); an unbroadcast CartesianProduct would
    # still be a regression
    for name in ("llm_bm25_scores", "llm_unigram_logprob"):
        plan = plan_of(CATALOG[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name

    plan = plan_of(CATALOG["join_asof_tolerance_price"].build(spark, SF_SMOKE))
    assert "Join" not in plan  # union-window form, not a join operator
    assert plan.count("Window") >= 1


def test_incremental_candidates_cross_side_only(spark):
    """The incremental LSH path must pair batch docs against corpus docs
    ONLY — near-identical corpus docs must not appear as pairs, and a
    batch doc duplicating a corpus doc must be caught."""
    from pyspark.sql import Row

    base = "the quick brown fox jumps over the lazy dog " * 10
    rows = [
        Row(doc_id=1, text=base),                      # corpus
        Row(doc_id=2, text=base + "tail"),             # corpus near-dup of 1
        Row(doc_id=10, text=base + "x"),               # batch near-dup
        Row(doc_id=11, text="completely different words entirely " * 12),
    ]
    df = spark.createDataFrame(rows)
    corpus = df.filter(F.col("doc_id") < 10)
    batch = df.filter(F.col("doc_id") >= 10)
    pairs = dedup.incremental_candidates(corpus, batch).collect()
    assert all(p.corpus_id < 10 <= p.batch_id for p in pairs)
    assert any(p.batch_id == 10 for p in pairs), "batch near-dup missed"
    assert not any(p.batch_id == 11 for p in pairs)


def test_round8_queries_plan_shapes(spark):
    """r8 plan guards: semantic dedup must never degrade to a nested
    loop (in-cluster pairing is an equi-join on centroid) and must not
    shuffle vector payloads through the pair join; the UDTF chunker
    runs as a Python table function fused after the scan (no shuffle);
    the exact sketches companion keeps a two-column scan."""
    plan = plan_of(CATALOG["llm_semantic_dedup"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = plan_of(CATALOG["llm_doc_chunks_udtf"].build(spark, SF_SMOKE))
    assert "PythonUDTF" in plan or "udtf" in plan.lower()
    assert "Exchange" not in plan  # row->set expansion is a map stage

    plan = plan_of(CATALOG["ana_sketches_exact"].build(spark, SF_SMOKE))
    start = plan.index("ReadSchema")
    schema_line = plan[start : plan.index("\n", start)]
    assert "user_id" in schema_line and "value" in schema_line
    assert "props" not in schema_line


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """100 TB scan-pruning lever: a selective dimension filter must be
    able to inject a runtime Bloom filter (`might_contain`) onto the
    FACT side of a shuffle join, so the big scan drops non-joining rows
    before the exchange. Spark's defaults gate this on scan size
    (applicationSideScanSizeThreshold=10GB — correct at cluster scale,
    never met by sf-scale test files), so the thresholds are scoped
    down here to pin the capability and the conf names."""
    import contextlib
    import io

    from utn_dataengineering_stockmarketpipeline_spark.plans.confscope import (
        scoped_sql_conf,
    )
    from utn_dataengineering_stockmarketpipeline_spark.sources.parquet import (
        load_table,
    )

    with scoped_sql_conf(
        spark,
        **{
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold": "100MB",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            "l_orderkey", "l_quantity"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "might_contain" in plan          # fact-side probe injected
        assert "bloom_filter_agg" in plan       # dim-side build aggregate


def test_round9_queries_plan_shapes(spark):
    """Round-9 additions keep the 100 TB posture: policy/selection/
    outlier/scrub plans stay nested-loop-free, the outlier centroid
    join broadcasts, selection's per-score branch prunes to the text
    column, and no operator re-explodes what zip_with can do in-row."""
    for name in (
        "llm_dedup_keep_best",
        "llm_substring_scrub",
        "llm_embedding_outliers",
    ):
        plan = plan_of(CATALOG[name].build(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    # token-budget: the 1-row total rides the allowed broadcast
    # cross-join; an unbroadcast CartesianProduct would be a regression
    plan = plan_of(CATALOG["llm_token_budget_selection"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # the per-score aggregate branch must scan ONLY the text column
    assert "struct<text:string>" in plan

    plan = plan_of(CATALOG["llm_embedding_outliers"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan      # centroid array join
    # one explode for the per-dim sums; distance is in-row zip_with
    assert plan.count("posexplode") == 1

    # keep-best ranks inside clusters — a window partitioned by the
    # cluster key, never a global (empty-partition-spec) sort
    plan = plan_of(CATALOG["llm_dedup_keep_best"].build(spark, SF_SMOKE))
    assert "Window" in plan


def test_round10_queries_plan_shapes(spark):
    """Round-10 additions keep the 100 TB posture: the projection and
    transition plans are shuffle-minimal, the SCD2 snapshot rides one
    generator (no per-date re-scan), the k-means profile is one Arrow
    pass + one aggregate, and token-budget selection holds its
    two-scan shape (down from four in r9)."""
    # random projection: zero shuffle — map stage + generator only
    plan = plan_of(CATALOG["llm_random_projection"].build(spark, SF_SMOKE))
    assert "Exchange" not in plan
    # formatted explain lists each node twice (tree + detail section)
    assert plan.count("Scan parquet") == 2

    # scd2 as-of: the three report dates ride ONE explode of a literal
    # array — never one pass (or one join) per date
    plan = plan_of(CATALOG["ref_scd2_as_of"].build(spark, SF_SMOKE))
    assert plan.count("Generate") == 2
    assert "CartesianProduct" not in plan

    # event transitions: the probability normalizer windows the TINY
    # (prev, next) aggregate, so the plan has exactly one aggregate
    # pair below the final window, and the lag window partitions by
    # user (no empty-partition-spec global window anywhere)
    plan = plan_of(CATALOG["ana_event_transitions"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 2

    # k-means profile: one Arrow assignment pass over the corpus, one
    # aggregate — no join, no window
    plan = plan_of(CATALOG["llm_embedding_kmeans"].build(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2

    # phash clusters: banded equi-joins, never a pair explosion
    plan = plan_of(CATALOG["llm_phash_clusters"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # token-budget selection (r10 rewrite): exactly TWO corpus scans —
    # the pruned text-only decision branch and the id+text join branch
    # (the r9 form paid four)
    plan = plan_of(
        CATALOG["llm_token_budget_selection"].build(spark, SF_SMOKE)
    )
    assert plan.count("Scan parquet") == 4
    assert "struct<text:string>" in plan  # decision branch stays pruned


def test_round10_continuation_plan_shapes(spark):
    # prototype pruning: ONE Arrow assignment pass + one narrow rank
    # window on centroid — no join exists at all (unlike SemDeDup
    # there is no in-cluster pair term)
    plan = plan_of(CATALOG["llm_prototype_pruning"].build(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2

    # CMS heavy hitters: the d*w-row sketch and the 1-row total both
    # come back as BROADCAST joins — the only shuffle over unbounded
    # data is the map-side-combined bigram count
    plan = plan_of(CATALOG["llm_heavy_hitters_cms"].build(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin") >= 2


def test_round10_continuation_plan_shapes_2(spark):
    # temperature resample: the |sources|-row target relation comes
    # back as a BROADCAST join; no sort-merge exchange anywhere
    plan = plan_of(CATALOG["llm_temperature_resample"].build(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    # join-key skew profile: hottest keys ride a distributed top-k
    # (TakeOrdered), never a global sort; summary relations attach as
    # broadcast nested-loop 1-row joins, not real cartesians over data
    plan = plan_of(CATALOG["ana_join_key_skew"].build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_round10_tail_plan_shapes(spark):
    # shard assignment: exactly ONE exchange (hash by shard) feeds the
    # rank window — never a global single-partition sort, no join
    plan = plan_of(CATALOG["llm_shard_assignment"].build(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count(") Exchange") == 1  # detail-section operator ids
    assert "Window" in plan

    # n-gram novelty: first-occurrence attribution is a min-window BY
    # HASH — no self-join of the pairs relation anywhere
    plan = plan_of(CATALOG["llm_ngram_novelty"].build(spark, SF_SMOKE))
    assert "Join" not in plan

    # skyline: Arrow local prune + final sweep (two MapInPandas), the
    # supplier dim broadcast; no sort-merge exchange, no dominance
    # cartesian — the O(n^2) form lives only in the oracle
    plan = plan_of(CATALOG["ana_skyline_suppliers"].build(spark, SF_SMOKE))
    assert plan.count(") MapInPandas") == 2  # detail-section operator ids
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ks_drift_reuses_the_counts_exchange(spark):
    # ks_drift derives groups/values/total AND the join probe from ONE
    # per-(group, value) counts relation; the explicit null filter
    # keeps all four consumer branches canonically identical so the
    # runtime plan reuses the single counts exchange instead of
    # re-running the corpus scan+agg per consumer (visible only in the
    # EXECUTED plan — AQE materializes reuse at runtime)
    df = CATALOG["ana_ks_drift"].build(spark, SF_SMOKE)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # exchange-reuse materialization is a runtime artifact sensitive to
    # Spark version / AQE config / input sizes (r13 ADVICE) — assert
    # that reuse happened at all, not an exact node count
    assert "ReusedExchange" in executed

    # fertility: one scan, one map-side-combined aggregation — nothing else
    plan = plan_of(CATALOG["llm_token_fertility"].build(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count(") Exchange") == 1


def test_round11_queries_plan_shapes(spark):
    # expectations report: ONE scan, ONE aggregation, no join — k rules
    # must never mean k scans
    plan = plan_of(CATALOG["ana_expectations_report"].build(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count(") Scan parquet") == 1

    # VaR/CVaR: the per-ticker (n, k) stats relation must BROADCAST
    # back (tiny), never shuffle-join the ranked returns
    plan = plan_of(CATALOG["ref_var_historical"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # Sharpe: one scan, aggregation only — no join at all
    plan = plan_of(CATALOG["ref_sharpe_ratio"].build(spark, SF_SMOKE))
    assert "Join" not in plan

    # up-streaks: rn_all and rn_pos ride the SAME (ticker, date)
    # partitioning — the islands idiom must not add a second sort of
    # the returns (one window sort + the final tiny runs-ranking sort)
    plan = plan_of(CATALOG["ref_up_streaks"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_bfs_reach_plan_shapes(spark):
    # the edge list partitions ONCE by the join key; every relaxation
    # round's executed plan must then reuse that exchange (AQE
    # materializes the reuse at runtime) rather than re-shuffling the
    # corpus-scale edge relation per round
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        bfs_hops,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
    )
    seeds = (
        load_table(spark, SF_SMOKE, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select(F.concat(F.lit("C"), F.col("c_custkey")).alias("node"))
    )
    out = bfs_hops(edges, seeds, max_hops=3)
    plan = plan_of(out)
    # result of the relaxation loop is a checkpointed flat relation —
    # the lazy tail must NOT contain the whole round tree (that was the
    # 87s->8s bug): no joins, no parquet scans survive into it
    assert "Scan parquet" not in plan
    assert "Join" not in plan


def test_round12_queries_plan_shapes(spark):
    # Kupiec backtest: fitted (ticker, n_est, var_ppm) is a tiny
    # relation — it must BROADCAST back over the test slice, and the
    # violation count must be a plain aggregation (no extra sort of
    # the test returns beyond the shared lag window)
    plan = plan_of(CATALOG["ref_var_backtest"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    # Gopher gate: k rules = ONE scan + ONE aggregation, never k scans
    plan = plan_of(CATALOG["llm_gopher_gate"].build(spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count(") Scan parquet") == 1

    # winsorized: count stats and clip bounds both broadcast back;
    # the rank window is the only per-group sort
    plan = plan_of(CATALOG["ana_winsorized_stats"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

    # mutual information: margins broadcast onto the tiny cell
    # relation; the ONE corpus-scale operation is the cell count agg
    plan = plan_of(
        CATALOG["ana_mutual_info_lang_source"].build(spark, SF_SMOKE)
    )
    assert "SortMergeJoin" not in plan
    assert plan.count(") Scan parquet") == 1

    # triangle census: the canonical edge relation is checkpointed
    # flat, so the lazy tail has no parquet scans; the EDGE joins ride
    # equi-joins — the only nested-loop joins are the two final
    # crossJoins assembling three single-row aggregates (1x1 rows,
    # harmless by construction)
    plan = plan_of(CATALOG["llm_dup_triangles"].build(spark, SF_SMOKE))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count(") BroadcastNestedLoopJoin") == 2  # detail ids
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )

    # weighted shortest path / k-core: checkpointed loop results —
    # the returned tail must be flat (the bfs discipline)
    plan = plan_of(CATALOG["ana_shortest_path"].build(spark, SF_SMOKE))
    assert "Scan parquet" not in plan and "Join" not in plan
    plan = plan_of(CATALOG["ana_kcore_suppliers"].build(spark, SF_SMOKE))
    assert "Scan parquet" not in plan


def test_round13_queries_plan_shapes(spark):
    # EMD drift: the ks_drift discipline — groups/values/total AND the
    # probe all derive from ONE counts exchange; reuse materializes in
    # the EXECUTED plan (AQE), exactly like the ks_drift guard
    df = CATALOG["ana_emd_drift"].build(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # exact reuse-node counts are engine/AQE sensitive (r13 ADVICE)
    assert "ReusedExchange" in executed

    # Spearman: the rank windows partition BY PAIR — the plan must not
    # contain a partition-free global Sort feeding a Window
    plan = plan_of(CATALOG["ref_spearman_tickers"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan

    # basket pairs: the pair generator is an EQUI self-join on the
    # basket key (never a nested loop) and the basket-size gate is a
    # semi-join; the only nested-loop join is the single 1-row
    # n_baskets assembly crossJoin (the triangle-census idiom)
    plan = plan_of(CATALOG["ana_basket_pairs"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count(") BroadcastNestedLoopJoin") == 1

    # Benford: ONE 9-group count aggregation over the fact scan, then
    # everything (total, ppm, deviation) derives from the checkpointed
    # 9-row counts — the lazy tail must contain no parquet scan at all
    plan = plan_of(CATALOG["ana_benford_profile"].build(spark, SF_SMOKE))
    assert "Scan parquet" not in plan
    assert "SortMergeJoin" not in plan

    # label propagation: returned labels are a checkpointed loop
    # result — flat tail, no parquet re-scan, no join re-derivation
    plan = plan_of(CATALOG["ana_communities_lp"].build(spark, SF_SMOKE))
    assert "Scan parquet" not in plan and "Join" not in plan

    # Gini: the corpus-side window partitions BY BUCKET; the only
    # unpartitioned window cumulates the tiny bucket relation. Guard:
    # every Window in the plan that consumes the ranked corpus comes
    # after the bucket hash exchange, and offsets broadcast back
    plan = plan_of(CATALOG["ana_gini_concentration"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    # variance ratio: both moment aggregations share the one
    # per-ticker sort (window exchange reuse); the m1⋈mq join is on
    # the tiny per-ticker relation
    plan = plan_of(CATALOG["ref_variance_ratio"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan

    # Zipf slope: rides vocabulary's offset-ranked window — broadcast
    # offsets, count-partitioned window, no single-partition global
    # sort of the vocabulary
    plan = plan_of(CATALOG["llm_zipf_slope"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    # ANN recall eval: the exact side is the bounded broadcast
    # baseline; the hit join is an equi-join on (query, neighbor)
    plan = plan_of(CATALOG["llm_ann_recall_eval"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_round14_queries_plan_shapes(spark):
    # CUSUM / Mann-Whitney drift: the ks_drift grid discipline — the
    # per-(group, value) counts relation feeds every consumer, the
    # grid joins broadcast, nothing sort-merges the corpus
    for name in ("ana_cusum_drift", "ana_mann_whitney_drift"):
        plan = plan_of(CATALOG[name].build(spark, SF_SMOKE))
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name

    # Mann-Kendall: the capped equi-self-join pair generator (same as
    # theil_sen) + one map-side-combined aggregate — no cartesian, no
    # window anywhere
    plan = plan_of(CATALOG["ref_mann_kendall"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan

    # Theil-Sen eval: the contaminated pair join is still an equi-join;
    # the OLS legs are moment aggregates — no cartesian fallback
    plan = plan_of(CATALOG["ref_theil_sen_eval"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round15_queries_plan_shapes(spark):
    # OLS trend: the epoch-anchor change means NO window anywhere —
    # one map-side-combined moment aggregate + the tiny n_obs join
    plan = plan_of(CATALOG["ref_ols_trend"].build(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan

    # Seasonal Mann-Kendall: the season key rides INSIDE the pair
    # equi-join (never a cartesian), no window, same as mann_kendall
    plan = plan_of(
        CATALOG["ref_seasonal_mann_kendall"].build(spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in plan
    assert "Window" not in plan

    # Jonckheere: counts-grid discipline — grid joins broadcast,
    # nothing sort-merges the corpus (the drift-family guard)
    plan = plan_of(CATALOG["ana_jonckheere_trend"].build(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    # LSH recall eval: truth join + candidate semi-join are equi-joins
    # on hash/pair keys — no cartesian, no nested-loop fallback
    plan = plan_of(CATALOG["llm_lsh_recall_eval"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_staged_r16_plan_shapes(spark):
    """Plan guards for the operators pre-built this round (registered
    next round) — pinned now so a regression can't hide in the gap."""
    import datetime as dt

    from utn_dataengineering_stockmarketpipeline_spark.operators import (
        graph,
        risk,
    )
    from utn_dataengineering_stockmarketpipeline_spark.plans.reference_tables import (
        stock_prices,
    )

    sp = stock_prices(spark, SF_SMOKE)
    # runs test: two per-entity windows + one aggregate — no joins at
    # all beyond the final projection, certainly no cartesian
    plan = plan_of(risk.runs_test(sp))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan

    # turning points: ONE window (lag+lead share it) + one aggregate.
    # The formatted plan names each node twice (tree line + detail
    # section), so count the numbered detail entries.
    import re

    plan = plan_of(risk.turning_points(sp))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1

    # HITS returns an eagerly localCheckpointed relation, so its
    # post-checkpoint plan shows nothing — the recurrence's join shape
    # is covered by the brute-force value test (test_r15_ops) and the
    # namespace-replica scale evidence; here we just pin that the
    # output schema is the integer-ppm contract
    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("x", "a")], "src string, dst string"
    )
    out = graph.hits(edges, iters=2)
    assert [f.name for f in out.schema.fields] == [
        "node", "hub_ppm", "auth_ppm",
    ]
    assert all(f.dataType.simpleString() == "bigint"
               for f in out.schema.fields[1:])


def test_round17_queries_plan_shapes(spark):
    """Plan guards for the five r17 registrations."""
    import re

    # ACF: exactly TWO Window nodes — returns_ppm's LAG and the ONE
    # lead-stack pass that emits all ten horizons (not one per lag);
    # both ride the same (entity, date) partitioning so they share a
    # single sort. The stack + moment aggregate add no join at all
    plan = plan_of(CATALOG["ref_acf"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "Join" not in plan

    # Ljung-Box: the ACF plan + the per-entity n_obs attach — an
    # equi-join on the entity key, never a cartesian/BNLJ
    plan = plan_of(CATALOG["ref_ljung_box"].build(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # Kruskal-Wallis: counts-grid discipline — the per-value rank
    # relation broadcasts onto the counts; nothing sort-merges the
    # corpus (the jonckheere guard)
    plan = plan_of(CATALOG["ana_kruskal_wallis"].build(spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    # token-KL: margins are source-/term-partitioned windows over the
    # CELL relation and the grand total is a 1-row broadcast — no
    # whole-relation single-partition window (the MI margin lesson:
    # every Window node must carry a partition key)
    plan = plan_of(
        CATALOG["llm_kl_source_divergence"].build(spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in plan
