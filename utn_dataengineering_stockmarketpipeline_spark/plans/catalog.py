"""Query catalog — the driver contract's single source of truth.

Every implemented operator from SURVEY.md §2 (plus the large-scale
extension operators) registers here as a :class:`Query`:

- ``build(spark, sf_dir) -> DataFrame``: the Spark plan (the engine path),
- ``oracle``: equivalent DuckDB SQL over the same parquet views, or
  ``None`` for genuinely non-SQL-expressible ops (driver then records a
  rows-only check).

Column names are aliased identically on both sides — the driver's
comparator sorts columns by name before value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


CATALOG: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = "",
             tags: tuple[str, ...] = ()) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = Query(name=name, build=fn, oracle=oracle, doc=doc, tags=tags)
        return fn
    return deco


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from . import queries_reference  # noqa: F401
    from . import queries_analytics  # noqa: F401
    from . import queries_llm  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_joins  # noqa: F401


# Driver-window rotation policy
# -----------------------------
# The driver's per-round correctness check covers the FIRST 50 queries in
# catalog iteration order.  With 137+ registered queries, ordering is part
# of the verification contract; every query keeps full local oracle
# coverage via tests/test_catalog_oracle.py regardless of position.
#
# Round-17 rotation (freshness after r16, assuming the r16 window
# greens: r12x16 / r13x50 / r14x50 / r15x50 / r16x50):
#   1. the 16 remaining r12-green entries (burns the r12 backlog
#      completely) + the 29 oldest r13-green,
#   2. (pin = 45 leaves 5 window slots for new registrations, which
#      land at the pin; re-pin to 50 - planned if more are planned),
#   3. the remaining 21 r13-green head the tail (first into the
#      r18 window), then r14-green, r15-green, and the 50 round-16
#      window entries (freshest evidence, safely outside).
# NOTE: if CORRECTNESS_r16 has red rows, move them to the head
# before applying (the r11 lesson: never park a red row in the
# green tail).
_DRIVER_ORDER: tuple[str, ...] = (
    # -- 16 r12-green (the whole r12 backlog) + 29 oldest r13-green --
    "ana_shortest_path",
    "ana_top_customers",
    "ana_user_sessions",
    "ana_window_rank",
    "join_asof_nearest_price",
    "join_interp_calendar",
    "llm_dup_triangles",
    "llm_fuzzy_name_pairs",
    "llm_gopher_gate",
    "llm_incremental_dedup",
    "llm_minhash_calibration",
    "llm_mix_temperature",
    "llm_sequence_packing",
    "ref_daily_returns",
    "ref_snapshot_vacuum",
    "ref_var_backtest",
    "ana_basket_pairs",
    "ana_benford_profile",
    "ana_communities_lp",
    "ana_emd_drift",
    "ana_kcore_suppliers",
    "ana_ks_drift",
    "ana_mutual_info_lang_source",
    "ana_price_histogram",
    "ana_psi_drift",
    "ana_set_ops",
    "ana_winsorized_stats",
    "llm_ann_ivfpq_topk",
    "llm_bpe_tokens",
    "llm_dedup_keep_best",
    "llm_embedding_outliers",
    "llm_image_phash_pairs",
    "llm_substring_dedup",
    "llm_substring_scrub",
    "llm_token_budget_selection",
    "ref_autocorr_lag1",
    "ref_cusum_alarms",
    "ref_drawdown",
    "ref_get_last_price",
    "ref_global_max_date",
    "ref_latest_per_ticker",
    "ref_markets_table",
    "ref_normalize_market_payload",
    "ref_normalize_stock_payload",
    "ref_ohlc_monthly",
    # -- (pin = 45: new round-17 registrations slot in HERE) --
    # -- tail: remaining 21 r13-green (first into the r18 window),
    #    then r14, r15, and the 50 round-16 window entries (freshest) --
    "ref_rolling_30day_mean",
    "ref_rsi14",
    "ref_scalar_functions",
    "ref_scd0_new_markets",
    "ref_scd0_new_stock_keys",
    "ref_spearman_tickers",
    "ref_ticker_beta",
    "ref_ticker_correlation",
    "ref_top_movers",
    "ref_underwater_duration",
    "ref_vwap_monthly",
    "ref_watermarks",
    "ref_zscore_anomalies",
    "stream_dedup_within_watermark",
    "stream_events_hourly",
    "stream_hourly_topk",
    "stream_ks_drift",
    "stream_purchase_error_join",
    "stream_quota_admission",
    "stream_sliding_counts",
    "stream_user_sessions",
    "ana_approx_sketches",
    "ana_chi_square_lang_source",
    "ana_cube_returns",
    "ana_cusum_drift",
    "ana_gini_concentration",
    "ana_grouping_sets",
    "ana_mann_whitney_drift",
    "ana_market_share",
    "ana_nation_flow",
    "ana_priority_late_orders",
    "ana_quantity_percentiles",
    "ana_referential_orphans",
    "join_asof_tolerance_price",
    "llm_ann_recall_eval",
    "llm_bigram_logprob",
    "llm_boilerplate_ngrams",
    "llm_containment_pairs",
    "llm_contamination",
    "llm_dedup_exact",
    "llm_length_deciles",
    "llm_minhash_lsh_pairs",
    "llm_minhash_signatures",
    "llm_multimodal_features",
    "llm_ngram_jaccard_pairs",
    "llm_simhash",
    "llm_simhash_near_pairs",
    "llm_split_assignment",
    "llm_text_quality",
    "llm_token_entropy",
    "llm_token_stats",
    "llm_unigram_logprob",
    "llm_vocabulary",
    "llm_zipf_slope",
    "ref_bollinger_bands",
    "ref_ema20",
    "ref_ema20_chunked",
    "ref_macd",
    "ref_mann_kendall",
    "ref_ohlc_incremental",
    "ref_rolling_beta",
    "ref_scd1_markets",
    "ref_scd2_markets",
    "ref_stochastic_14",
    "ref_stock_prices_table",
    "ref_theil_sen_eval",
    "ref_theil_sen_slope",
    "ref_variance_ratio",
    "stream_cusum_drift",
    "stream_emd_drift",
    "stream_psi_drift",
    "ana_event_transitions",
    "ana_join_key_skew",
    "ana_jonckheere_trend",
    "ana_pivot_status",
    "ana_skyline_suppliers",
    "join_asof_next_price",
    "join_asof_price_at_ship",
    "join_ffill_calendar",
    "join_interval_promo_overlap",
    "join_range_price_bands",
    "llm_ann_ivf_topk",
    "llm_bm25_scores",
    "llm_bpe_train",
    "llm_cluster_balanced_sample",
    "llm_cosine_topk",
    "llm_doc_chunks",
    "llm_doc_profile",
    "llm_embedding_kmeans",
    "llm_embedding_near_dup",
    "llm_frame_sample_plan",
    "llm_heavy_hitters_cms",
    "llm_lang_id",
    "llm_lsh_recall_eval",
    "llm_ngram_novelty",
    "llm_phash_clusters",
    "llm_pii_scrub",
    "llm_prototype_pruning",
    "llm_quality_classifier",
    "llm_random_projection",
    "llm_repetition_ratio",
    "llm_resize_plan",
    "llm_sample_k_per_stratum",
    "llm_shard_assignment",
    "llm_source_mix",
    "llm_stratified_sample",
    "llm_temperature_resample",
    "llm_tfidf_top_terms",
    "llm_token_fertility",
    "llm_winnowing_fingerprints",
    "ref_ols_trend",
    "ref_scd2_as_of",
    "ref_seasonal_mann_kendall",
    "ref_table_diff",
    "ref_unpivot_ohlc",
    "stream_dedup_events",
    "stream_heavy_hitters",
    "stream_mann_whitney_drift",
    "stream_scd2_apply",
    "stream_stateful_totals",
    "stream_static_enrich",
    "ana_bfs_reach",
    "ana_big_orders",
    "ana_bloom_pruned_join",
    "ana_data_profile",
    "ana_distinct_users_salted",
    "ana_events_hourly",
    "ana_expectations_report",
    "ana_first_touch",
    "ana_funnel_conversion",
    "ana_hits_graph",
    "ana_important_parts",
    "ana_lapsed_customers",
    "ana_lead_lag",
    "ana_min_cost_supplier",
    "ana_order_priority",
    "ana_pagerank_suppliers",
    "ana_pareto_parts",
    "ana_pricing_summary",
    "ana_region_revenue",
    "ana_retention_cohorts",
    "ana_rollup_volume",
    "ana_sketches_exact",
    "ana_sole_late_supplier",
    "llm_ann_lsh_topk",
    "llm_ccnet_buckets",
    "llm_curation_embedding",
    "llm_curation_pipeline",
    "llm_dedup_keep_one",
    "llm_doc_chunks_udtf",
    "llm_doc_fingerprint",
    "llm_dsir_weights",
    "llm_dup_clusters",
    "llm_embedding_near_dup_lsh",
    "llm_embedding_norms",
    "llm_embedding_quantize",
    "llm_embedding_recall_eval",
    "llm_langid_confusion",
    "llm_semantic_clusters",
    "llm_semantic_dedup",
    "ref_calendar_gaps",
    "ref_runs_test",
    "ref_sharpe_ratio",
    "ref_snapshot_diff",
    "ref_snapshot_versions",
    "ref_turning_points",
    "ref_up_streaks",
    "ref_var_historical",
    "stream_incremental_dedup",
    "stream_jonckheere_trend",
    "stream_quarantine_gate",
)


# New (unlisted) queries slot in after the must-verify head.
# 45 + up to 5 new registrations = the full 50-query window.
_WINDOW_PIN = 45


def _apply_driver_order() -> None:
    """Rebuild CATALOG in _DRIVER_ORDER; unlisted queries (added after
    the ordering above was pinned) slot in at _WINDOW_PIN — right after
    the must-verify head, inside the driver's 50-query window."""
    unlisted = [n for n in CATALOG if n not in _DRIVER_ORDER]
    head = _DRIVER_ORDER[:_WINDOW_PIN]
    rest = _DRIVER_ORDER[_WINDOW_PIN:]
    ordered = [*head, *unlisted, *rest]
    missing = [n for n in ordered if n not in CATALOG]
    if missing:
        raise RuntimeError(f"_DRIVER_ORDER references unknown queries: {missing}")
    reordered = {n: CATALOG[n] for n in ordered}
    CATALOG.clear()
    CATALOG.update(reordered)


_load_all()
_apply_driver_order()
