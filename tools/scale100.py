"""One-off 100x scale-evidence capture -> SCALE_100X.json.

The per-round bench runs scale_evidence at factor=10; this script
re-measures the LINEAR-OUTPUT operator subset at factor=100 (sf0.1
base: 500k documents, 200k embeddings, 10M-row synthetic dimensions)
so the "would the plan survive a 100x scale-up?" question has a
measured answer, not an extrapolated one.

Deliberately EXCLUDED at 100x — and why (all are data properties of
the replica construction, not operator scaling):
- minhash/sign-LSH pair generation over exact-copy replicas: every
  replica group of 100 collides in every band, so the PAIR OUTPUT
  itself grows ~quadratically in the factor (100 copies -> 4950 pairs
  per group vs 45 at 10x). The 10x entries in bench_out.json keep the
  worst-case-collision measurement; here the same pipeline is instead
  measured on SCRAMBLED (zero-collision) replicas, which isolates the
  signature/banding/bucket-shuffle cost the operator actually owns.
- cc_minhash: its input is that quadratic pair graph. cc_chain (the
  deeper, adversarial diameter case) and the PageRank namespace
  replica carry the iterative-graph evidence instead.

Timing: min-of-2 with full-GC isolation at BOTH scales (same
convention as bench.scale_evidence). The r10 capture proved tens-of-
seconds runs are NOT jitter-proof on this host (semantic_dedup 100x:
45.4 / 186.3 / 82.1 s across captures of identical code — ±2x load
swings), so the second sample is the price of usable evidence even
though it doubles a ~20-min capture.

Usage: python tools/scale100.py [factor]   (default 100, sf from
SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

import bench  # noqa: E402
from utn_dataengineering_stockmarketpipeline_spark.session import (  # noqa: E402
    get_spark,
)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # The x100 graph section persists ~140M-row undirected edge
    # relations; the engine's 8g default heap is marginal there (two
    # captures OOMed in pagerank/LPA at x100 while every operator
    # section passed). The capture is a one-off evidence tool on a
    # 128 GiB box — default it to a roomier heap, overridable.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = get_spark("utn-stockmarket-scale100")

    from pyspark.sql import functions as F

    from utn_dataengineering_stockmarketpipeline_spark.operators import (
        dedup,
        multimodal,
        similarity,
        text as text_ops,
    )
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        pagerank,
    )

    out: dict = {"factor": factor, "sf_dir": sf_dir}

    def timed(label: str, build, samples: int = 1) -> None:
        best = n = None
        for _ in range(samples):
            bench._full_gc(spark)
            t0 = time.perf_counter()
            n = build().count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[label] = {"sec": round(best, 3), "rows": n}
        print(f"  {label}: {out[label]}", flush=True)

    def pair(stem: str, thunk_1x, thunk_nx) -> None:
        timed(f"{stem}_1x", thunk_1x, samples=2)
        # min-of-2 at Nx as well since the r10 capture: this host
        # shows ±2x load jitter (the r10 semantic_dedup 100x sample
        # measured 45.4/186.3/82.1 s across captures of IDENTICAL
        # code), and a single sample cannot distinguish that from a
        # plan defect. Doubles capture time; evidence quality first.
        timed(f"{stem}_{factor}x", thunk_nx, samples=2)

    # --- documents-based operators -----------------------------------
    print("documents-based operators", flush=True)
    docs_1x = bench._replicate_docs(spark, sf_dir, 1)
    docs_nx = bench._replicate_docs(spark, sf_dir, factor)
    for df in (docs_1x, docs_nx):
        df.persist().count()
    pair("token_budget",
         lambda: text_ops.token_budget_selection(docs_1x),
         lambda: text_ops.token_budget_selection(docs_nx))
    pair("bpe_encode",
         lambda: text_ops.bpe_token_stats(docs_1x),
         lambda: text_ops.bpe_token_stats(docs_nx))
    # r10 tail: shard assignment (map + shard-partitioned rank — the
    # per-shard sort is the only super-linear term), KS drift (grid
    # bounded by the VALUE DOMAIN — identical at 1x and 100x, so wall
    # tracks the count scan), 2-D skyline (candidates stay O(log n)
    # per partition)
    pair("shard_assignment",
         lambda: text_ops.shard_assignment(docs_1x),
         lambda: text_ops.shard_assignment(docs_nx))
    from utn_dataengineering_stockmarketpipeline_spark.operators import skew
    from utn_dataengineering_stockmarketpipeline_spark.operators.skyline import (
        skyline_2d,
    )
    from utn_dataengineering_stockmarketpipeline_spark.functions.hashing import (
        md5_prefix64,
    )

    def _sourced(docs):
        return docs.select(
            F.length("text").alias("n_chars"),
            F.concat(F.lit("src"), (F.col("doc_id") % 10)).alias("source"),
        )

    pair("ks_drift",
         lambda: skew.ks_drift(_sourced(docs_1x), "n_chars", "source"),
         lambda: skew.ks_drift(_sourced(docs_nx), "n_chars", "source"))
    # PSI rides the same counts grid as KS (plus a broadcast boundary
    # relation) — its ratio should track ks_drift's scan-bound ~2
    pair("psi_drift",
         lambda: skew.psi_drift(_sourced(docs_1x), "n_chars", "source"),
         lambda: skew.psi_drift(_sourced(docs_nx), "n_chars", "source"))
    # EMD rides the same counts grid as KS/PSI — same scan-bound
    # expectation (r13)
    pair("emd_drift",
         lambda: skew.emd_drift(_sourced(docs_1x), "n_chars", "source"),
         lambda: skew.emd_drift(_sourced(docs_nx), "n_chars", "source"))
    # CUSUM + Mann-Whitney (r14) ride the SAME counts grid — the whole
    # drained-monitor family should show the identical scan-bound ~2
    pair("cusum_drift",
         lambda: skew.cusum_drift(_sourced(docs_1x), "n_chars", "source"),
         lambda: skew.cusum_drift(_sourced(docs_nx), "n_chars", "source"))
    pair("mann_whitney",
         lambda: skew.mann_whitney_drift(
             _sourced(docs_1x), "n_chars", "source"),
         lambda: skew.mann_whitney_drift(
             _sourced(docs_nx), "n_chars", "source"))
    # Jonckheere (r15) is the 6th consumer of the same counts grid —
    # the two nested grid windows are domain-bounded like the rest
    pair("jonckheere",
         lambda: skew.jonckheere_trend(
             _sourced(docs_1x), "n_chars", "source"),
         lambda: skew.jonckheere_trend(
             _sourced(docs_nx), "n_chars", "source"))
    # Kruskal-Wallis (staged r15→r17) is the 7th — no grid at all,
    # just the domain rank relation broadcast onto the counts
    pair("kruskal_wallis",
         lambda: skew.kruskal_wallis_drift(
             _sourced(docs_1x), "n_chars", "source"),
         lambda: skew.kruskal_wallis_drift(
             _sourced(docs_nx), "n_chars", "source"))
    # Zipf slope: the token-count shuffle scales, the vocabulary
    # relation (replicated text -> constant distinct terms) does not
    pair("zipf_slope",
         lambda: text_ops.zipf_slope(docs_1x),
         lambda: text_ops.zipf_slope(docs_nx))
    # KL source divergence (staged r15→r17): the (source, term) cell
    # relation is vocab-bounded like zipf's — the token explode scans
    # scale, the cell windows don't
    pair("kl_source_divergence",
         lambda: text_ops.kl_source_divergence(
             docs_1x.withColumn(
                 "source", F.concat(F.lit("src"), F.col("doc_id") % 10))),
         lambda: text_ops.kl_source_divergence(
             docs_nx.withColumn(
                 "source", F.concat(F.lit("src"), F.col("doc_id") % 10))))

    def _points(docs):
        return docs.select(
            "doc_id",
            F.length("text").cast("double").alias("x"),
            (md5_prefix64(F.col("doc_id").cast("string")) % 1000000)
            .cast("double").alias("y"),
        )

    pair("skyline",
         lambda: skyline_2d(_points(docs_1x), "x", "y"),
         lambda: skyline_2d(_points(docs_nx), "x", "y"))
    for df in (docs_1x, docs_nx):
        df.unpersist()

    sc_1x = bench._scrambled_docs(spark, sf_dir, 1)
    sc_nx = bench._scrambled_docs(spark, sf_dir, factor)
    for df in (sc_1x, sc_nx):
        df.persist().count()
    pair("substring_dedup",
         lambda: dedup.substring_duplicate_pairs(sc_1x),
         lambda: dedup.substring_duplicate_pairs(sc_nx))
    # the LSH pipeline on a zero-collision corpus: signatures, banding,
    # and the bucket shuffle at 100x volume without the exact-copy
    # pair-output explosion (see module docstring)
    pair("minhash_pipeline_scrambled",
         lambda: dedup.minhash_candidates(sc_1x),
         lambda: dedup.minhash_candidates(sc_nx))
    # LSH recall eval (r15) on the zero-collision corpus: measures the
    # truth-side shared-shingle join + the candidate semi-join without
    # the exact-copy pair-output explosion (same convention as the
    # scrambled minhash pipeline; on a real corpus the truth relation
    # scales with TRUE duplicate mass, a data property)
    pair("lsh_recall_eval_scrambled",
         lambda: dedup.lsh_recall_eval(sc_1x),
         lambda: dedup.lsh_recall_eval(sc_nx))
    # r10 tail: novelty on SCRAMBLED replicas so the distinct-gram set
    # genuinely grows 100x (exact copies would reuse the 1x gram set
    # and understate the min-window shuffle)
    pair("ngram_novelty",
         lambda: dedup.ngram_novelty(sc_1x),
         lambda: dedup.ngram_novelty(sc_nx))

    def _assets(docs):
        return multimodal.synthetic_assets(
            docs.withColumn("n_chars", F.length("text"))
        ).filter(F.col("modality") == "image")

    pair("phash_pairs",
         lambda: multimodal.phash_near_pairs(_assets(sc_1x)),
         lambda: multimodal.phash_near_pairs(_assets(sc_nx)))
    for df in (sc_1x, sc_nx):
        df.unpersist()

    # --- embeddings-based operators -----------------------------------
    print("embeddings-based operators", flush=True)
    emb_1x = bench._replicate_embeddings(spark, sf_dir, 1)
    emb_nx = bench._replicate_embeddings(spark, sf_dir, factor)
    for df in (emb_1x, emb_nx):
        df.persist().count()
    q10 = emb_1x.filter(F.col("vec_id") < 10)
    pair("ann_ivf",
         lambda: similarity.ivf_topk(corpus=emb_1x, queries=q10,
                                     dim=64, k=5),
         lambda: similarity.ivf_topk(corpus=emb_nx, queries=q10,
                                     dim=64, k=5))
    pair("ivfpq",
         lambda: similarity.ivfpq_topk(corpus=emb_1x, queries=q10,
                                       dim=64, k=5),
         lambda: similarity.ivfpq_topk(corpus=emb_nx, queries=q10,
                                       dim=64, k=5))
    # r10: JL projection — pure codegen map, should be ~linear with
    # zero shuffle growth (the plan guard pins Exchange-free)
    pair("random_projection",
         lambda: similarity.random_projection(emb_1x),
         lambda: similarity.random_projection(emb_nx))
    # SemDeDup under its documented k ~ n / target-cluster-size policy
    # (semantic_dedup docstring): per-cluster pair cost stays flat
    pair("semantic_dedup",
         lambda: similarity.semantic_dedup(emb_1x, dim=64,
                                           n_centroids=16),
         lambda: similarity.semantic_dedup(emb_nx, dim=64,
                                           n_centroids=16 * factor))
    pair("embedding_outliers",
         lambda: similarity.embedding_outliers(emb_1x),
         lambda: similarity.embedding_outliers(emb_nx))
    for df in (emb_1x, emb_nx):
        df.unpersist()

    # --- iterative graphs ---------------------------------------------
    print("iterative graphs", flush=True)
    chain_base = 5_000
    for label, n in (("cc_chain_1x", chain_base),
                     (f"cc_chain_{factor}x", chain_base * factor)):
        ids = spark.range(n).select(F.col("id").alias("doc_id")).persist()
        chain = spark.range(n - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        ).persist()
        ids.count(), chain.count()
        st: dict = {}
        bench._full_gc(spark)
        t0 = time.perf_counter()
        rows = dedup.duplicate_clusters(
            chain, ids, small_graph_cap=None, stats=st
        ).count()
        out[label] = {"sec": round(time.perf_counter() - t0, 3),
                      "rows": rows, **st}
        print(f"  {label}: {out[label]}", flush=True)
        ids.unpersist(), chain.unpersist()

    from utn_dataengineering_stockmarketpipeline_spark.sources.parquet import (
        load_table,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_custkey", "l_suppkey"
    )
    for label, fac in (("pagerank_1x", 1), (f"pagerank_{factor}x", factor)):
        rep = spark.range(fac).select(F.col("id").alias("rep"))
        edges = base.crossJoin(rep).select(
            F.concat(F.lit("C"), F.col("rep"), F.lit("_"),
                     F.col("o_custkey")).alias("src"),
            F.concat(F.lit("S"), F.col("rep"), F.lit("_"),
                     F.col("l_suppkey")).alias("dst"),
        ).distinct().persist()
        edges.count()
        bench._full_gc(spark)
        t0 = time.perf_counter()
        rows = pagerank(edges, iters=10).count()
        out[label] = {"sec": round(time.perf_counter() - t0, 3),
                      "rows": rows}
        print(f"  {label}: {out[label]}", flush=True)
        edges.unpersist()

    # label propagation (r13) on the same namespace replica: per round
    # one edges⋈labels join + a (node,label) count + an argmax window
    # partitioned by node — wall should scale with edges, like pagerank
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        label_propagation,
    )

    for label, fac in (("lpa_1x", 1), (f"lpa_{factor}x", factor)):
        rep = spark.range(fac).select(F.col("id").alias("rep"))
        edges = base.crossJoin(rep).select(
            F.concat(F.lit("C"), F.col("rep"), F.lit("_"),
                     F.col("o_custkey")).alias("src"),
            F.concat(F.lit("S"), F.col("rep"), F.lit("_"),
                     F.col("l_suppkey")).alias("dst"),
        ).distinct().persist()
        edges.count()
        bench._full_gc(spark)
        t0 = time.perf_counter()
        rows = label_propagation(edges, rounds=3).count()
        out[label] = {"sec": round(time.perf_counter() - t0, 3),
                      "rows": rows}
        print(f"  {label}: {out[label]}", flush=True)
        edges.unpersist()

    # HITS (staged r15→r16) on the same namespace replica: per round
    # two pre-partitioned edge⋈vector joins + two integer sums + two
    # 1-row max broadcasts — wall should scale with edges, like the
    # other fixed-iteration graph ops
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        hits,
    )

    for label, fac in (("hits_1x", 1), (f"hits_{factor}x", factor)):
        rep = spark.range(fac).select(F.col("id").alias("rep"))
        edges = base.crossJoin(rep).select(
            F.concat(F.lit("C"), F.col("rep"), F.lit("_"),
                     F.col("o_custkey")).alias("src"),
            F.concat(F.lit("S"), F.col("rep"), F.lit("_"),
                     F.col("l_suppkey")).alias("dst"),
        ).distinct().persist()
        edges.count()
        bench._full_gc(spark)
        t0 = time.perf_counter()
        rows = hits(edges, iters=5).count()
        out[label] = {"sec": round(time.perf_counter() - t0, 3),
                      "rows": rows}
        print(f"  {label}: {out[label]}", flush=True)
        edges.unpersist()

    # k-core peel (r16 verdict ask — the 10x bench ratio was 4.04 with
    # no 100x row): per sweep one degree aggregation + two node-key
    # semi-joins over an edge relation that only SHRINKS, eager
    # localCheckpoint per sweep. rounds is FIXED (3), so the sweep
    # count does not grow with the factor — the namespace replica
    # preserves per-replica degree structure exactly, meaning the
    # peel cascade depth is factor-invariant and wall should scale
    # with edges like the other bounded-loop graph ops.
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        kcore_peel,
    )

    for label, fac in (("kcore_1x", 1), (f"kcore_{factor}x", factor)):
        rep = spark.range(fac).select(F.col("id").alias("rep"))
        edges = base.crossJoin(rep).select(
            F.concat(F.lit("C"), F.col("rep"), F.lit("_"),
                     F.col("o_custkey")).alias("src"),
            F.concat(F.lit("S"), F.col("rep"), F.lit("_"),
                     F.col("l_suppkey")).alias("dst"),
        ).distinct().persist()
        edges.count()
        bench._full_gc(spark)
        t0 = time.perf_counter()
        rows = kcore_peel(edges, k=4, rounds=3).count()
        out[label] = {"sec": round(time.perf_counter() - t0, 3),
                      "rows": rows}
        print(f"  {label}: {out[label]}", flush=True)
        edges.unpersist()

    # Gini (r13): bucket offsets ride the value domain, the rank
    # window partitions by bucket — wall should track the scan
    from utn_dataengineering_stockmarketpipeline_spark.operators.skew import (
        gini_concentration,
    )

    def _gvals(n):
        return spark.range(n).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("v"),
        )

    pair("gini",
         lambda: gini_concentration(_gvals(200_000), "v", "k",
                                    bucket_width=10_000),
         lambda: gini_concentration(_gvals(200_000 * factor), "v", "k",
                                    bucket_width=10_000))

    # basket pairs (r13): fixed 10k-item universe, 4-item baskets —
    # C(4,2) fan-out per basket, linear in baskets
    from utn_dataengineering_stockmarketpipeline_spark.operators.baskets import (
        copurchase_pairs,
    )

    def _baskets(n):
        return spark.range(4 * n).select(
            (F.col("id") % n).alias("bk"),
            F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("it"),
        )

    pair("basket_pairs",
         lambda: copurchase_pairs(_baskets(100_000), "bk", "it"),
         lambda: copurchase_pairs(_baskets(100_000 * factor), "bk", "it"))

    # --- round-11 operators: BFS reach, historical VaR, quarantine ----
    print("round-11 operators", flush=True)
    from utn_dataengineering_stockmarketpipeline_spark.operators import risk
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        bfs_hops,
    )

    # bfs_reach on the pagerank namespace replica. Seeds replicate WITH
    # the graph (custkeys < 50 in EVERY replica namespace), so frontier
    # work genuinely scales with the factor; the open question this
    # measures is the eager per-round localCheckpoint cost (bfs_hops
    # checkpoints each relaxation because the plan references its
    # predecessor twice) at 100x edge counts.
    for label, fac in (("bfs_reach_1x", 1), (f"bfs_reach_{factor}x", factor)):
        rep = spark.range(fac).select(F.col("id").alias("rep"))
        edges = base.crossJoin(rep).select(
            F.concat(F.lit("C"), F.col("rep"), F.lit("_"),
                     F.col("o_custkey")).alias("src"),
            F.concat(F.lit("S"), F.col("rep"), F.lit("_"),
                     F.col("l_suppkey")).alias("dst"),
        ).distinct().persist()
        edges.count()
        seeds = (
            spark.range(fac).select(F.col("id").alias("rep"))
            .crossJoin(spark.range(50).select(F.col("id").alias("ck")))
            .select(F.concat(F.lit("C"), F.col("rep"), F.lit("_"),
                             F.col("ck")).alias("node"))
        )
        bench._full_gc(spark)
        t0 = time.perf_counter()
        rows = bfs_hops(edges, seeds, max_hops=4).count()
        out[label] = {"sec": round(time.perf_counter() - t0, 3),
                      "rows": rows}
        print(f"  {label}: {out[label]}", flush=True)
        edges.unpersist()

    # historical VaR/CVaR: 100x TICKERS (namespace replica — each
    # replica keeps the real per-ticker day count, so the per-entity
    # rank window's partition size stays constant and only partition
    # COUNT grows; sub-linear-to-linear wall = the no-global-sort claim
    # holds).
    from utn_dataengineering_stockmarketpipeline_spark.plans.reference_tables import (  # noqa: E501
        stock_prices,
    )

    sp = stock_prices(spark, sf_dir)

    def tickers(fac):
        rep = spark.range(fac).select(F.col("id").alias("rep"))
        return sp.crossJoin(rep).select(
            F.concat(F.col("stock_ticker"), F.lit("_"),
                     F.col("rep")).alias("stock_ticker"),
            "stock_date", "stock_close",
        )

    var_1x = tickers(1).persist()
    var_nx = tickers(factor).persist()
    var_1x.count(), var_nx.count()
    pair("var_historical",
         lambda: risk.var_cvar(risk.returns_ppm(var_1x)),
         lambda: risk.var_cvar(risk.returns_ppm(var_nx)))
    var_1x.unpersist(), var_nx.unpersist()

    # Mann-Kendall + Theil-Sen eval (r14): the O(n²/2)-per-entity pair
    # estimators under the 100x TICKER namespace replica. The series is
    # first downsampled ~1/5 (hash rule, deterministic) so per-entity
    # pair work is a constant ~60k pairs — the claim under test is
    # that entity COUNT scales freely (pairs ride an equi-join on the
    # entity key), not that a single series may grow quadratically
    # (that is the estimator's definition, capped by
    # MAX_THEIL_SEN_OBS). Expected: near-linear wall in the factor.
    def trend_series(fac):
        return tickers(fac).filter(
            F.pmod(F.xxhash64("stock_date"), F.lit(5)) == 0
        )

    tr_1x = trend_series(1).persist()
    tr_nx = trend_series(factor).persist()
    tr_1x.count(), tr_nx.count()
    pair("mann_kendall",
         lambda: risk.mann_kendall(tr_1x),
         lambda: risk.mann_kendall(tr_nx))
    pair("theil_sen_eval",
         lambda: risk.theil_sen_eval(tr_1x),
         lambda: risk.theil_sen_eval(tr_nx))
    # r15 trend family: OLS (one moment aggregate, no window since the
    # epoch-anchor change — expect scan-bound), seasonal MK (the MK
    # pair join with the season key inside, pair space n²/24), and the
    # two randomness screens (one or two per-entity windows each)
    pair("ols_trend",
         lambda: risk.ols_trend(tr_1x),
         lambda: risk.ols_trend(tr_nx))
    pair("seasonal_mann_kendall",
         lambda: risk.seasonal_mann_kendall(tr_1x),
         lambda: risk.seasonal_mann_kendall(tr_nx))
    pair("runs_test",
         lambda: risk.runs_test(tr_1x),
         lambda: risk.runs_test(tr_nx))
    pair("turning_points",
         lambda: risk.turning_points(tr_1x),
         lambda: risk.turning_points(tr_nx))
    # ACF + Ljung-Box (staged r15→r17): one window pass emitting all
    # ten leads, one moment aggregate — wall should track the sort
    pair("acf",
         lambda: risk.acf_ppm(risk.returns_ppm(tr_1x)),
         lambda: risk.acf_ppm(risk.returns_ppm(tr_nx)))
    pair("ljung_box",
         lambda: risk.ljung_box(risk.returns_ppm(tr_1x)),
         lambda: risk.ljung_box(risk.returns_ppm(tr_nx)))
    tr_1x.unpersist(), tr_nx.unpersist()

    # Theil-Sen LONG-SERIES strategy crossover (r16): one entity with
    # 20k observations = 200M pairs. The naive entity-key plan puts
    # the whole pair space in ONE task (the straggler
    # TS_BLOCK_THRESHOLD exists for); the shipped adaptive path
    # switches to the block-decomposed generator + two-level probe and
    # spreads it over ~820 (e, blk_i, blk_j) keys. Both strategies are
    # bit-identical (tests/test_r16_ops.py); this measures the wall
    # ratio that justifies the switch — strategy forced via the
    # max_obs parameter the cap probe normally supplies.
    long_base = (
        spark.range(20_000)
        .select(
            F.lit("L0").alias("e"),
            F.expr(
                "date_add(date'1960-01-01', cast(id as int))"
            ).alias("d"),
            (F.lit(50_000)
             + F.pmod(F.xxhash64(F.col("id")), F.lit(2_001))
             - F.lit(1_000)).cast("bigint").alias("vc"),
        )
        .persist()
    )
    long_base.count()
    for label, mx in (("theil_long_naive", 0),
                      ("theil_long_blocked", 20_001)):
        bench._full_gc(spark)
        t0 = time.perf_counter()
        rows = risk._theil_sen_from_base(long_base, max_obs=mx).count()
        out[label] = {"sec": round(time.perf_counter() - t0, 3),
                      "rows": rows}
        print(f"  {label}: {out[label]}", flush=True)
    out["theil_long_note"] = (
        "20k-obs single series (200M pairs); naive = one straggler "
        "task, blocked = (e,bi,bj)-scattered + two-level probe; the "
        "adaptive switch at TS_BLOCK_THRESHOLD=8192 picks blocked here"
    )
    long_base.unpersist()

    # quarantine gate under MANY batches: fixed per-batch volume, 3 vs
    # 30 single-file micro-batches (fixed 10x regardless of the main
    # factor — 300 batches would measure patience, not the protocol).
    # Ratio ≈ 10 = the per-batch batch_id=N partition OVERWRITE cost
    # stays flat as the target tree accumulates directories; growth
    # past linear would mean each batch pays for the batches before it.
    import shutil
    import tempfile

    from utn_dataengineering_stockmarketpipeline_spark.streaming.ingest import (
        quarantine_sink,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    ).limit(90_000)
    qroot = tempfile.mkdtemp(prefix="scale_quarantine_")
    try:
        src_dir = f"{qroot}/src"
        ev.repartition(30).write.parquet(src_dir)
        files = sorted(
            str(p) for p in Path(src_dir).glob("part-*.parquet")
        )
        rules = {
            "value_le_90": F.col("value") <= 90,
            "not_error": F.col("event_type") != "error",
        }
        for label, nb in (("quarantine_3_batches", 3),
                          ("quarantine_30_batches", 30)):
            in_dir = f"{qroot}/{label}/in"
            Path(in_dir).mkdir(parents=True)
            for f in files[:nb]:
                shutil.copy(f, in_dir)
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
            )
            bench._full_gc(spark)
            t0 = time.perf_counter()
            q = quarantine_sink(
                stream, rules,
                f"{qroot}/{label}/clean", f"{qroot}/{label}/bad",
                f"{qroot}/{label}/ckpt",
            )
            q.awaitTermination()
            n = spark.read.parquet(f"{qroot}/{label}/clean").count()
            out[label] = {"sec": round(time.perf_counter() - t0, 3),
                          "rows": n, "batches": nb}
            print(f"  {label}: {out[label]}", flush=True)
        out["quarantine_batch_ratio_30_over_3"] = round(
            out["quarantine_30_batches"]["sec"]
            / max(out["quarantine_3_batches"]["sec"], 1e-9), 2
        )
    finally:
        shutil.rmtree(qroot, ignore_errors=True)

    # --- synthetic-dimension / streaming / skew sections ---------------
    # (factor-generic bench helpers, reused verbatim)
    print("bench helper sections", flush=True)
    bench._scd2_scale(spark, factor, out)
    bench._streaming_scale(spark, sf_dir, factor, out)
    bench._interval_scale(spark, sf_dir, factor, out)
    bench._skew_join_scale(spark, factor, out, base_rows=100_000)
    bench._asof_skew_scale(spark, factor, out)

    ratios = {}
    for k, v in out.items():
        if isinstance(v, dict) and k.endswith("_1x"):
            big = out.get(f"{k[:-3]}_{factor}x")
            if isinstance(big, dict):
                ratios[k[:-3].rstrip("_")] = round(
                    big["sec"] / max(v["sec"], 1e-9), 2
                )
    artifact = {
        "metric": f"scale_evidence_{factor}x",
        "factor": factor,
        "sf_dir": sf_dir,
        "note": (
            "linear-output operator subset at x"
            f"{factor}; exact-copy LSH pair generation and cc_minhash "
            "excluded by construction (quadratic pair output is a "
            "replica data property — see tools/scale100.py docstring); "
            f"ratios are {factor}x/1x wall, so ~{factor} = linear. "
            "semantic_dedup's ~linear ratio is OUTPUT-ROW-BOUND, not a "
            "plan property: its output rows scale exactly with the "
            "corpus (every replica emits its dedup verdict; 2000 -> "
            "200000 at 100x) and wall per output row is flat "
            "(~0.24 ms at both scales) under the documented k ~ n "
            "centroid policy that keeps per-cluster pair cost constant"
        ),
        f"ratios_{factor}x_over_1x": ratios,
        "evidence": out,
    }
    # Preserve curated annotations from the prior capture (root-cause
    # notes and measured pair counts added between captures, e.g.
    # kcore_note / lsh_recall_eval_note) unless this run re-emitted
    # the key itself.
    target = _REPO / f"SCALE_{factor}X.json"
    if target.exists():
        try:
            prior = json.loads(target.read_text()).get("evidence", {})
            for k, v in prior.items():
                if (k.endswith("_note") or k.endswith("_paircounts")) \
                        and k not in out:
                    artifact["evidence"][k] = v
        except (ValueError, OSError):
            pass
    target.write_text(json.dumps(artifact, indent=2))
    print(json.dumps({"ratios": ratios}, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
