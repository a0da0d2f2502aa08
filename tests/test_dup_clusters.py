"""duplicate_clusters unit semantics on hand-built graphs (the catalog
oracle covers the LSH-pair integration; these pin the iteration logic)."""

from __future__ import annotations

from utn_dataengineering_stockmarketpipeline_spark.operators.dedup import (
    duplicate_clusters,
)


def _clusters(spark, edges, n_ids):
    ids = spark.createDataFrame([(i,) for i in range(n_ids)], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = duplicate_clusters(pairs, ids)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def test_path_graph_converges_past_diameter_two(spark):
    # 0-1-2-3-4-5 chain: min label must travel the whole path
    got = _clusters(spark, [(i, i + 1) for i in range(5)], 8)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 6, 7: 7}


def test_two_components_and_singletons(spark):
    got = _clusters(spark, [(1, 2), (2, 3), (5, 6)], 8)
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_no_edges_all_singletons(spark):
    got = _clusters(spark, [], 4)
    assert got == {i: i for i in range(4)}


def test_non_convergence_raises_not_silent(spark):
    """Exhausting max_iters before the fixpoint must raise — truncated
    labels would silently break keep-one-per-cluster downstream
    (ADVICE r2)."""
    import pytest

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    # 0-1-2-...-11 path: diameter 11, needs more than 1 round; a
    # 1-round budget exhausts before the round-2 contraction attempt
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, ids, max_iters=1, small_graph_cap=None)

    # and with budget it converges to one cluster
    out = duplicate_clusters(pairs, ids, max_iters=25)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {i: 0 for i in range(12)}


def test_over_cap_contraction_falls_back_to_jump_loop(spark, monkeypatch):
    """When the contracted supergraph exceeds DRIVER_CLOSURE_CAP the
    driver closure must decline and the distributed jump loop finish
    the components — same answer, no bounded-collect blowup."""
    from utn_dataengineering_stockmarketpipeline_spark.operators import dedup

    monkeypatch.setattr(dedup, "DRIVER_CLOSURE_CAP", 3)
    n = 60
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    st: dict = {}
    out = dedup.duplicate_clusters(
        pairs, ids, small_graph_cap=None, stats=st
    )
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {i: 0 for i in range(n)}
    assert st["contracted_edges"] is None  # closure never fired
    assert st["rounds"] > 2                # the jump loop did the work


def test_contraction_closure_matches_jump_loop(spark, monkeypatch):
    """Driver closure and pure iteration must produce identical labels
    on a graph deep enough that contraction actually fires."""
    from utn_dataengineering_stockmarketpipeline_spark.operators import dedup

    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    # two disjoint paths: 0..19 and 20..39
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)]
        + [(i, i + 1) for i in range(20, 39)],
        "id_a long, id_b long",
    )
    st_c: dict = {}
    with_closure = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            pairs, ids, small_graph_cap=None, stats=st_c
        ).collect()
    }
    assert st_c["contracted_edges"] is not None
    monkeypatch.setattr(dedup, "CONTRACT_START_ROUND", 10_000)
    st_j: dict = {}
    pure_jump = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            pairs, ids, small_graph_cap=None, stats=st_j
        ).collect()
    }
    assert st_j["contracted_edges"] is None
    assert with_closure == pure_jump
    assert with_closure == {
        **{i: 0 for i in range(20)}, **{i: 20 for i in range(20, 40)}
    }


def test_keep_one_per_cluster_action(spark):
    from utn_dataengineering_stockmarketpipeline_spark.operators.dedup import (
        keep_one_per_cluster,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    clusters = duplicate_clusters(pairs, docs)
    kept = keep_one_per_cluster(docs, clusters)
    got = {r["doc_id"]: r["n_members"] for r in kept.collect()}
    # {0,1,2} -> 0 (size 3); {3} singleton; {4,5} -> 4 (size 2)
    assert got == {0: 3, 3: 1, 4: 2}
    assert set(kept.columns) == {"doc_id", "text", "n_members"}


def test_long_path_graph_converges(spark):
    """A 200-node path (diameter 199) must converge — pointer jumping
    makes rounds O(log diameter); plain propagation would need 199."""
    from pyspark.sql import Row

    from utn_dataengineering_stockmarketpipeline_spark.operators.dedup import (
        duplicate_clusters,
    )

    n = 200
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(n - 1)]
    )
    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    out = duplicate_clusters(pairs, ids, small_graph_cap=None).collect()
    assert len(out) == n
    assert all(r.cluster_id == 0 for r in out)


def test_incremental_equals_cross_filtered_full(spark):
    """incremental_candidates(corpus, batch) must equal
    minhash_candidates(corpus ∪ batch) filtered to cross pairs — same
    banding, same bucket cap over total membership."""
    from pyspark.sql import functions as F

    from utn_dataengineering_stockmarketpipeline_spark.operators import dedup
    from utn_dataengineering_stockmarketpipeline_spark.sources.parquet import (
        load_table,
    )

    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    inc = {
        (r.corpus_id, r.batch_id)
        for r in dedup.incremental_candidates(corpus, batch).collect()
    }
    full = dedup.minhash_candidates(docs).collect()
    want = set()
    for r in full:
        a_new, b_new = r.id_a % 4 == 0, r.id_b % 4 == 0
        if a_new != b_new:
            want.add((r.id_b, r.id_a) if a_new else (r.id_a, r.id_b))
    assert inc == want


def test_small_graph_fast_path_matches_forced_loop(spark):
    """The driver fast path and the distributed loop must agree exactly
    on the same input — and the fast path must actually engage (zero
    rounds, raw-edge closure) under the default cap."""
    from utn_dataengineering_stockmarketpipeline_spark.operators import dedup

    n = 50
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(14)]          # path component
        + [(20, 21), (21, 22), (20, 22)]          # triangle
        + [(30, 40), (31, 40)],                   # star
        "id_a long, id_b long",
    )
    st_fast: dict = {}
    fast = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pairs, ids, stats=st_fast).collect()
    }
    st_loop: dict = {}
    loop = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            pairs, ids, small_graph_cap=None, stats=st_loop
        ).collect()
    }
    assert fast == loop
    assert st_fast["rounds"] == 0
    assert st_fast["fast_path_edges"] == 2 * 19  # bidirectional raw edges
    assert st_fast["contracted_edges"] is None
    assert st_loop["rounds"] >= 1
    assert st_loop["fast_path_edges"] is None


def test_bfs_hops_matches_brute_force(spark):
    """bfs_hops == brute-force BFS on a hand graph with multiple seeds,
    an unreachable island, and a node whose shortest path improves at a
    later relaxation round; hop bound honored."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        bfs_hops,
    )

    #   s1-a-b-c-d   s2-c  (c reachable at 1 via s2, not 3 via s1)
    #   island: x-y  (unreached)
    edges = spark.createDataFrame(
        [("s1", "a"), ("a", "b"), ("b", "c"), ("c", "d"),
         ("s2", "c"), ("x", "y")],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("s1",), ("s2",)], ["node"])
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=3).collect()
    }
    assert got == {
        "s1": 0, "s2": 0, "a": 1, "c": 1, "b": 2, "d": 2,
    }
    # bound: max_hops=1 stops the wave
    got1 = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=1).collect()
    }
    assert got1 == {"s1": 0, "s2": 0, "a": 1, "c": 1}
    # max_hops=0: seeds only
    got0 = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=0).collect()
    }
    assert got0 == {"s1": 0, "s2": 0}


def test_shortest_path_weighted_matches_brute_force(spark):
    """Weighted Bellman-Ford on a hand graph where the cheapest path is
    NOT the fewest-hop path, parallel edges collapse to MIN(w), and a
    longer-but-cheaper route needs more rounds to surface."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        shortest_path_weighted,
    )

    # s -10- a ; s -1- b -1- c -1- a  (cheap 3-edge route to a beats
    # the direct w=10 edge); parallel s-a edge w=12 must lose to 10;
    # island x-y unreached.
    edges = spark.createDataFrame(
        [("s", "a", 10), ("s", "a", 12), ("s", "b", 1), ("b", "c", 1),
         ("c", "a", 1), ("x", "y", 7)],
        ["src", "dst", "w"],
    )
    seeds = spark.createDataFrame([("s",)], ["node"])

    def run(k):
        return {
            r["node"]: r["dist"]
            for r in shortest_path_weighted(edges, seeds,
                                            max_rounds=k).collect()
        }

    # 1 round: only direct edges (parallel edge collapsed to 10)
    assert run(1) == {"s": 0, "a": 10, "b": 1}
    # 2 rounds: c via b; a still direct
    assert run(2) == {"s": 0, "a": 10, "b": 1, "c": 2}
    # 3 rounds: the 3-edge route wins for a
    assert run(3) == {"s": 0, "a": 3, "b": 1, "c": 2}
    assert run(0) == {"s": 0}


def test_shortest_path_zero_rounds_returns_seeds_without_edge_build(
    spark, spark_jobs
):
    """With no round to run, the seeds come back as they would after
    the edge build, but without its persist, count and undirected
    aggregate (those cost 7 of the 10 jobs the call used to run)."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        bfs_hops,
        shortest_path_weighted,
    )

    edges = spark.createDataFrame(
        [("s", "a", 10), ("s", "b", 1), ("b", "c", 1)], ["src", "dst", "w"]
    )
    seeds = spark.createDataFrame([("s",), ("s",), ("z",)], ["node"])
    jobs, dist = spark_jobs(shortest_path_weighted, edges, seeds, max_rounds=0)
    assert sorted(dist.collect()) == [("s", 0), ("z", 0)]
    assert jobs <= 3, f"{jobs} Spark jobs for zero rounds"
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in dist.schema] == [("node", "string", True),
                                      ("dist", "bigint", False)]
    jobs, hops = spark_jobs(
        bfs_hops, edges.select("src", "dst"), seeds, max_hops=0
    )
    assert sorted(hops.collect()) == [("s", 0), ("z", 0)]
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in hops.schema] == [("node", "string", True),
                                      ("hops", "int", False)]
    assert jobs <= 3, f"{jobs} Spark jobs for zero hops"


def test_triangle_stats_hand_graph(spark):
    """Triangle census on a hand graph: one closed triangle + one open
    wedge + a duplicate/reversed edge that must canonicalize away."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        triangle_stats,
    )

    # triangle 1-2-3; wedge 3-4, 4-5 (open); edge (2,1) duplicates
    # (1,2) reversed; self-loop (6,6) dropped.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 1), (6, 6)],
        ["id_a", "id_b"],
    )
    row = triangle_stats(pairs).collect()[0]
    assert row["n_nodes"] == 5
    assert row["n_edges"] == 5
    # degrees: 1:2, 2:2, 3:3, 4:2, 5:1 -> wedges 1+1+3+1+0 = 6
    assert row["n_wedges"] == 6
    assert row["n_triangles"] == 1
    assert row["clustering_ppm"] == 3 * 1 * 1_000_000 // 6
    # wedge-free graph: single edge -> NULL coefficient, zero wedges
    lone = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    r2 = triangle_stats(lone).collect()[0]
    assert r2["n_wedges"] == 0 and r2["n_triangles"] == 0
    assert r2["clustering_ppm"] is None


def test_kcore_peel_hand_graph(spark):
    """Bounded k-core peel: a 4-clique survives k=3, a pendant chain
    peels away over cascading sweeps, and the round bound is honored
    (the cascade needs TWO sweeps to fully settle)."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        kcore_peel,
    )

    # 4-clique a-b-c-d; star d-e, e-f, e-g: e starts at degree 3 and
    # only falls below k AFTER its leaves f,g peel — a true cascade.
    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
              ("b", "d"), ("c", "d")]
    star = [("d", "e"), ("e", "f"), ("e", "g")]
    edges = spark.createDataFrame(clique + star, ["src", "dst"])

    def run(rounds, k=3):
        return {
            r["node"]: r["deg"]
            for r in kcore_peel(edges, k=k, rounds=rounds).collect()
        }

    # raw degrees: a/b/c 3, d 4, e 3, f/g 1
    assert run(0) == {"a": 3, "b": 3, "c": 3, "d": 4, "e": 3,
                      "f": 1, "g": 1}
    # sweep 1: f,g (deg 1) leave; e survives on its PRE-sweep degree 3
    assert run(1) == {"a": 3, "b": 3, "c": 3, "d": 4, "e": 1}
    # sweep 2: e is down to deg 1 -> peels; the 4-clique is the 3-core
    assert run(2) == {"a": 3, "b": 3, "c": 3, "d": 3}
    assert run(3) == {"a": 3, "b": 3, "c": 3, "d": 3}
    # k=5: everything gone after enough sweeps
    assert run(2, k=5) == {}
