"""r19 optimization-round guards: the fused scd2 merge, the
order-preserving graph node mapping, and the hits driver-side rescale
— focused tests for the operator internals this round changed."""

from __future__ import annotations

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_scd2_apply_duplicate_incoming_keys(spark):
    """The fused merge must keep the original SET semantics for a
    snapshot carrying duplicate keys: the open row closes ONCE (the
    r18 semi/anti pair never duplicated it; the r19 conditional left
    join guards with a distinct), and BOTH duplicate snapshot rows
    insert (the insert leg is a semi join on the key)."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.scd import (
        scd2_apply,
    )

    current = spark.createDataFrame(
        [("k1", "old", "2024-01-01", None, True)],
        "k string, name string, valid_from string, valid_to string, "
        "is_current boolean",
    ).select(
        "k", "name",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "is_current",
    )
    snap = spark.createDataFrame(
        [("k1", "newA"), ("k1", "newB"), ("k2", "fresh")],
        "k string, name string",
    )
    out = scd2_apply(snap, current, key="k", tracked=["name"],
                     load_date="2024-02-01").collect()
    closed = [r for r in out if r["k"] == "k1" and not r["is_current"]]
    assert len(closed) == 1  # the open row closed exactly once
    assert str(closed[0]["valid_to"]) == "2024-02-01"
    inserts = [r for r in out if r["is_current"]]
    # both duplicate k1 snapshot rows insert, plus the brand-new k2
    assert sorted((r["k"], r["name"]) for r in inserts) == [
        ("k1", "newA"), ("k1", "newB"), ("k2", "fresh"),
    ]
    assert len(out) == 4


def test_scd2_apply_unchanged_and_absent_keys_pass_through(spark):
    """Equal-hash keys and keys absent from the snapshot stay open
    verbatim through the conditional left join."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.scd import (
        scd2_apply,
    )

    current = spark.createDataFrame(
        [("a", "same", "2024-01-01", None, True),
         ("b", "keep", "2024-01-01", None, True),
         ("c", "hist", "2023-01-01", "2024-01-01", False)],
        "k string, name string, valid_from string, valid_to string, "
        "is_current boolean",
    ).select(
        "k", "name",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "is_current",
    )
    snap = spark.createDataFrame([("a", "same")], "k string, name string")
    out = scd2_apply(snap, current, key="k", tracked=["name"],
                     load_date="2024-06-01")
    assert _rows(out) == _rows(current)  # idempotent: nothing changed


def test_node_mapping_is_order_preserving_and_injective(spark):
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        _node_mapping,
    )

    nodes = spark.createDataFrame(
        [(s,) for s in ("C9", "C10", "S1", "C100", "A", "z", "C2")],
        "node string",
    ).distinct()
    m = {r["node"]: r["nid"] for r in _node_mapping(nodes, 3).collect()}
    assert len(set(m.values())) == len(m)  # injective
    in_order = sorted(m)  # binary string order
    nids = [m[k] for k in in_order]
    assert nids == sorted(nids)  # nid order == node order


def test_hits_small_graph_matches_integer_recurrence(spark):
    """The driver-side rescale path must reproduce the exact integer
    recurrence: hand-computed HITS on a 3-node chain C1->S1, C2->S1,
    C1->S2 (1 iteration)."""
    from utn_dataengineering_stockmarketpipeline_spark.operators.graph import (
        hits,
    )

    edges = spark.createDataFrame(
        [("C1", "S1"), ("C2", "S1"), ("C1", "S2")], "src string, dst string"
    )
    out = {r["node"]: (r["hub_ppm"], r["auth_ppm"])
           for r in hits(edges, iters=1).collect()}
    # auth raw: S1 = 2e6, S2 = 1e6 -> rescale: S1 1e6, S2 5e5
    # hub raw over rescaled auth: C1 = 1e6 + 5e5, C2 = 1e6 -> rescale:
    # C1 1e6, C2 (1e6*1e6)//15e5 = 666666
    assert out["S1"] == (0, 1_000_000)
    assert out["S2"] == (0, 500_000)
    assert out["C1"] == (1_000_000, 0)
    assert out["C2"] == (666_666, 0)


def test_hits_shuffle_regime_matches_broadcast_regime(spark, monkeypatch):
    """The non-broadcast path (mapping not broadcast, co-partitioned
    half-rounds, distributed collect-max rescale) must be bit-identical
    to the driver-rescale broadcast path — the 100x capture runs it."""
    from utn_dataengineering_stockmarketpipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [("C1", "S1"), ("C2", "S1"), ("C1", "S2"), ("C3", "S2"),
         ("C3", "S3"), ("C2", "S3"), ("C4", "S1")],
        "src string, dst string",
    )
    small = _rows(graph.hits(edges, iters=3))
    monkeypatch.setattr(graph, "GRAPH_BROADCAST_NODES", 0)
    big = _rows(graph.hits(edges, iters=3))
    assert small == big


def test_pagerank_and_lpa_regime_layouts_are_equivalent(spark, monkeypatch):
    """Every size-gated graph loop gives the same values with its gate
    forced the other way. pagerank keys its weighted-edge cache by dst
    (broadcast regime) or src (shuffle regime), LPA keys its undirected
    relation by 'a' or 'b', and the Bellman-Ford loop (shortest path
    and bfs_hops on it) broadcasts its distance vector or not — all
    under GRAPH_BROADCAST_NODES (pagerank compared after the oracle's
    ROUND(9)). kcore_peel broadcasts each sweep's removed set or
    semi-joins it by shuffle, under KCORE_BROADCAST_REMOVED; on the
    hand graph the first sweep peels the pendants C6 and C7 and the
    second peels C5."""
    from utn_dataengineering_stockmarketpipeline_spark.operators import graph

    weighted = spark.createDataFrame(
        [("C1", "S1", 3), ("C2", "S1", 1), ("C1", "S2", 1), ("C3", "S2", 2),
         ("C3", "S3", 1), ("C2", "S3", 5), ("C4", "S1", 2), ("C4", "S3", 1),
         ("C5", "S1", 1), ("C6", "C5", 4), ("C7", "S2", 1)],
        "src string, dst string, w int",
    )
    edges = weighted.select("src", "dst")
    seeds = spark.createDataFrame([("C1",)], "node string")

    def pr_rows():
        return sorted(
            (r["node"], round(r["rank"], 9))
            for r in graph.pagerank(edges, iters=5).collect()
        )

    def loop_rows():
        return (
            pr_rows(),
            _rows(graph.label_propagation(edges, rounds=3)),
            _rows(graph.shortest_path_weighted(weighted, seeds, max_rounds=4)),
            _rows(graph.bfs_hops(edges, seeds, max_hops=2)),
        )

    def kcore_rows():
        return _rows(graph.kcore_peel(edges, k=2, rounds=3))

    broadcast, kcore_broadcast = loop_rows(), kcore_rows()
    # the inputs exercise the loops: weighted distances over three
    # edges, a node beyond bfs' 2-hop bound, and a two-sweep peel
    assert ("C5", "4") in broadcast[2] and ("C6", "8") in broadcast[2]
    assert all(r[0] != "C6" for r in broadcast[3])
    assert [r[0] for r in kcore_broadcast] == [
        "C1", "C2", "C3", "C4", "S1", "S2", "S3",
    ]
    monkeypatch.setattr(graph, "GRAPH_BROADCAST_NODES", 0)
    assert loop_rows() == broadcast
    monkeypatch.setattr(graph, "KCORE_BROADCAST_REMOVED", 0)
    assert kcore_rows() == kcore_broadcast
