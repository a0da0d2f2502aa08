"""Iterative graph analytics over DataFrame edge lists — the
fixed-iteration and bounded-relaxation classes beyond connected
components (dedup.duplicate_clusters):

- :func:`pagerank` and :func:`hits`: prestige scores over a directed
  edge list;
- :func:`shortest_path_weighted`: bounded Bellman-Ford distances from
  a seed set over an undirected edge list; :func:`bfs_hops` is the same
  loop with unit weights;
- :func:`label_propagation`: bounded synchronous LPA communities;
- :func:`kcore_peel`: bounded k-core peeling;
- :func:`triangle_stats`: a one-pass triangle census (no loop).

Every loop is the Pregel shape expressed in DataFrames: the edge list
is laid out by its join key once, and each round joins the node-sized
vector to it and aggregates by the other endpoint. Spark's native
GraphX/Pregel is JVM-Scala-only; the DataFrame formulation keeps the
plan visible to Catalyst/AQE and scales the same way.

Loop set-up has one home: :func:`_loop_parts` sizes every loop's
shuffle width, and :func:`_directed` builds the persisted edge
projection and node inventory that pagerank and hits start from. The
round bodies stay separate because they materialize rounds in
different ways: pagerank chains lazily, the Bellman-Ford loop
materializes every round, LPA checkpoints lazily and hits rescales on
the driver. Where a loop needs a row count (a regime gate, a loop
width, an early stop), ``session.materialize`` observes it on the
job that fills the cache or checkpoint, never as a count job of its
own.

Determinism contract: a FIXED iteration count, no convergence RNG, so
any engine that runs the same algebra reproduces the values (the
catalog oracles unroll the same rounds in SQL; pagerank compares after
a ROUND, the integer operators exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df, materialize

#: Iteration bound: PageRank error contracts by the damping factor per
#: round, so 10 rounds ≈ 0.85^10 ≈ 0.2 residual of the start gap —
#: plenty for ranking/curation uses; raise for scientific use.
DEFAULT_ITERS = 10

#: pagerank's rounds chain lazily; a ``localCheckpoint`` every this many
#: rounds bounds plan depth and compile time (measured r7 at sf0.1:
#: every-round checkpointing 17.9 s → 10.4 s warm at 5).
PAGERANK_CHECKPOINT_EVERY = 5

#: kcore_peel broadcasts a sweep's newly-removed node set into the
#: delta-degree join when it is at most this many rows (~30 MB of
#: string keys — executor-memory safe); past it the sweep falls back
#: to a shuffle semi-join. Typical peels remove a sliver per sweep;
#: the big-delta case is a mass first-sweep peel on a sparse fringe.
KCORE_BROADCAST_REMOVED = 1_000_000

#: The iterative operators below (LPA, HITS, BFS, weighted shortest
#: path, PageRank) broadcast their per-round NODE-SIZED vector (labels
#: / ranks / distances) into the edge join when it holds at most this
#: many rows (r18). The per-round join's shuffle alternative is not
#: free even with the edge relation pre-partitioned: a sort-merge join
#: re-SORTS the cached edge partitions every round (measured at sf0.1
#: as the dominant round cost — 3 LPA rounds dropped 8.8 s → 1.9 s
#: with the vector broadcast), while the broadcast-hash join reads the
#: edges exactly as cached. ~1M (node, value) rows is ≲40 MB framed —
#: far under the broadcast hard caps; past it the co-partitioned
#: shuffle plan stands (at that scale the per-round exchange is real
#: work the broadcast could not absorb anyway).
GRAPH_BROADCAST_NODES = 1_000_000

#: Audit hook (tools/profile_r19.py ``--round-plan``): when set to a
#: list, every iterative operator appends ``(op, explain_text)`` for its
#: FIRST round's PRE-CHECKPOINT DataFrame. The final plan of an
#: iterative query truncates to ``Scan ExistingRDD`` at the last
#: checkpoint, so the per-round join strategy / exchange count is only
#: auditable through this capture. ``None`` (the default) costs nothing.
ROUND_PLAN_SINK: list | None = None


def _capture_round_plan(op: str, df: DataFrame) -> None:
    if ROUND_PLAN_SINK is None:
        return
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    ROUND_PLAN_SINK.append((op, buf.getvalue()))


def _node_mapping(nodes: DataFrame, parts: int) -> DataFrame:
    """ORDER-PRESERVING injective BIGINT id per distinct node →
    ``(node, nid)``, eagerly materialized (r19).

    The iterative loops below run on BIGINT ids: every per-round
    exchange, checkpoint and broadcast then carries 8-byte longs
    instead of arbitrary-width node strings (§2.3 narrower types), and
    the per-round joins hash/compare longs. The mapping is built once
    at the boundary and decoded once on the way out.

    Order preservation matters: label_propagation breaks argmax ties
    by the SMALLEST label, so an encoded loop reproduces the string
    tie-break only if nid order equals node order. A range repartition
    (ascending) + within-partition sort puts rows in global node
    order, and ``monotonically_increasing_id`` —
    ``partition_index·2³³ + row_index`` — is strictly increasing in
    (partition, row) order, hence in node order. No single-partition
    window anywhere, so the build scales like any range sort. The
    eager checkpoint pins the (recompute-non-deterministic) assignment
    exactly once.
    """
    return (
        nodes.repartitionByRange(parts, "node")
        .sortWithinPartitions("node")
        .select("node", F.monotonically_increasing_id().alias("nid"))
        .localCheckpoint()
    )


def _encode_edges(e: DataFrame, mapping: DataFrame, broadcast_map: bool,
                  a: str, b: str) -> DataFrame:
    """Replace the endpoint columns of ``e`` with their BIGINT ids via
    two equi-joins against ``mapping`` (broadcast under the node-count
    gate — the edge side then never shuffles for the encode; past it,
    two boundary shuffle joins buy ``rounds`` narrower exchanges inside
    the loop). Null-safe equality so a null endpoint — legal in the
    pagerank/bfs inputs — maps like any other node instead of being
    dropped. Lossless: the mapping covers every node that appears in
    the edge relation by construction."""
    ma = mapping.select(
        F.col("node").alias("__na"), F.col("nid").alias("__ia")
    )
    mb = mapping.select(
        F.col("node").alias("__nb"), F.col("nid").alias("__ib")
    )
    if broadcast_map:
        ma, mb = F.broadcast(ma), F.broadcast(mb)
    other = [c for c in e.columns if c not in (a, b)]
    return (
        e.join(ma, e[a].eqNullSafe(ma["__na"]))
        .join(mb, e[b].eqNullSafe(mb["__nb"]))
        .select(F.col("__ia").alias(a), F.col("__ib").alias(b), *other)
    )


def _filled_rows(df: DataFrame) -> int:
    """Fill ``df``'s persist or lazy checkpoint and return its row
    count, observed by that same job."""
    return materialize(df, n=F.count(F.lit(1)))["n"]


def _loop_parts(spark: SparkSession, rows: int) -> int:
    """Shuffle width of a loop whose per-round join reads ``rows`` edge
    rows: ~75k rows per partition, at least 4, capped at the session's
    ``spark.sql.shuffle.partitions``.

    Each loop pins this width PER PLAN with explicit repartitions — not
    by mutating the session-global setting, which leaks to concurrent
    queries and races on restore. It scales with EDGES, not nodes:
    per-round work is the edge⋈vector join, so ~75k edges/partition
    keeps tasks busy without drowning a small graph in task overhead
    (measured on pagerank at sf0.1: 587k edges → 8 parts 5.6 s vs
    8.0 s at the old node-derived 4; 5.9M edges → 32 parts 14 s vs
    25 s). At real graph scale the session width wins.
    """
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(4, min(session_parts, -(-rows // 75_000)))


def _directed(edges: DataFrame, src: str, dst: str):
    """The persisted ``(src, dst)`` projection and its persisted
    distinct node inventory, each counted by the job that fills its
    cache → ``(e, m, nodes, n)``.

    The node inventory and every later build (degree table, node
    mapping, edge layouts) read the cache; without the persist each
    re-derives the caller's upstream — often a join + distinct — from
    scratch. The caller unpersists both.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")
                     ).persist()
    m = _filled_rows(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    return e, m, nodes, _filled_rows(nodes)


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = DEFAULT_ITERS,
             damping: float = 0.85) -> DataFrame:
    """PageRank over a directed edge list → (node, rank).

    Simple-leak variant: dangling nodes (no out-edges) absorb rank
    without redistributing it — the common simplification when ranks
    are used ordinally (dedup survivor choice, crawl prioritization).

    Plan per iteration: edges ⋈ ranks on src, contributions
    aggregated by dst, a left join pulls isolated/no-inbound nodes
    back in at the teleport floor.

    Unlike duplicate_clusters (whose CONVERGENCE TEST needs an action
    per round), the iteration count here is fixed — so rounds chain
    lazily into ONE job and Catalyst plans the whole 10-round DAG
    at once. ``localCheckpoint`` fires only every
    :data:`PAGERANK_CHECKPOINT_EVERY` rounds to bound plan depth; the
    remaining cost at small scale is ~30 fixed-overhead stages,
    inherent to 10 chained shuffle rounds — at real scale per-stage
    work dominates that overhead.
    """
    e, m, nodes_raw, n = _directed(edges, src, dst)
    if n == 0:
        e.unpersist()
        return nodes_raw.withColumn("rank", F.lit(None).cast("double"))
    loop_parts = _loop_parts(edges.sparkSession, m)
    # SMALL-VECTOR regime (r18, the HITS/LPA treatment): under
    # GRAPH_BROADCAST_NODES the per-round rank join broadcasts the
    # rank vector (the cached weighted-edge relation is read as-is —
    # the shuffle alternative re-sorted it every round) and the
    # inflow left-join broadcasts the aggregated contributions; past
    # the cap the co-partitioned layout stands.
    small_vec = n <= GRAPH_BROADCAST_NODES
    if small_vec:
        nodes = nodes_raw
    else:
        nodes = nodes_raw.repartition(loop_parts, "node").persist()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # weighted edges, partitioned ONCE — but by WHICH key depends on
    # the regime (r19): on the broadcast path the per-round rank join
    # ships the rank vector, so the probe side's layout is free to
    # serve the NEXT operator instead — partitioning by dst makes the
    # per-round contribution groupBy(dst) partition-local (hash(dst)
    # satisfies its clustering), removing the ONLY per-round exchange
    # outright (§2.4). On the shuffle path src stays the key: there
    # the rank join is the exchange to avoid, and the aggregate pays
    # its own repartition as before.
    we = e.join(outdeg, "src").repartition(
        loop_parts, "dst" if small_vec else "src"
    ).persist()
    materialize(we)

    teleport = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for it in range(iters):
        r_side = F.broadcast(ranks) if small_vec else ranks
        contrib = (
            we.join(r_side, we["src"] == r_side["node"])
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
        )
        if not small_vec:
            contrib = contrib.repartition(loop_parts, "dst")
        contrib = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
        if small_vec:
            contrib = F.broadcast(contrib)
        # shuffle path: nodes (hash node @ loop_parts) ⋈ contrib (hash
        # dst @ loop_parts) co-partitioned, no exchange; the new rank
        # vector stays partitioned by node for the next round's join
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
        )
        if it == 0:
            _capture_round_plan("pagerank round (lazy-chained)", ranks)
        if (it + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and it + 1 < iters:
            ranks = ranks.localCheckpoint()
    # eager final checkpoint so the persisted inputs can release NOW —
    # returning a lazy tail over unpersisted inputs would recompute them
    ranks = ranks.localCheckpoint()
    e.unpersist()
    nodes_raw.unpersist()
    if not small_vec:
        nodes.unpersist()
    we.unpersist()
    return ranks


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 4,
             src: str = "src", dst: str = "dst",
             node_col: str = "node") -> DataFrame:
    """Minimum-hop distance from a SEED SET over an undirected edge
    list, bounded at ``max_hops`` → ``(node, hops)`` for every node
    reached (seeds at 0; unreached nodes absent). The level-synchronous
    BFS / bounded shortest-path class: supply-chain reach, blast-radius
    ("everything within k hops of the contaminated source"), curation
    neighborhood expansion.

    Runs :func:`shortest_path_weighted` with every edge weight 1 — a
    bounded Bellman-Ford relaxation ``d_k = min(d_{k-1}, 1 + d_{k-1} ⋈
    edges)`` rather than frontier/anti-join BFS: pure join + union +
    groupBy-MIN on integer hops, no anti-join state, deterministic on
    any engine, and it unrolls to SQL CTEs verbatim. Relaxation visits
    |frontier's edges| per round like frontier BFS; the union-min just
    carries settled nodes through the narrow aggregate.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    unit = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.lit(1).alias("w")
    )
    return shortest_path_weighted(
        unit, seeds, max_rounds=max_hops, node_col=node_col
    ).select("node", F.col("dist").cast("int").alias("hops"))


def shortest_path_weighted(edges: DataFrame, seeds: DataFrame,
                           max_rounds: int = 4,
                           src: str = "src", dst: str = "dst",
                           weight: str = "w",
                           node_col: str = "node") -> DataFrame:
    """Bounded single/multi-source shortest path over POSITIVE INTEGER
    edge weights on an undirected graph → ``(node, dist)`` for every
    node reachable within ``max_rounds`` relaxations (seeds at 0):
    bounded Bellman-Ford, ``d_k = min(d_{k-1}, min over edges (a,b,w)
    of d_{k-1}(a) + w)``, for cheapest-route / minimum-cost-reach
    queries. :func:`bfs_hops` is this loop with unit weights.

    Note the bound semantics: after k rounds each node holds the
    cheapest path of AT MOST k edges — a cheaper longer path appears
    once rounds cover its edge count (classic bounded Bellman-Ford).
    Integer distances end-to-end, so the unrolled-CTE oracle matches
    exactly. Parallel edges collapse to MIN(w) per (a, b) while the
    edge list is made undirected — one extra pre-aggregation, and it
    shrinks the relation every later round re-joins.

    Plan per round: reached ⋈ edges on the source key, union with the
    carried distances, partial-agg MIN by node. The undirected edges
    are hash-partitioned by the join key ONCE and persisted, so each
    round shuffles only the (node, dist) int relation. Unlike
    :func:`pagerank` (each round references the rank vector once),
    each relaxation references its predecessor TWICE, so every round
    is checkpointed and materialized instead of chaining lazily — see
    the loop comment.
    """
    if max_rounds < 0:
        raise ValueError("max_rounds must be >= 0")
    # every distance vector is a lazy checkpoint filled by the job that
    # also counts it: the count gates the next round's broadcast
    reached = seeds.select(
        F.col(node_col).alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
    ).distinct().localCheckpoint(eager=False)
    n_reached = _filled_rows(reached)
    if max_rounds == 0:  # no round reads the edges: skip their build
        return reached
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"),
        F.col(weight).cast("bigint").alias("w"),
    )
    # ONE upstream pass + ONE exchange (r18): persist the directed
    # projection across the count and the undirected build (the
    # caller's upstream previously ran twice), and repartition by the
    # join key BEFORE the min-collapse — hash(a) satisfies the
    # (a, b) grouping's clustering, so the aggregate adds no second
    # exchange and its output keeps the loop layout.
    e_p = e.persist()
    # the undirected relation holds at most 2m rows
    loop_parts = _loop_parts(edges.sparkSession, 2 * _filled_rows(e_p))
    und = (
        e_p.unionAll(
            e_p.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
        .repartition(loop_parts, "a")
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .persist()
    )
    materialize(und)
    e_p.unpersist()
    # Each round references reached TWICE (carried union branch + the
    # expansion join), so lazy chaining would double the plan subtree
    # per round — 2^k copies by round k (measured: 87 s for 4 rounds
    # at sf0.1 vs ~5 s checkpointed). A localCheckpoint materialized
    # every round keeps the plan flat; the materialized state is only
    # (node, dist) pairs. The oracle mirrors this with MATERIALIZED
    # CTEs.
    for r in range(max_rounds):
        # while the distance vector is small (its row count, observed
        # by the job that filled its checkpoint, is at most
        # GRAPH_BROADCAST_NODES) the relaxation join ships it instead
        # of sort-merging against the cached edge relation, which
        # re-sorted it every round
        rhs = (
            F.broadcast(reached)
            if n_reached <= GRAPH_BROADCAST_NODES else reached
        )
        expanded = (
            und.join(rhs, und["a"] == rhs["node"])
            .select(
                F.col("b").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        new_reached = (
            reached.unionAll(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if r == 0:
            _capture_round_plan("shortest_path_weighted round (pre-ckpt)",
                                new_reached)
        reached = new_reached.localCheckpoint(eager=False)
        n_reached = _filled_rows(reached)
    und.unpersist()
    return reached


def triangle_stats(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b") -> DataFrame:
    """Global triangle census of an undirected pair graph → ONE row
    ``(n_nodes, n_edges, n_wedges, n_triangles, clustering_ppm)`` with
    ``clustering_ppm = (3·triangles·1e6) div wedges`` (the global
    clustering coefficient as exact integer ppm; NULL on a wedge-free
    graph).

    The structural quality signal on a near-duplicate candidate graph:
    true duplicate groups are cliques, so high clustering says the LSH
    pairs agree with each other, while many wedges that never close
    say the banding is stitching unrelated docs through hub documents
    (boilerplate). Canonical edges (a < b, distinct) make each
    triangle a<b<c count exactly ONCE via the ordered 3-join
    (e1=(a,b) ⋈ e2=(b,c) ⋈ closing edge (a,c)).

    Scale: two hash joins on node keys over the EDGE relation (never
    the corpus) plus one degree aggregation; the join fan-out is
    bounded because the upstream LSH bucket cap bounds degrees — the
    same reason the pair graph itself stays near-linear. Integer
    end-to-end.
    """
    a, b = F.col(id_a), F.col(id_b)
    # localCheckpoint, not persist: four consumers (degrees, edge
    # count, two sides of the triangle join) read the canonical edge
    # relation, and the checkpoint leaves no pin to unpersist after
    # the returned single-row plan materializes.
    e = (
        pairs.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # coalesce: SUM over an empty degree relation (a graph of only
        # self-loops) is NULL, but "no wedges" is the number 0
        F.coalesce(
            F.sum(F.expr("(deg * (deg - 1)) div 2")), F.lit(0).cast("bigint")
        ).alias("n_wedges"),
    )
    edge_stats = e.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = (
        node_stats.crossJoin(F.broadcast(edge_stats))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.expr("(n_triangles * 3000000) div n_wedges"),
            ).alias("clustering_ppm"),
        )
    )
    return out


def kcore_peel(edges: DataFrame, k: int, rounds: int,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded k-core peel of an undirected graph → ``(node, deg)``
    for the nodes surviving ``rounds`` deletion sweeps (each sweep
    removes every node whose CURRENT degree is below ``k``, which
    lowers neighbors' degrees and can cascade next sweep). The
    density-core extraction behind community seeding and dup-graph
    triage: the k-core is where the cliques live, the peeled fringe is
    the loosely-attached boilerplate stitching.

    Bounded rounds make it deterministic and oracle-expressible (the
    bfs/pagerank discipline: a fixed unroll, not a data-dependent
    fixpoint); after R sweeps the result is the exact k-core whenever
    the cascade has settled (peel depth ≤ R), else a superset — the
    caller picks R like bfs picks max_hops. Synchronous deletion (all
    sub-k nodes of a sweep leave together) keeps every sweep a pure
    relational step: degree agg → keep-filter → two semi-joins.

    Scale (r16 rewrite — DIFFERENTIAL peeling): the survivor sets are
    monotone (a node peeled at sweep r has no surviving edges, so
    degree 0 at every later sweep), which makes the degree update
    incremental: ``deg_{r+1}(a) = deg_r(a) − #edges(a → removed_r)``
    for surviving ``a``. So after ONE full map-side-combined degree
    count over the once-checkpointed undirected relation, each sweep
    costs one scan of it joined against the (typically tiny,
    broadcast) newly-removed set plus node-sized arithmetic — the
    edge relation is never re-shuffled and never re-materialized.
    Above :data:`KCORE_BROADCAST_REMOVED` newly-removed nodes the
    sweep falls back to a shuffle semi-join (correctness identical;
    a mass first-sweep peel is the one case the delta set is big).
    The pre-r16 version checkpointed the full filtered edge relation
    per sweep — on a 140M-edge graph that barely peels it re-wrote
    the whole relation every round and measured 100×-scale ratio 89.6
    where the other bounded-loop graph ops sit at 5-17; the
    semi-join-rebuild intermediate still paid two 280M-row shuffles
    per sweep. Sweeps that remove nothing end the cascade early
    (bit-identical: a no-op sweep changes no degree).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    # filter BEFORE the direction union (a reversed unfiltered branch
    # re-admits self-loops, inflating degrees by 1 — the LPA lesson)
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # every checkpoint here is lazy: the one job per sweep that fills
    # and counts the removed set also fills the degree vector (and, on
    # the first sweep, the undirected relation) it reads. The returned
    # degrees may be the last sweep's checkpoint, filled by the
    # caller's action from materialized inputs only.
    und = (
        e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        removed = (
            deg.filter(F.col("deg") < k)
            .select(F.col("a").alias("b"))
            .localCheckpoint(eager=False)
        )
        n_removed = _filled_rows(removed)
        if n_removed == 0:
            break  # cascade settled: the exact k-core is reached
        if n_removed <= KCORE_BROADCAST_REMOVED:
            removed = F.broadcast(removed)
        delta = (
            und.join(removed, "b", "left_semi")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        deg = (
            deg.filter(F.col("deg") >= k)
            .join(delta, "a", "left")
            .select(
                "a",
                (F.col("deg") - F.coalesce("d", F.lit(0))).alias("deg"),
            )
            .localCheckpoint(eager=False)
        )
    # survivors that lost their last edge report no row (the degree
    # aggregation over the filtered edge relation never emitted one)
    return deg.filter(F.col("deg") > 0).select(
        F.col("a").alias("node"), "deg"
    )


def label_propagation(edges: DataFrame, rounds: int,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded synchronous label propagation over an undirected graph
    → ``(node, label)`` community assignments after ``rounds``
    propagation steps.

    The community-detection step beyond connected components
    (dedup.duplicate_clusters finds REACHABILITY classes; LPA finds
    DENSITY classes inside one component): every node starts labeled
    with its own id, and each round synchronously adopts the label
    that is MOST FREQUENT among its neighbors — ties broken by the
    smallest label, making every round a pure deterministic relational
    step (no RNG, no asynchronous visit order, the two classic LPA
    nondeterminism sources). Bounded rounds keep it oracle-expressible
    (the bfs/pagerank/kcore discipline: fixed unroll, not a
    data-dependent fixpoint); labels stabilize within a few rounds on
    modular graphs, and the caller picks ``rounds`` like bfs picks
    max_hops.

    Scale: per round ONE hash join (edge relation ⋈ labels on the
    neighbor key), a map-side-combinable (node, label) count, and an
    argmax as a ``min(struct(-c, label))`` AGGREGATE (r18 — was a
    row_number window: the aggregate computes the same (max count,
    ties to smallest label) winner through a hash aggregate with
    map-side partial combine instead of a per-node sort, one less
    operator on the per-round critical path and no sort buffer at
    all). Per-round ``localCheckpoint`` is LAZY (each label relation
    is referenced exactly once — by the next round's join — so the
    plan still truncates to a LogicalRDD per round but the rounds
    materialize inside one final job instead of paying a driver
    barrier each); the LAST round checkpoints eagerly so the edge
    cache can release before return (the pagerank discipline).
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")

    # filter BEFORE building both directions — reversing the unfiltered
    # relation would smuggle self-loops back in through the second
    # branch (found by the two-clique brute-force test)
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # ONE upstream pass (r18): the directed projection is persisted and
    # counted by the job that fills it, so the undirected build reads
    # the cache instead of re-running the caller's upstream (typically
    # a join + distinct — measured as a full second scan at sf0.1).
    # PERSIST rather than an unpartitioned localCheckpoint for the loop
    # relation: the undirected relation is 2|E| rows read every round, and
    # checkpointing it into a handful of input-shaped partitions OOMed
    # the 100x scale capture (140M rows in ~4 partitions). Partitioned
    # by the per-round join key ("b" — labels attach to the neighbor)
    # BEFORE the distinct: hash(b) satisfies the distinct's (a, b)
    # clustering, so the dedup adds no second exchange and the loop
    # join reuses the layout, re-exchanging only the label relation.
    e_p = e.persist()
    # the undirected relation holds at most 2m rows
    loop_parts = _loop_parts(edges.sparkSession, 2 * _filled_rows(e_p))
    # the initial label vector is checkpointed (tiny — one row per
    # node) by the job that counts it, so the count can gate the
    # per-round broadcast and the first round reads a materialization
    # instead of re-running the node distinct; built from the DIRECTED
    # cache (same node set as the undirected relation — every a
    # appears as some edge's b in the reversed branch) so the gate is
    # known BEFORE und's layout must be chosen
    labels = (
        e_p.select(F.col("a").alias("node"))
        .unionAll(e_p.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    # node count is fixed across rounds, so the broadcast gate is
    # decided once: under GRAPH_BROADCAST_NODES the per-round join
    # broadcasts the label vector (edge partitions read as cached, no
    # per-round sort-merge re-sort); over it the co-partitioned
    # shuffle join stands
    small_vec = _filled_rows(labels) <= GRAPH_BROADCAST_NODES
    # und's ONE-TIME layout serves the per-round hot path of its
    # regime (r19, §2.4): on the broadcast path the join ships the
    # label vector, so partitioning by "a" — the key the per-round
    # aggregates group on — makes BOTH aggregates partition-local and
    # the rounds exchange-free; on the shuffle path "b" (the join key)
    # stays, and each round re-exchanges only the (node, label) rows.
    # Either key's hash satisfies the distinct's (a, b) clustering, so
    # the dedup still adds no second exchange.
    und = (
        e_p.unionAll(
            e_p.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .repartition(loop_parts, "a" if small_vec else "b")
        .distinct()
        .persist()
    )
    materialize(und)
    e_p.unpersist()
    for r in range(rounds):
        lbl = labels.select(F.col("node").alias("b"), "label")
        nbr = (
            und.join(F.broadcast(lbl) if small_vec else lbl, "b")
            .select(F.col("a").alias("node"), "label")
        )
        if not small_vec:
            # ONE exchange per round: hash(node) satisfies the
            # clustering of BOTH aggregates below, so neither adds its
            # own shuffle (on the broadcast path und's hash(a) layout
            # already satisfies them through the alias — no exchange
            # at all)
            nbr = nbr.repartition(loop_parts, "node")
        cnt = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        # argmax: lexicographic struct min = largest count, ties to the
        # smallest label (binary string order — identical to the window
        # sort's (c DESC, label ASC) it replaces)
        new_labels = (
            cnt.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("label"))).alias("s"))
            .select("node", F.col("s.label").alias("label"))
        )
        if r == 0:
            _capture_round_plan("label_propagation round (pre-ckpt)",
                                new_labels)
        labels = new_labels.localCheckpoint(eager=(r == rounds - 1))
    # with zero rounds the initial labels are returned: the gate's
    # materialize already filled their checkpoint
    und.unpersist()
    return labels


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         iters: int = 5) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) over a directed edge list →
    ``(node, hub_ppm, auth_ppm)`` — the DIRECTED-ROLE companion to
    :func:`pagerank`: where PageRank gives one prestige score, HITS
    separates "points at the important" (hub) from "is pointed at by
    the important" (authority) — on an order graph, buyers with broad
    high-quality supplier coverage vs suppliers serving the
    best-covered buyers.

    INTEGER recurrence (unlike pagerank's final-round rounding): both
    vectors live as ppm BIGINTs, each half-round is an exact integer
    sum over edges followed by a max-rescale ``x·1e6 div max(x)`` —
    sums, max, and integral division are all order-independent, so
    the result is bit-identical cross-engine BY CONSTRUCTION rather
    than within-rounding, and magnitudes stay pinned at ≤ 1e6 forever
    (no float normalization, no norm drift). The statistic is the
    exact fixed iteration, not an approximation to tolerate.

    Plan per round: two edge⋈vector equi-joins (edges pre-partitioned
    by join key once, vectors co-partitioned; BIGINT node ids inside
    the loop since r19 — see :func:`_node_mapping`), two map-side-
    combined sums, and a 1-row exact-integer max collected and inlined
    into the rescale division. Unlike pagerank (whose rounds chain
    lazily — each round reads its predecessor ONCE), every rescale
    here reads its input twice (max + division), so each half-round
    localCheckpoints its |nodes|-row vector — lazily, with the max
    collect as the materializing action; lazy chaining without the cut
    would recompute the recurrence exponentially. The only collects
    are the per-rescale 1-row maxima (driver work a broadcast of the
    max would pay anyway).
    """
    if iters < 1:
        raise ValueError(
            f"hits requires iters >= 1 (got {iters}): the recurrence "
            "is a fixed iteration like pagerank's — zero rounds has "
            "no defined hub/authority vector"
        )
    e0, m, nodes_raw, n = _directed(edges, src, dst)
    if n == 0:
        out = nodes_raw.select(
            "node",
            F.lit(None).cast("bigint").alias("hub_ppm"),
            F.lit(None).cast("bigint").alias("auth_ppm"),
        )
        e0.unpersist()
        nodes_raw.unpersist()  # symmetric with the non-empty path
        return out
    spark = edges.sparkSession
    loop_parts = _loop_parts(spark, m)
    # the cached edge relation is the map side of every half-round's
    # join; a caller's distinct/join output arrives AQE-coalesced to a
    # partition or two, which ran each half-round's |E|-row probe side
    # nearly serially on the broadcast path (r18) — spread it once at
    # persist time over the full session width (keyed, so no
    # round-robin pre-sort)
    spread = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # SMALL-VECTOR regime (r18): while the node count is under
    # GRAPH_BROADCAST_NODES, every half-round joins the edge relation
    # against a BROADCAST of the ppm vector — the cached edge relation
    # is read as-is (the shuffle alternative sort-merge re-sorted it
    # every half-round), no directional edge copies are materialized,
    # and the half-round aggregate partial-combines map-side before
    # its exchange. Past the cap the pre-partitioned co-partitioned
    # layout below stands (a node vector that big is real shuffle work
    # a broadcast could not absorb).
    small_vec = n <= GRAPH_BROADCAST_NODES
    # BIGINT loop ids (r19): the recurrence carries and exchanges
    # (node, bigint) pairs instead of (string, bigint) — every
    # half-round's cached-edge probe hashes longs, every aggregate
    # exchange and checkpoint is two fixed-width columns. One
    # mapping build + edge encode at the boundary, one decode at exit.
    mapping = _node_mapping(nodes_raw, loop_parts)
    nodes_raw.unpersist()
    enc = _encode_edges(e0, mapping, small_vec, "src", "dst")
    nodes = mapping.select(F.col("nid").alias("node"))
    if small_vec:
        # Both direction copies are partitioned by the key the
        # half-round AGGREGATES on, not the join key (r19, §2.4): the
        # broadcast-hash join ships the vector and is layout-
        # indifferent, so hash(out_key) makes each half-round's sum
        # partition-local — the per-half-round exchange disappears
        # outright. (The non-broadcast path below keeps join-key
        # layouts: there the per-round join is the exchange to avoid.)
        e_agg_dst = enc.repartition(spread, "dst").persist()
        e_agg_src = enc.repartition(spread, "src").persist()
        materialize(e_agg_dst.unionAll(e_agg_src))  # one job fills both
        e_src = e_dst = None
    else:
        nodes = nodes.repartition(loop_parts, "node").persist()
        # both directions get a pre-partitioned edge copy: the hub→auth
        # pass joins on src, the auth→hub pass on dst — partitioned
        # ONCE each, so neither per-round join re-shuffles the edge
        # list. Each encodes from the cached e0; no third copy is kept.
        e_src = enc.repartition(loop_parts, "src").persist()
        e_dst = enc.repartition(loop_parts, "dst").persist()
        materialize(e_src.unionAll(e_dst))  # one job fills both
    e0.unpersist()

    ppm = F.lit(1_000_000).cast("bigint")

    def _rescale(vec: DataFrame, col: str) -> DataFrame:
        # LAZY localCheckpoint, then the 1-row max COLLECTED and
        # inlined as a literal (r19). The vector is referenced by the
        # max aggregate and the division, so without a cut both the
        # WORK and the LOGICAL PLAN TREE double per rescale — eager
        # chaining measured 49.5 s for 5 iterations on a 16k-node
        # graph, and a persist()-only variant blew Catalyst's stack
        # cloning the exponentially-sized tree. The max collect is the
        # action that materializes the lazy checkpoint (one job), so
        # the division — and anything that later BROADCASTS it — reads
        # a pinned LogicalRDD, never re-executing the recurrence (the
        # r18 lazy-checkpoint-under-BroadcastExchange failure). vs the
        # r18 shape this removes one job (the separate eager
        # checkpoint) and the per-half-round crossJoin(broadcast(max))
        # machinery: the max is exact BIGINT, so inlining it is
        # value-identical.
        vec = vec.localCheckpoint(eager=False)
        row = vec.agg(F.max(col).alias("__mx")).collect()
        mx = row[0]["__mx"] if row else None
        if mx is None or mx <= 0:
            return vec.select("node", F.lit(0).cast("bigint").alias(col))
        # decimal(38,0) for the ×1e6: raw sums reach max_degree·1e6,
        # so the BIGINT multiply would overflow past ~9e6 in-degree;
        # the quotient is ≤ 1e6 and lands back in BIGINT
        return vec.select(
            "node",
            F.expr(
                f"(cast({col} as decimal(38,0)) * 1000000)"
                f" div cast({int(mx)} as bigint)"
            )
            .cast("bigint")
            .alias(col),
        )

    # The recurrence carries SPARSE vectors: a node absent from hub/
    # auth has score 0, contributes nothing to the next half-round's
    # edge sums, and can never be the (always-positive) max — so the
    # per-half-round nodes-left-join zero-fill is pure overhead (10
    # joins + exchanges across 5 iterations, measured 58 s → 23 s at
    # sf0.01 under a vanilla 200-partition session). Zeros are filled
    # ONCE at the end, bit-identical to the dense recurrence (0
    # rescales to 0).
    def _half(edges_dir: DataFrame, vec: DataFrame, join_key: str,
              out_key: str, in_col: str, out_col: str) -> DataFrame:
        v = F.broadcast(vec) if small_vec else vec
        j = edges_dir.join(v, edges_dir[join_key] == v["node"]).select(
            out_key, in_col
        )
        if not small_vec:
            # pin the aggregate's exchange at the loop width so the
            # next half-round's join stays co-partitioned
            j = j.repartition(loop_parts, out_key)
        return (
            j.groupBy(out_key)
            .agg(F.sum(in_col).cast("bigint").alias(out_col))
            .select(F.col(out_key).alias("node"), out_col)
        )

    if small_vec:
        # Driver-side rescale loop (r19). In the broadcast regime every
        # half-round ALREADY ships the whole ≤GRAPH_BROADCAST_NODES-row
        # vector through the driver (a BroadcastExchange collects its
        # input), so collecting the half-round aggregate explicitly
        # moves no extra bytes — and the max + rescale run as exact
        # integer arithmetic on the driver while the next half-round
        # re-enters through `local_df`, whose broadcast is a ZERO-TASK
        # driver-side collect. ONE Spark job per half-round (the
        # edge-sum aggregate's collect) instead of checkpoint + max +
        # broadcast-build jobs. Exact by construction: Python/NumPy
        # int64, (x·1e6)//max on positive ints ≡ the decimal `div`
        # rescale of the distributed path.
        _i64_safe = (2**63 - 1) // 1_000_000

        def _half_pd(edges_dir: DataFrame, join_key: str, out_key: str,
                     vec_pdf, in_col: str, out_col: str,
                     capture: bool = False):
            v = local_df(spark, vec_pdf, f"node bigint, {in_col} bigint")
            agg = (
                edges_dir.join(F.broadcast(v), edges_dir[join_key] == v["node"])
                .select(out_key, in_col)
                .groupBy(out_key)
                .agg(F.sum(in_col).cast("bigint").alias(out_col))
                .select(F.col(out_key).alias("node"), out_col)
            )
            if capture:
                _capture_round_plan("hits half-round (pre-rescale)", agg)
            pdf = agg.toPandas()
            mx = int(pdf[out_col].max()) if len(pdf) else 0
            if mx <= 0:
                pdf[out_col] = 0
            elif mx <= _i64_safe:  # vectorized int64 cannot overflow
                pdf[out_col] = (pdf[out_col] * 1_000_000) // mx
            else:  # exact arbitrary-precision fallback
                pdf[out_col] = [
                    (int(x) * 1_000_000) // mx for x in pdf[out_col]
                ]
            return pdf

        hub_pdf = nodes.toPandas()
        hub_pdf["h"] = 1_000_000
        auth_pdf = None
        for it in range(iters):
            auth_pdf = _half_pd(e_agg_dst, "src", "dst", hub_pdf, "h", "a",
                                capture=(it == 0))
            hub_pdf = _half_pd(e_agg_src, "dst", "src", auth_pdf, "a", "h")
        h_v = F.broadcast(local_df(spark, hub_pdf, "__hn bigint, h bigint"))
        a_v = F.broadcast(local_df(spark, auth_pdf, "__an bigint, a bigint"))
    else:
        hub = nodes.select("node", ppm.alias("h"))
        auth = None
        for it in range(iters):
            a_raw = _half(e_src, hub, "src", "dst", "h", "a")
            if it == 0:
                _capture_round_plan("hits half-round (pre-rescale)", a_raw)
            auth = _rescale(a_raw, "a")
            hub = _rescale(_half(e_dst, auth, "dst", "src", "a", "h"), "h")
        h_v = hub.select(F.col("node").alias("__hn"), "h")
        a_v = auth.select(F.col("node").alias("__an"), "a")
    # decode: the mapping IS the node inventory, so the final zero-fill
    # join doubles as the nid→string decode — no extra join vs r18
    out = (
        mapping.join(h_v, mapping["nid"] == F.col("__hn"), "left")
        .join(a_v, mapping["nid"] == F.col("__an"), "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub_ppm"),
            F.coalesce("a", F.lit(0)).cast("bigint").alias("auth_ppm"),
        )
        .localCheckpoint()
    )
    if small_vec:
        e_agg_dst.unpersist()
        e_agg_src.unpersist()
    else:
        nodes.unpersist()
        e_src.unpersist()
        e_dst.unpersist()
    return out
