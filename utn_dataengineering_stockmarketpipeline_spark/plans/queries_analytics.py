"""General analytics queries over the star schema.

The reference delegates all SQL to Postgres (SURVEY.md §2.6: "the engine
gets GROUP BY / aggregates / sorting for free from Spark") — these
queries exercise that surface as engine capabilities: grouped
aggregation, multi-way broadcast-star joins, semi joins, rollup,
set ops, ranking/lead-lag windows, and event-stream slicing.

Float discipline: any SUM/AVG over doubles goes through
``DECIMAL(18,x)`` so the reduction is exact and order-independent, then
casts back to double — Spark's parallel sum and DuckDB's serial sum
otherwise disagree in final ulps and fail the driver's value-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_df
from ..sources.parquet import load_table
from .catalog import register
from .confscope import scoped_sql_conf


def _order_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→supplier edges of the order graph — the shared
    input of the iterative-graph queries (pagerank / HITS / BFS / LPA /
    k-core). Dedup runs on the INTEGER key pair BEFORE the node-id
    concat (r18): the distinct's exchange then moves two BIGINTs
    instead of two strings and the concat evaluates once per surviving
    edge instead of once per lineitem row — identical output relation
    (the concat is injective, so distinct∘concat ≡ concat∘distinct)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
    )


def _dsum(col, scale: int = 2):
    """Order-independent exact sum of a double column, as double."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")


@register(
    "ana_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-shaped pricing summary: partial (map-side) aggregation "
        "makes the shuffle proportional to group count (4), not rows",
    tags=("analytics", "aggregate"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") <= F.lit("2000-09-02").cast("date")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity").alias("sum_qty"),
        _dsum("l_extendedprice").alias("sum_base_price"),
        F.sum(disc.cast("decimal(18,6)")).cast("double").alias("sum_disc_price"),
        F.sum(charge.cast("decimal(18,6)")).cast("double").alias("sum_charge"),
        (_dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        (_dsum("l_discount", 6) / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "ana_top_customers",
    """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
""",
    doc="fact⋈dim revenue ranking; dim broadcasts (no shuffle of orders); "
        "deterministic top-k via (revenue desc, custkey) total order",
    tags=("analytics", "join", "topk"),
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            _dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(10)
    )


@register(
    "ana_region_revenue",
    """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
    doc="star join: all three dims broadcast, so the 100 TB fact never "
        "shuffles until the (tiny) final aggregation",
    tags=("analytics", "join", "broadcast"),
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "ana_order_priority",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4-shaped EXISTS → left-semi join (no row multiplication, "
        "unlike an inner join + distinct)",
    tags=("analytics", "semi-join"),
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "ana_window_rank",
    """
SELECT c_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3
""",
    doc="ranking window: top-3 orders per customer; one shuffle on the "
        "partition key, deterministic tiebreak",
    tags=("analytics", "window"),
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "ana_lead_lag",
    """
WITH sp AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CASE CAST(o_custkey % 5 AS INT) WHEN 0 THEN 'AAPL' WHEN 1 THEN 'MSFT'
           WHEN 2 THEN 'GOOG' WHEN 3 THEN 'AMZN' ELSE 'TSLA' END AS t,
         MAX(o_totalprice) AS close
  FROM orders GROUP BY 1, 2)
SELECT t AS stock_ticker, d AS stock_date, close AS stock_close,
       LAG(close) OVER (PARTITION BY t ORDER BY d) AS prev_close,
       close - LAG(close) OVER (PARTITION BY t ORDER BY d) AS day_change,
       LEAD(close) OVER (PARTITION BY t ORDER BY d) AS next_close
FROM sp
""",
    doc="lead/lag day-over-day deltas per ticker (offset windows)",
    tags=("analytics", "window"),
)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .reference_tables import _ticker_expr

    o = load_table(spark, sf_dir, "orders")
    sp = (
        o.select(
            F.col("o_orderdate").cast("date").alias("d"),
            _ticker_expr().alias("t"),
            "o_totalprice",
        )
        .groupBy("d", "t")
        .agg(F.max("o_totalprice").alias("close"))
    )
    w = Window.partitionBy("t").orderBy("d")
    return sp.select(
        F.col("t").alias("stock_ticker"),
        F.col("d").alias("stock_date"),
        F.col("close").alias("stock_close"),
        F.lag("close").over(w).alias("prev_close"),
        (F.col("close") - F.lag("close").over(w)).alias("day_change"),
        F.lead("close").over(w).alias("next_close"),
    )


@register(
    "ana_rollup_volume",
    """
WITH sp AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
         CASE CAST(o_custkey % 5 AS INT) WHEN 0 THEN 'AAPL' WHEN 1 THEN 'MSFT'
           WHEN 2 THEN 'GOOG' WHEN 3 THEN 'AMZN' ELSE 'TSLA' END AS t
  FROM orders)
SELECT y AS stock_year, t AS stock_ticker, COUNT(*) AS volume
FROM sp GROUP BY ROLLUP (y, t)
""",
    doc="ROLLUP hierarchy totals (year → ticker → grand total); integer "
        "counts so no float discipline needed",
    tags=("analytics", "rollup"),
)
def q_rollup_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .reference_tables import _ticker_expr

    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"), _ticker_expr().alias("t")
    )
    return o.rollup("y", "t").agg(F.count(F.lit(1)).alias("volume")).select(
        F.col("y").alias("stock_year"),
        F.col("t").alias("stock_ticker"),
        "volume",
    )


@register(
    "ana_set_ops",
    """
SELECT mkt, 'both_halves' AS category FROM (
  SELECT DISTINCT c_mktsegment AS mkt FROM customer WHERE c_custkey % 2 = 0
  INTERSECT
  SELECT DISTINCT c_mktsegment FROM customer WHERE c_custkey % 2 = 1)
UNION ALL
SELECT mkt, 'even_only' AS category FROM (
  SELECT DISTINCT c_mktsegment AS mkt FROM customer WHERE c_custkey % 2 = 0
  EXCEPT
  SELECT DISTINCT c_mktsegment FROM customer WHERE c_custkey % 2 = 1)
""",
    doc="INTERSECT / EXCEPT / UNION ALL set algebra",
    tags=("analytics", "set-ops"),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    even = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_mktsegment").alias("mkt")
    ).distinct()
    odd = c.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_mktsegment").alias("mkt")
    ).distinct()
    both = even.intersect(odd).select("mkt", F.lit("both_halves").alias("category"))
    only = even.subtract(odd).select("mkt", F.lit("even_only").alias("category"))
    return both.unionAll(only)


@register(
    "ana_events_hourly",
    """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1, 2
""",
    doc="event-stream hourly tumbling aggregation + JSON field extraction "
        "(batch form of the streaming window, SURVEY.md §2.9)",
    tags=("analytics", "events", "json"),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "total_value"
        ),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
    )


@register(
    "ana_distinct_users_salted",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
FROM events GROUP BY event_type
""",
    doc="exact per-key COUNT(DISTINCT) via the two-phase salted plan "
        "(operators/skew.py) — hot-key-proof: no single reduce task ever "
        "sees a key's whole value set",
    tags=("analytics", "skew", "aggregate"),
)
def q_distinct_users_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_distinct_count

    ev = load_table(spark, sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id")


@register(
    "ana_user_sessions",
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
    doc="session windows (30 min inactivity gap) via F.session_window — "
        "the streaming-capable sessionization operator, oracle-checked "
        "against the classic gaps-and-islands SQL",
    tags=("analytics", "window", "session", "events"),
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
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


@register(
    "ana_cube_returns",
    """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="CUBE aggregation (all grouping-set combinations incl. grand "
        "total) — partial aggregation expands grouping IDs map-side, "
        "one shuffle",
    tags=("analytics", "cube", "aggregate"),
)
def q_cube_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias(
            "sum_qty"
        ),
    )


@register(
    "ana_pivot_status",
    """
SELECT l_returnflag,
       COALESCE(COUNT(*) FILTER (WHERE l_linestatus = 'F'), 0) AS f_n,
       COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'F') AS DOUBLE), CAST(0 AS DOUBLE)) AS f_qty,
       COALESCE(COUNT(*) FILTER (WHERE l_linestatus = 'O'), 0) AS o_n,
       COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_linestatus = 'O') AS DOUBLE), CAST(0 AS DOUBLE)) AS o_qty
FROM lineitem GROUP BY l_returnflag
""",
    doc="pivot (long → wide): linestatus values become columns. The "
        "value list is given explicitly so Spark skips the extra "
        "distinct-values job — at 100 TB an unbounded pivot is a full "
        "scan before the real one. Missing combinations coalesce to 0 "
        "in both engines.",
    tags=("analytics", "pivot", "aggregate"),
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("l_quantity").alias("qty"),
        )
    )
    return wide.select(
        "l_returnflag",
        F.coalesce(F.col("F_n"), F.lit(0)).alias("f_n"),
        F.coalesce(F.col("F_qty"), F.lit(0.0)).alias("f_qty"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("o_n"),
        F.coalesce(F.col("O_qty"), F.lit(0.0)).alias("o_qty"),
    )


@register(
    "ana_quantity_percentiles",
    """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.50) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       quantile_cont(l_quantity, 0.95) AS p95
FROM lineitem GROUP BY l_returnflag
""",
    doc="exact linearly-interpolated percentiles per group. l_quantity "
        "is whole-numbered, so interpolated values land on exactly-"
        "representable midpoints and both engines agree bit-for-bit. "
        "(At 100 TB swap percentile → approx_percentile: t-digest "
        "sketch, partial-aggregable, no per-group sort.)",
    tags=("analytics", "percentile", "aggregate"),
)
def q_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        F.percentile("l_quantity", F.lit(0.95)).alias("p95"),
    )


@register(
    "ana_nation_flow",
    """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ns.n_name < nc.n_name
GROUP BY 1, 2, 3
""",
    doc="TPC-H Q7-shaped trade flow: revenue between (supplier nation, "
        "customer nation) pairs per ship year. One genuine fact-to-fact "
        "shuffle join (lineitem ⋈ orders on orderkey — both sides "
        "hash-partition once); every dimension broadcasts, including "
        "nation twice under different roles. The plan shape that "
        "dominates warehouse workloads at 100 TB: AQE picks the shuffle "
        "join's partitioning, dims never shuffle the fact",
    tags=("analytics", "join", "multi-join"),
)
def q_nation_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == ns["ns_key"])
        .join(F.broadcast(nc), c["c_nationkey"] == nc["nc_key"])
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "ana_market_share",
    """
WITH flows AS (
  SELECT EXTRACT(year FROM o_orderdate) AS order_year,
         ns.n_name AS supp_nation,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN part      ON l_partkey = p_partkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region r  ON nc.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA' AND p_type = 'PROMO')
SELECT CAST(order_year AS INT) AS order_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                          ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
            / CAST(SUM(rev) AS DOUBLE) AS DOUBLE) AS mkt_share,
       CAST(SUM(rev) AS DOUBLE) AS total_revenue
FROM flows GROUP BY 1
""",
    doc="TPC-H Q8-shaped market share: NATION_3 suppliers' revenue share "
        "of PROMO-part sales to ASIA customers, per order year. Eight-"
        "table join where the part/region filters prune BEFORE the "
        "joins (predicate pushdown reaches the scans), the conditional "
        "share aggregate runs as one pass (no self-join re-scan), and "
        "exact DECIMAL sums make the double division engine-identical",
    tags=("analytics", "join", "multi-join", "conditional-agg"),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    flows = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == ns["ns_key"])
        .join(F.broadcast(nc), c["c_nationkey"] == nc["nc_key"])
        .join(
            F.broadcast(r.select("r_regionkey")),
            F.col("nc_region") == F.col("r_regionkey"),
            "left_semi",
        )
        .select(
            F.year("o_orderdate").alias("order_year"),
            "supp_nation",
            rev.alias("rev"),
        )
    )
    share_num = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("rev")).otherwise(zero)
    ).cast("double")
    return flows.groupBy("order_year").agg(
        (share_num / F.sum("rev").cast("double")).alias("mkt_share"),
        F.sum("rev").cast("double").alias("total_revenue"),
    )


@register(
    "ana_priority_late_orders",
    """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4-shaped correlated EXISTS: orders having any line item "
        "shipped >60 days after ordering, counted per priority. The "
        "correlated subquery lowers to a LEFT SEMI shuffle join on "
        "orderkey — the fact never duplicates rows however many line "
        "items match, and Catalyst plans it without a manual rewrite",
    tags=("analytics", "join", "semi", "subquery"),
)
def q_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (
                li["l_shipdate"]
                > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "ana_approx_sketches",
    None,  # HLL/t-digest parameters differ per engine — no value oracle;
    # the companion ana_sketches_exact carries the hash-green exact
    # answers over the SAME grouping, and this query's within_bounds
    # columns assert the error contract IN the output (the driver's
    # rows-only check then pins cardinality + bound booleans);
    # tests/test_sketches.py keeps the pytest-side gate too
    doc="sketch aggregates — the 100 TB cardinality/quantile path: "
        "approx_count_distinct (HyperLogLog++: fixed-size register "
        "merge, order-insensitive, no per-key value set) and "
        "approx_percentile (t-digest: partial-aggregable, no per-group "
        "sort). Exact COUNT(DISTINCT) over 10⁹ users is a shuffle of "
        "every distinct value; the sketch is a few KB per group. "
        "Output self-audits: exact companions + relative error + "
        "within_bounds booleans (HLL rsd=0.02 gated at 6%; quantile "
        "error gated at 10% of the p50-p95 spread)",
    tags=("analytics", "sketch", "approximate"),
)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000).alias(
            "value_quantiles"
        ),
    ).select(
        "event_type",
        "approx_users",
        F.col("value_quantiles")[0].alias("p50"),
        F.col("value_quantiles")[1].alias("p95"),
        F.col("value_quantiles")[2].alias("p99"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile(value, 0.95)").alias("exact_p95"),
    )
    spread = F.abs(F.col("exact_p95") - F.col("exact_p50")) + F.lit(1e-9)
    rel_err = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
    )
    return approx.join(exact, "event_type").select(
        "event_type",
        "approx_users",
        "p50",
        "p95",
        "p99",
        "exact_users",
        F.round(rel_err, 6).alias("users_rel_err"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(F.lit(3.0), 0.06 * F.col("exact_users"))
        ).alias("users_within_bounds"),
        (
            (F.abs(F.col("p50") - F.col("exact_p50")) <= 0.1 * spread)
            & (F.abs(F.col("p95") - F.col("exact_p95")) <= 0.1 * spread)
        ).alias("quantiles_within_bounds"),
    )


@register(
    "ana_sketches_exact",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""",
    doc="EXACT companion to ana_approx_sketches over the identical "
        "grouping: COUNT(DISTINCT) + interpolated (continuous) "
        "percentiles — the hash-green anchor the sketch query's "
        "within_bounds columns are audited against. At 100 TB this is "
        "the query whose distinct-shuffle cost motivates the sketch "
        "path; at audit/test scale it is the ground truth",
    tags=("analytics", "sketch", "exact"),
)
def q_sketches_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "ana_funnel_conversion",
    """
WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
           FROM events),
s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
       FROM e),
s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t_view
                          THEN ts END)
                   OVER (PARTITION BY user_id) AS t_click
       FROM s1),
s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click
                          THEN ts END)
                   OVER (PARTITION BY user_id) AS t_purchase
       FROM s2)
SELECT COUNT(DISTINCT user_id) AS users_total,
       COUNT(DISTINCT CASE WHEN t_view IS NOT NULL
                           THEN user_id END) AS users_view,
       COUNT(DISTINCT CASE WHEN t_click IS NOT NULL
                           THEN user_id END) AS users_click,
       COUNT(DISTINCT CASE WHEN t_purchase IS NOT NULL
                           THEN user_id END) AS users_purchase
FROM s3
""",
    doc="ordered funnel view → click → purchase: per user, first view, "
        "first click at-or-after that view, first purchase at-or-after "
        "that click; stage counts of users surviving each step. Three "
        "chained unbounded-frame window aggs share ONE hash exchange "
        "on user_id (no orderBy → no sort), then a single global "
        "conditional count-distinct — the sequence-match analytics "
        "shape at any event volume.",
    tags=("analytics", "window", "funnel", "events"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") >= F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )

    # per-user flag rollup FIRST: input is already hash-partitioned by
    # user_id from the window exchange, so this groupBy adds NO shuffle
    # and shrinks to one row per user — the 4-way countDistinct
    # alternative would Expand every event row ×4 through two more
    # exchanges
    flags = s3.groupBy("user_id").agg(
        F.max(F.col("t_view").isNotNull()).alias("v"),
        F.max(F.col("t_click").isNotNull()).alias("c"),
        F.max(F.col("t_purchase").isNotNull()).alias("p"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("users_total"),
        F.sum(F.col("v").cast("bigint")).alias("users_view"),
        F.sum(F.col("c").cast("bigint")).alias("users_click"),
        F.sum(F.col("p").cast("bigint")).alias("users_purchase"),
    )


@register(
    "ana_retention_cohorts",
    """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
f AS (SELECT user_id, ts,
             MIN(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM e),
d AS (SELECT DISTINCT user_id,
             date_trunc('week', CAST(first_ts AS DATE)) AS cohort_week,
             CAST(datediff('day',
                           date_trunc('week', CAST(first_ts AS DATE)),
                           date_trunc('week', CAST(ts AS DATE))) // 7
                  AS BIGINT) AS week_offset
      FROM f)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM d GROUP BY cohort_week, week_offset
""",
    doc="weekly retention cohorts: users grouped by ISO week of first "
        "event; n_users active per (cohort, weeks-since) cell. One "
        "window exchange on user_id; the per-user distinct reuses that "
        "partitioning (user_id ⊆ distinct keys → no exchange), then "
        "one tiny partial-agg shuffle on the cohort cell. The offset "
        "is calendar-aligned (week-start to week-start), an exact "
        "multiple of 7 days — integer-exact in both engines.",
    tags=("analytics", "window", "cohort", "events"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    first_ts = F.min("ts").over(Window.partitionBy("user_id"))
    cohort = F.trunc(F.col("first_ts").cast("date"), "week")
    event_week = F.trunc(F.col("ts").cast("date"), "week")
    return (
        ev.withColumn("first_ts", first_ts)
        .select(
            "user_id",
            cohort.alias("cohort_week"),
            (F.datediff(event_week, cohort) / 7).cast("bigint").alias(
                "week_offset"
            ),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "ana_min_cost_supplier",
    """
SELECT DISTINCT p.p_partkey, p.p_name, li.l_suppkey,
       li.l_extendedprice AS min_price
FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
WHERE li.l_extendedprice = (
  SELECT MIN(l2.l_extendedprice) FROM lineitem l2
  WHERE l2.l_partkey = li.l_partkey)
""",
    doc="TPC-H Q2-shaped min-cost supplier per part: the correlated "
        "scalar subquery DECORRELATES to a per-part window min + "
        "equality filter — one shuffle on partkey; the distinct reuses "
        "that partitioning (partkey ⊆ keys → no second exchange) and "
        "the part dim broadcasts. The oracle keeps the correlated "
        "form, so the check proves the decorrelation is semantics-"
        "preserving (ties: every min-price supplier rows out).",
    tags=("analytics", "window", "decorrelation"),
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .select("l_partkey", "l_suppkey", "min_price")
        .distinct()
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "l_suppkey", "min_price")
    )


@register(
    "ana_sole_late_supplier",
    """
WITH ll AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30
           AS is_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
FROM ll l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.is_late
  AND EXISTS (SELECT 1 FROM ll l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM ll l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.is_late)
GROUP BY s.s_suppkey, s.s_name
""",
    doc="TPC-H Q21-shaped blame query: lines shipped > 30 days after "
        "order date, in multi-supplier orders where NO other supplier "
        "was late. The EXISTS ('another supplier') and NOT EXISTS "
        "('another LATE supplier') both decorrelate to per-order "
        "window min/max: another-supplier-exists ⟺ min(suppkey) ≠ "
        "max(suppkey); no-other-late ⟺ the late rows' supplier "
        "min == max (and the row itself is late) — ONE shuffle on "
        "orderkey replaces two lineitem self-joins. Oracle keeps the "
        "EXISTS form, proving the rewrite.",
    tags=("analytics", "window", "decorrelation", "anti-join"),
)
def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ll = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("sd") > F.date_add(F.col("od"), 30)).alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    late_supp = F.when(F.col("is_late"), F.col("l_suppkey"))
    flagged = ll.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.min("l_suppkey").over(w).alias("min_s"),
        F.max("l_suppkey").over(w).alias("max_s"),
        F.min(late_supp).over(w).alias("min_ls"),
        F.max(late_supp).over(w).alias("max_ls"),
    )
    blamed = flagged.filter(
        F.col("is_late")
        & (F.col("min_s") != F.col("max_s"))
        & (F.col("min_ls") == F.col("max_ls"))
    )
    return (
        blamed.join(F.broadcast(s), blamed["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "ana_important_parts",
    """
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
  FROM lineitem GROUP BY l_partkey)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM pv
WHERE CAST(val AS DOUBLE) * 4 * (SELECT COUNT(*) FROM pv)
      > 5 * (SELECT CAST(SUM(val) AS DOUBLE) FROM pv)
""",
    doc="TPC-H Q11-shaped share-of-total filter: parts whose lineitem "
        "value exceeds 1.25x the MEAN part value — scale-free, so the "
        "cut discriminates at every sf. The global (total, count) "
        "scalar is a tiny second aggregation broadcast against the "
        "per-part rollup. Sums stay exact-decimal; the 5/4 threshold "
        "compare runs in per-row double arithmetic on identical "
        "inputs, which is bit-identical across engines (only float "
        "REDUCTIONS are order-sensitive).",
    tags=("analytics", "aggregate", "scalar-subquery"),
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("val")
    )
    total = pv.agg(
        F.sum("val").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(
            F.col("val").cast("double") * 4 * F.col("n_parts")
            > 5 * F.col("total")
        )
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
    )


@register(
    "ana_big_orders",
    """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice, CAST(qty AS DOUBLE) AS total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
""",
    doc="TPC-H Q18-shaped large-volume orders: the HAVING aggregation "
        "collapses lineitem to a tiny set of qualifying order keys "
        "FIRST, so the subsequent orders/customer joins touch only "
        "those keys (AQE broadcasts the aggregated side). The naive "
        "plan — join everything, then aggregate — shuffles the full "
        "fact table twice; this shape shuffles it once, map-side "
        "combined. Quantity sums stay exact-decimal.",
    tags=("analytics", "aggregate", "semi-join"),
)
def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 250)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            F.col("qty").cast("double").alias("total_qty"),
        )
    )


@register(
    "ana_lapsed_customers",
    """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(*) AS ab
  FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = customer.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
""",
    doc="TPC-H Q22-shaped lapsed high-value customers: above-average "
        "balance (scalar-subquery decorrelated to a 1-row broadcast) "
        "with no orders since 2000 (NOT EXISTS decorrelated to a "
        "left_anti join against the date-pruned orders projection). "
        "The anti-join's build side carries only o_custkey, and the "
        "date filter prunes it before the shuffle. The avg is an "
        "exact-decimal sum divided in double; the > compare runs "
        "per-row on identical inputs, bit-identical across engines.",
    tags=("analytics", "anti-join", "scalar-subquery"),
)
def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ab")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "ana_price_histogram",
    """
SELECT CAST(FLOOR((p_retailprice - 900.0) / 10.0) AS INT) AS bucket,
       CAST(900.0 + 10.0 * CAST(FLOOR((p_retailprice - 900.0) / 10.0) AS INT)
            AS DOUBLE) AS bucket_lo,
       COUNT(*) AS n_parts,
       CAST(MIN(p_retailprice) AS DOUBLE) AS min_price,
       CAST(MAX(p_retailprice) AS DOUBLE) AS max_price
FROM part
GROUP BY 1, 2
""",
    doc="equi-width histogram (fixed [900,1000) domain, width 10): the "
        "bucket id is a pure projection, so the whole profile is one "
        "partial-aggregated groupBy — shuffle size = bucket count, not "
        "rows. Fixed bounds (not data-dependent min/max) keep it one "
        "pass; a data-dependent domain would need a 2-row broadcast "
        "pre-pass. MIN/MAX of doubles are order-independent, so no "
        "decimal detour is needed",
    tags=("analytics", "profiling", "histogram"),
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    bucket = F.floor((F.col("p_retailprice") - F.lit(900.0)) / F.lit(10.0)).cast(
        "int"
    )
    return (
        part.withColumn("bucket", bucket)
        .withColumn(
            "bucket_lo", F.lit(900.0) + F.lit(10.0) * F.col("bucket")
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "ana_data_profile",
    "\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_val,
       CAST(MAX({c}) AS DOUBLE) AS max_val,
       CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
FROM lineitem"""
        for c in _PROFILE_COLS
    ),
    doc="dataset profiling (rows / nulls / distincts / min / max / exact "
        "sum) for four measure columns: one agg computes the 20 plain "
        "statistics in a single scan, each COUNT(DISTINCT) rides its own "
        "column-pruned two-level aggregate broadcast back as a 1-row "
        "relation, then stack() unpivots into one row per column. r18: "
        "the previous single-agg multi-COUNT(DISTINCT) plan paid "
        "Catalyst's Expand (5x row multiplier over the full scan, "
        "measured 5.0 s vs 1.8 s at sf0.1); the per-column distincts "
        "read the same total bytes under parquet column pruning and "
        "their (column)-keyed partial aggregates shuffle only the "
        "distinct values. At 100 TB, approx_count_distinct drops even "
        "those shuffles",
    tags=("analytics", "profiling"),
)
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"{c}__null"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            F.sum(F.col(c).cast("decimal(18,6)")).cast("double").alias(f"{c}__sum"),
        ]
    one = li.agg(*aggs)
    for c in _PROFILE_COLS:
        nd = (
            # COUNT(DISTINCT c) semantics: distinct NON-NULL values
            li.select(F.col(c))
            .filter(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.lit(1))
            .agg(F.count(F.lit(1)).alias(f"{c}__nd"))
        )
        one = one.crossJoin(F.broadcast(nd))
    stack = "stack({n}, {args}) as (col_name, n_rows, n_null, n_distinct, min_val, max_val, sum_val)".format(
        n=len(_PROFILE_COLS),
        args=", ".join(
            f"'{c}', {c}__rows, {c}__null, {c}__nd, {c}__min, {c}__max, {c}__sum"
            for c in _PROFILE_COLS
        ),
    )
    return one.selectExpr(stack)


@register(
    "ana_pareto_parts",
    """
WITH best AS (
  SELECT p_size, MIN(p_retailprice) AS best_price FROM part GROUP BY p_size),
sky AS (
  SELECT p_size, best_price,
         MIN(best_price) OVER (ORDER BY p_size DESC
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_larger
  FROM best)
SELECT p.p_partkey, p.p_name, p.p_size, p.p_retailprice
FROM part p
JOIN sky s ON p.p_size = s.p_size AND p.p_retailprice = s.best_price
WHERE s.min_larger IS NULL OR s.best_price < s.min_larger
""",
    doc="2-D skyline (Pareto frontier: maximize p_size, minimize price). "
        "NOT the O(n^2) dominance anti-join: aggregate to best price per "
        "size (one partial-agg shuffle, output = |distinct sizes|), take "
        "a running strict-min over larger sizes (RANGE ... 1 PRECEDING "
        "on the DESC order gives strictness; the unpartitioned window is "
        "safe because its input is already |sizes| rows, not the table), "
        "then one broadcast join back to recover the frontier rows",
    tags=("analytics", "skyline", "window"),
)
def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    best = part.groupBy("p_size").agg(
        F.min("p_retailprice").alias("best_price")
    )
    w = (
        Window.orderBy(F.col("p_size").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        best.withColumn("min_larger", F.min("best_price").over(w))
        .filter(
            F.col("min_larger").isNull()
            | (F.col("best_price") < F.col("min_larger"))
        )
        # rename: sky derives from part, so joining back on bare p_size
        # would be an ambiguous self-join reference
        .select(
            F.col("p_size").alias("sky_size"),
            F.col("best_price"),
        )
    )
    return (
        part.join(
            F.broadcast(sky),
            (F.col("p_size") == F.col("sky_size"))
            & (F.col("p_retailprice") == F.col("best_price")),
        )
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    )


@register(
    "ana_first_touch",
    """
WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
           FROM events),
m AS (SELECT *,
        LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
        LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
      FROM e)
SELECT event_id AS purchase_id, user_id, touch_type
FROM m
WHERE event_type = 'purchase' AND touch_ts IS NOT NULL
  AND ts - touch_ts <= INTERVAL 30 MINUTE
""",
    doc="last-touch attribution: for each purchase, the most recent "
        "non-purchase event by the same user within 30 min. ONE window "
        "pass (last ignorenulls over rows-preceding frame) — not a "
        "self-join: the per-user sort is a single shuffle on user_id, "
        "and both attributed columns ride the same frame so they come "
        "from the same source row. Tie-broken by (ts, event_id) for "
        "cross-engine determinism",
    tags=("analytics", "attribution", "window", "events"),
)
def q_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    non_purchase = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    np_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn("touch_type", F.last(non_purchase, ignorenulls=True).over(w))
        .withColumn("touch_ts", F.last(np_ts, ignorenulls=True).over(w))
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("touch_ts").isNotNull()
            # ts is TIMESTAMP_NTZ (parquet isAdjustedToUTC=false): no
            # direct long cast, so compare via interval arithmetic
            & (F.col("ts") <= F.col("touch_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .select(
            F.col("event_id").alias("purchase_id"), "user_id", "touch_type"
        )
    )


def _pagerank_oracle(iters: int = 10) -> str:
    """Unrolled 10-iteration PageRank in DuckDB SQL — recursive CTEs
    cannot aggregate in the recursive term, so the fixed iteration
    count unrolls into chained CTEs (generated, not hand-written).
    Float parity: (1.0 - 0.85) is written as the expression, not the
    0.15 literal (they are DIFFERENT doubles), matching the Python
    teleport computation; summation-order drift stays ~1e-17 absolute,
    vastly inside the ROUND 9."""
    ctes = ["""edges AS MATERIALIZED (
  SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS MATERIALIZED (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""]
    for k in range(1, iters + 1):
        ctes.append(f"""r{k} AS (
  SELECT n2.node,
         (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c.inflow, 0.0) AS rank
  FROM nodes n2 CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, SUM(r.rank / o.outdeg) AS inflow
    FROM edges e
    JOIN r{k - 1} r ON e.src = r.node
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst) c ON c.dst = n2.node)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, ROUND(rank, 9) AS rank FROM r{iters}"
    )


@register(
    "ana_pagerank_suppliers",
    _pagerank_oracle(10),
    doc="PageRank over the customer->supplier order graph (who supplies "
        "the best-connected buyers) — the ITERATIVE FIXED-POINT class "
        "beyond connected components: 10 Pregel-style rounds, one "
        "contribution shuffle per round, teleport floor pulls in "
        "no-inbound nodes (operators/graph.pagerank). Oracle unrolls "
        "the identical 10 iterations as chained SQL CTEs (DuckDB's "
        "recursive terms cannot aggregate); both engines ROUND to 9 "
        "after the final round",
    tags=("analytics", "graph", "iterative"),
)
def q_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    edges = _order_graph_edges(spark, sf_dir)
    # 30 chained stages over a small rank vector: a vanilla session's
    # 200 shuffle partitions turn that into thousands of near-empty
    # tasks (~4 s/iteration measured). pagerank() scopes its own loop
    # shuffle width per plan (explicit repartition sized to |nodes|,
    # capped at the session setting) — no session conf mutation, safe
    # under concurrent queries on the same SparkSession.
    pr = pagerank(edges, iters=10)
    return pr.select("node", F.round("rank", 9).alias("rank"))


def _hits_oracle(iters: int) -> str:
    """Unrolled integer-ppm HITS over the customer->supplier order
    graph (the pagerank edge construction) — recursive CTEs cannot
    aggregate, so the fixed iteration unrolls like _pagerank_oracle.
    Pure integers: HUGEINT sums, MAX rescale, // truncation —
    bit-exact by construction, no float normalization anywhere.

    Every per-iteration CTE is MATERIALIZED: each a{k}/h{k} is
    referenced twice downstream (the max-rescale cross join), so
    DuckDB's default CTE inlining recomputes the recurrence
    exponentially — the exact analogue of the Spark-side lazy-chaining
    bug fixed pre-registration (fda51ea). Measured at sf0.01: 370 s
    inlined → 0.1 s materialized. _pagerank_oracle doesn't need this
    (each r{k} is referenced exactly once)."""
    ctes = ["""edges AS MATERIALIZED (
  SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS h FROM nodes)"""]
    for k in range(1, iters + 1):
        ctes.append(f"""a{k}raw AS MATERIALIZED (
  SELECT n2.node, COALESCE(s.a, CAST(0 AS HUGEINT)) AS a
  FROM nodes n2
  LEFT JOIN (
    SELECT e.dst AS node, SUM(h.h) AS a
    FROM edges e JOIN h{k - 1} h ON e.src = h.node
    GROUP BY e.dst) s ON s.node = n2.node)""")
        ctes.append(f"""a{k} AS MATERIALIZED (
  SELECT node,
         CASE WHEN mx.mx > 0 THEN (a * 1000000) // mx.mx
              ELSE CAST(0 AS HUGEINT) END AS a
  FROM a{k}raw CROSS JOIN (SELECT MAX(a) AS mx FROM a{k}raw) mx)""")
        ctes.append(f"""h{k}raw AS MATERIALIZED (
  SELECT n2.node, COALESCE(s.h, CAST(0 AS HUGEINT)) AS h
  FROM nodes n2
  LEFT JOIN (
    SELECT e.src AS node, SUM(a.a) AS h
    FROM edges e JOIN a{k} a ON e.dst = a.node
    GROUP BY e.src) s ON s.node = n2.node)""")
        ctes.append(f"""h{k} AS MATERIALIZED (
  SELECT node,
         CASE WHEN mx.mx > 0 THEN (h * 1000000) // mx.mx
              ELSE CAST(0 AS HUGEINT) END AS h
  FROM h{k}raw CROSS JOIN (SELECT MAX(h) AS mx FROM h{k}raw) mx)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT h.node, CAST(h.h AS BIGINT) AS hub_ppm,
       CAST(a.a AS BIGINT) AS auth_ppm
FROM h{iters} h JOIN a{iters} a ON h.node = a.node"""
    )


@register(
    "ana_hits_graph",
    _hits_oracle(5),
    doc="HITS (Kleinberg hubs & authorities) over the customer->"
        "supplier order graph (operators/graph.hits) — the DIRECTED-"
        "ROLE companion to ana_pagerank_suppliers: where PageRank "
        "gives one prestige score, HITS separates buyers with broad "
        "high-quality supplier coverage (hubs) from suppliers serving "
        "the best-covered buyers (authorities). INTEGER recurrence "
        "unlike pagerank's final-round rounding: both vectors live as "
        "ppm BIGINTs, each half-round is an exact integer edge-sum "
        "then a max-rescale x·1e6 div max(x) — order-independent, so "
        "bit-identical cross-engine BY CONSTRUCTION, magnitudes "
        "pinned ≤ 1e6 forever. Oracle unrolls the identical 5 "
        "iterations as chained HUGEINT CTEs. Plan per round: two "
        "pre-partitioned edge⋈vector equi-joins + map-side sums + a "
        "1-row max broadcast; each half-round lazily localCheckpoints "
        "its |nodes|-row vector (eager chaining recomputes the "
        "recurrence exponentially — measured and fixed pre-"
        "registration). 100× scale ratio 7.76 in SCALE_100X.json",
    tags=("analytics", "graph", "iterative"),
)
def q_hits_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hits

    edges = _order_graph_edges(spark, sf_dir)
    return hits(edges, iters=5)


@register(
    "ana_grouping_sets",
    """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
""",
    doc="explicit GROUPING SETS (priority totals, status totals, grand "
        "total — the hand-picked subset ROLLUP/CUBE can't express "
        "without emitting unwanted combinations): one Expand + one "
        "aggregation shuffle; DECIMAL-exact sums",
    tags=("analytics", "grouping-sets"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """)


@register(
    "ana_chi_square_lang_source",
    """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source),
enr AS (
  SELECT lang, source, o,
         CAST(SUM(o) OVER (PARTITION BY lang) AS BIGINT) AS r,
         CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS c,
         CAST(SUM(o) OVER () AS BIGINT) AS n
  FROM cells),
terms AS (
  SELECT lang, source, n,
         CAST(floor(
           (o - CAST(r AS DOUBLE) * c / n)
           * (o - CAST(r AS DOUBLE) * c / n)
           / (CAST(r AS DOUBLE) * c / n) * 1000000 + 0.5)
           AS BIGINT) AS tm
  FROM enr)
SELECT CAST(CAST(SUM(tm) AS BIGINT) AS DOUBLE) / 1000000.0 AS chi2,
       CAST((COUNT(DISTINCT lang) - 1)
            * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
       CAST(MIN(n) AS BIGINT) AS n_docs
FROM terms
""",
    doc="chi-square test of independence between two categorical "
        "columns (lang x source) — the dataset-balance diagnostic "
        "('is source mix confounded with language?'). ONE corpus scan "
        "and one cell aggregation; margins are WINDOW sums over the "
        "tiny |langs|x|sources| cell relation (zero joins — the "
        "margin-as-join form re-scanned the corpus per margin). Each "
        "cell's (o-e)²/e term is computed from identical integers "
        "through identical correctly-rounded double ops and quantized "
        "ONCE to micro-units (mode-stable floor(x*1e6+0.5)); the "
        "cross-cell reduction is an exact int64 SUM — the parallel "
        "double SUM it replaces was aggregation-order-nondeterministic "
        "under DuckDB's parallel SUM(DOUBLE), the exact flake class "
        "the ccnet/k-means audits killed",
    tags=("analytics", "statistics"),
)
def q_chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    enr = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("r"),
        F.sum("o").over(Window.partitionBy("source")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    d = F.col("o") - e
    tm = F.floor(d * d / e * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return (
        enr.select("lang", "source", "n", tm.alias("tm"))
        .agg(
            (F.sum("tm").cast("double") / F.lit(1000000.0)).alias("chi2"),
            (
                (F.countDistinct("lang") - 1)
                * (F.countDistinct("source") - 1)
            ).cast("bigint").alias("dof"),
            F.min("n").cast("bigint").alias("n_docs"),
        )
    )


@register(
    "ana_referential_orphans",
    """
SELECT 'orders.o_custkey' AS fk, COUNT(*) AS n_orphans
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
WHERE c_custkey IS NULL
UNION ALL
SELECT 'lineitem.l_orderkey', COUNT(*)
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderkey IS NULL
UNION ALL
SELECT 'lineitem.l_suppkey', COUNT(*)
FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
WHERE s_suppkey IS NULL
UNION ALL
SELECT 'customer.c_nationkey', COUNT(*)
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
WHERE n_nationkey IS NULL
""",
    doc="referential-integrity audit across the star schema (the "
        "dbt-test / data-contract class): orphan count per FK edge via "
        "LEFT ANTI joins — dimension sides broadcast, so each check is "
        "a map-side probe of the fact; counts should be zero on "
        "consistent data and the query IS the alerting contract",
    tags=("analytics", "data-quality", "anti-join"),
)
def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    def orphans(fact, fkey, dim, dkey, label):
        f = load_table(spark, sf_dir, fact)
        d = load_table(spark, sf_dir, dim).select(dkey)
        return (
            f.select(F.col(fkey))
            .join(F.broadcast(d), f[fkey] == d[dkey], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans("orders", "o_custkey", "customer", "c_custkey",
                "orders.o_custkey")
        .unionByName(orphans("lineitem", "l_orderkey", "orders",
                             "o_orderkey", "lineitem.l_orderkey"))
        .unionByName(orphans("lineitem", "l_suppkey", "supplier",
                             "s_suppkey", "lineitem.l_suppkey"))
        .unionByName(orphans("customer", "c_nationkey", "nation",
                             "n_nationkey", "customer.c_nationkey"))
    )


@register(
    "ana_bloom_pruned_join",
    """
SELECT l.l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_orderkey
""",
    doc="selective dim filter -> fact join under RUNTIME BLOOM "
        "FILTERING: the urgent-orders predicate builds a Bloom filter "
        "that probes (`might_contain`) the lineitem scan BEFORE the "
        "join exchange, so at 100 TB the fact side ships only rows "
        "that can join (~20% here). Spark's size gates "
        "(applicationSideScanSizeThreshold=10GB) never fire at test "
        "scale, so the thresholds are scoped down for the build — at "
        "cluster scale the defaults engage on their own; the oracle "
        "proves the pruned plan returns the identical result. Plan "
        "pinned in tests/test_plans.py; DECIMAL-exact sums",
    tags=("analytics", "runtime-filter", "bloom", "scale"),
)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        out = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_orderkey")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_qty"),
            )
        )
        # Materialize WHILE the scoped confs are live: bloom injection
        # happens at optimization, and a lazy frame returned out of the
        # scope would re-plan (broadcast, no bloom) at consumption — so
        # every downstream consumer (oracle collect, bench timing) must
        # read the checkpointed blocks the pruned plan produced. Eager
        # localCheckpoint runs the plan exactly once (no double exec).
        return out.localCheckpoint(eager=True)


@register(
    "ana_event_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_event
  FROM events),
t AS (
  SELECT prev_event, event_type, COUNT(*) AS n_transitions
  FROM seq WHERE prev_event IS NOT NULL
  GROUP BY prev_event, event_type)
SELECT prev_event, event_type, n_transitions,
       round(CAST(n_transitions AS DOUBLE) /
             SUM(n_transitions) OVER (PARTITION BY prev_event), 6) AS p
FROM t
""",
    doc="user-journey Markov transition matrix: per (previous event, "
        "next event) count and conditional probability — the "
        "product-analytics step past funnels/sessions (which paths do "
        "users actually take). One lag window partitioned by user "
        "(ts+event_id total order), one |event_types|^2-row aggregate; "
        "the probability normalizer is a window over that TINY "
        "relation, never the event stream. Ratio of exact BIGINT "
        "counts rounded to 6dp, so the value-hash is engine-stable",
    tags=("analytics", "events", "window", "markov"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_event"),
    ).filter(F.col("prev_event").isNotNull())
    t = seq.groupBy("prev_event", "event_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    norm = Window.partitionBy("prev_event")
    return t.select(
        "prev_event",
        "event_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm),
            6,
        ).alias("p"),
    )


@register(
    "ana_join_key_skew",
    """
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts),
cc AS (
  SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_at
  FROM counts GROUP BY cnt),
cum AS (
  SELECT cnt,
         SUM(n_at) OVER (ORDER BY cnt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cc),
pct AS (
  SELECT MIN(CASE WHEN cum * 2 >= n_keys THEN cnt END) AS p50_cnt,
         MIN(CASE WHEN cum * 100 >= n_keys * 99 THEN cnt END) AS p99_cnt
  FROM cum CROSS JOIN tot),
top AS (
  SELECT user_id, cnt FROM counts ORDER BY cnt DESC, user_id LIMIT 10)
SELECT user_id, cnt, (cnt * 1000) // n_rows AS share_permille,
       p50_cnt, p99_cnt,
       round(CAST(cnt AS DOUBLE) / p50_cnt, 6) AS ratio_to_p50
FROM top CROSS JOIN tot CROSS JOIN pct
""",
    doc="join-key skew diagnostic (operators/skew.key_skew_profile): "
        "the pre-flight a 100 TB join runs before choosing plain "
        "shuffle vs salted_join vs AQE skew splitting — the 10 "
        "hottest events.user_id keys with per-mille share, exact "
        "percentile-disc p50/p99 key frequencies, and the hot-key-"
        "to-median ratio (100x ratio = one reduce task gets 100x the "
        "median partition). ONE map-side-combined count shuffle; "
        "percentiles from the Zipf-tiny counts-OF-counts relation "
        "(the exact_row_number observation) cumulated and broadcast "
        "back; hottest keys via distributed top-k, never a global "
        "sort. Integer arithmetic except the final 6dp ratio",
    tags=("analytics", "skew", "diagnostics", "scale"),
)
def q_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew

    return skew.key_skew_profile(
        load_table(spark, sf_dir, "events"), key="user_id", top_k=10
    )


@register(
    "ana_skyline_suppliers",
    """
WITH m AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
              AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_suppkey),
j AS (
  SELECT s_suppkey, s_name, revenue, s_acctbal
  FROM m JOIN supplier ON l_suppkey = s_suppkey)
SELECT s_suppkey, s_name, revenue, s_acctbal FROM j a
WHERE NOT EXISTS (
  SELECT 1 FROM j b
  WHERE b.revenue >= a.revenue AND b.s_acctbal >= a.s_acctbal
    AND (b.revenue > a.revenue OR b.s_acctbal > a.s_acctbal))
""",
    doc="supplier Pareto front maximizing (revenue, acctbal) via the "
        "two-stage distributed skyline (operators/skyline.py): exact "
        "per-partition fronts in one zero-shuffle Arrow sweep collapse "
        "the input to a tiny candidate set, then one identical sweep "
        "over the centralized candidates (single-partition exchange of "
        "the PRUNED set only). The oracle is the O(n^2) NOT "
        "EXISTS dominance form the distributed plan replaces; decimal "
        "revenue sums keep the dominance comparisons engine-exact",
    tags=("analytics", "skyline", "scale"),
)
def q_skyline_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline_2d

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    m = li.groupBy("l_suppkey").agg(F.sum(rev).cast("double").alias("revenue"))
    j = m.join(F.broadcast(s), m["l_suppkey"] == s["s_suppkey"]).select(
        "s_suppkey", "s_name", "revenue", "s_acctbal"
    )
    return skyline_2d(j, "revenue", "s_acctbal")


#: shared with stream_ks_drift (queries_streaming): the drained
#: streaming monitor must converge to the batch statistic, so both
#: entries verify against this SQL verbatim.
_KS_DRIFT_ORACLE_SQL = """
WITH counts AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source, n_chars),
vcum AS (
  SELECT v, v_cnt, CAST(SUM(v_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_all
  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS v_cnt FROM counts GROUP BY v)),
grp AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_g FROM counts GROUP BY source),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
cums AS (
  SELECT g.source, g.n_g, t.n, vc.cum_all,
         CAST(SUM(COALESCE(c.c, 0)) OVER (
           PARTITION BY g.source ORDER BY vc.v) AS BIGINT) AS cum_g
  FROM grp g CROSS JOIN tot t CROSS JOIN vcum vc
  LEFT JOIN counts c ON c.source = g.source AND c.v = vc.v),
diffs AS (
  SELECT source, n_g, n,
         ABS(CAST(cum_g AS DECIMAL(19,0)) * CAST(n - n_g AS DECIMAL(19,0))
           - CAST(cum_all - cum_g AS DECIMAL(19,0))
             * CAST(n_g AS DECIMAL(19,0))) AS d
  FROM cums)
SELECT source, n_g AS n_docs, CAST(MAX(d) AS BIGINT) AS ks_num,
       CAST((CAST(MAX(d) AS HUGEINT) * 1000000)
            // (CAST(n_g AS HUGEINT) * CAST(n - n_g AS HUGEINT))
            AS BIGINT) AS ks_ppm
FROM diffs WHERE n_g < n GROUP BY source, n_g, n
"""


@register(
    "ana_ks_drift",
    _KS_DRIFT_ORACLE_SQL,
    doc="per-source exact two-sample Kolmogorov-Smirnov drift of the "
        "document-length distribution vs the REST of the corpus "
        "(skew.ks_drift) — the ingest-quality monitor that flags which "
        "source to quarantine before it skews training. Integer "
        "statistic (max |cum_g*n_rest - cum_rest*n_g|, DECIMAL(38,0) "
        "products for 1e11-row honesty) normalized as exact integer "
        "ks_ppm via integral division — no cross-engine double rounding; "
        "everything past the one count shuffle runs on the |sources| x "
        "|distinct values| grid — bounded by the VALUE DOMAIN, never "
        "the corpus; the only unpartitioned window cumulates the tiny "
        "distinct-values relation",
    tags=("analytics", "drift", "quality", "scale"),
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew

    return skew.ks_drift(
        load_table(spark, sf_dir, "documents"), value_col="n_chars",
        group_col="source",
    )


#: shared with stream_emd_drift (queries_streaming): the drained
#: streaming monitor must converge to the batch statistic, so both
#: entries verify against this SQL verbatim (the KS-drift contract).
_EMD_DRIFT_ORACLE_SQL = """
WITH counts AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source, n_chars),
vcum AS (
  SELECT v, v_cnt, CAST(SUM(v_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_all,
         CAST(COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0)
              AS DECIMAL(19,0)) AS gap
  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS v_cnt FROM counts GROUP BY v)),
grp AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_g FROM counts GROUP BY source),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
cums AS (
  SELECT g.source, g.n_g, t.n, vc.cum_all, vc.gap,
         CAST(SUM(COALESCE(c.c, 0)) OVER (
           PARTITION BY g.source ORDER BY vc.v) AS BIGINT) AS cum_g
  FROM grp g CROSS JOIN tot t CROSS JOIN vcum vc
  LEFT JOIN counts c ON c.source = g.source AND c.v = vc.v),
areas AS (
  SELECT source, n_g, n,
         ABS(CAST(cum_g AS DECIMAL(19,0)) * CAST(n - n_g AS DECIMAL(19,0))
           - CAST(cum_all - cum_g AS DECIMAL(19,0))
             * CAST(n_g AS DECIMAL(19,0))) * gap AS area
  FROM cums)
SELECT source, n_g AS n_docs,
       CAST((CAST(SUM(area) AS HUGEINT) * 1000000)
            // (CAST(n_g AS HUGEINT) * CAST(n - n_g AS HUGEINT))
            AS BIGINT) AS emd_micro
FROM areas WHERE n_g < n GROUP BY source, n_g, n
"""


@register(
    "ana_emd_drift",
    _EMD_DRIFT_ORACLE_SQL,
    doc="per-source exact 1-Wasserstein (earth-mover) drift of the "
        "document-length distribution vs the REST of the corpus "
        "(skew.emd_drift) — the third drift monitor beside ana_ks_drift "
        "(worst single CDF point) and ana_psi_drift (binned integral): "
        "the exact area between the two empirical CDFs, which separates "
        "a small shift everywhere from a large shift somewhere and "
        "needs no bin tuning. Integer end to end on the same counts "
        "grid as KS: area numerator Σ|cum_g·n_rest − cum_rest·n_g|·gap "
        "in DECIMAL(38,0), emitted as exact integral-division "
        "micro-value-units — no double quotient, no libm; same scale "
        "posture (one counts shuffle, then the value-domain grid)",
    tags=("analytics", "drift", "quality", "scale"),
)
def q_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew

    return skew.emd_drift(
        load_table(spark, sf_dir, "documents"), value_col="n_chars",
        group_col="source",
    )


#: shared with stream_cusum_drift (queries_streaming): the drained
#: streaming monitor must converge to the batch statistic, so both
#: entries verify against this SQL verbatim (the KS-drift contract).
#: The alarm threshold 100000 ppm is skew.cusum_drift's default h_ppm.
_CUSUM_DRIFT_ORACLE_SQL = """
WITH counts AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source, n_chars),
vcum AS (
  SELECT v, v_cnt, CAST(SUM(v_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_all
  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS v_cnt FROM counts GROUP BY v)),
grp AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_g FROM counts GROUP BY source),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
cums AS (
  SELECT g.source, g.n_g, t.n, vc.v, vc.cum_all,
         CAST(SUM(COALESCE(c.c, 0)) OVER (
           PARTITION BY g.source ORDER BY vc.v) AS BIGINT) AS cum_g
  FROM grp g CROSS JOIN tot t CROSS JOIN vcum vc
  LEFT JOIN counts c ON c.source = g.source AND c.v = vc.v),
diffs AS (
  SELECT source, n_g, n, v,
         CAST(cum_g AS DECIMAL(19,0)) * CAST(n - n_g AS DECIMAL(19,0))
           - CAST(cum_all - cum_g AS DECIMAL(19,0))
             * CAST(n_g AS DECIMAL(19,0)) AS d
  FROM cums),
ascent AS (
  SELECT source, n_g, n, v,
         d - LEAST(CAST(0 AS DECIMAL(38,0)),
                   MIN(d) OVER (PARTITION BY source ORDER BY v)) AS s
  FROM diffs)
SELECT source, n_g AS n_docs,
       CAST(MAX(s) AS BIGINT) AS cusum_num,
       CAST((CAST(MAX(s) AS HUGEINT) * 1000000)
            // (CAST(n_g AS HUGEINT) * CAST(n - n_g AS HUGEINT))
            AS BIGINT) AS cusum_ppm,
       MIN(CASE WHEN CAST(s AS HUGEINT) * 1000000
                     > CAST(100000 AS HUGEINT) * n_g * (n - n_g)
                THEN v END) AS alarm_value
FROM ascent WHERE n_g < n GROUP BY source, n_g, n
"""


@register(
    "ana_cusum_drift",
    _CUSUM_DRIFT_ORACLE_SQL,
    doc="per-source CUSUM drift of the document-length distribution vs "
        "the REST of the corpus (skew.cusum_drift) — the fourth drift "
        "monitor: Page's CUSUM recurrence in its exact two-cumulative-"
        "window form (the risk.cusum_alarms decomposition) taken over "
        "the ORDERED VALUE DOMAIN, reading the maximal ASCENT of the "
        "signed CDF-difference curve. Detects a contiguous over-"
        "represented value band that earlier under-representation "
        "cancels out of the one-sided KS supremum — e.g. a source "
        "dumping truncated documents into one narrow length band — and "
        "emits alarm_value, the first domain value where the ascent "
        "crosses h_ppm (the quarantine trigger: WHERE the mass piles "
        "up, not just that it does). Integer end to end on the same "
        "counts grid as KS/PSI/EMD: signed integer CDF numerators, "
        "integer window minima, integral-division ppm, and a pure-"
        "integer threshold compare (s·1e6 > h·n_g·n_rest) — no "
        "boundary rounding, no libm",
    tags=("analytics", "drift", "quality", "scale"),
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew

    return skew.cusum_drift(
        load_table(spark, sf_dir, "documents"), value_col="n_chars",
        group_col="source",
    )


_MW_DRIFT_ORACLE_SQL = """
WITH counts AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source, n_chars),
vcum AS (
  SELECT v, v_cnt, CAST(SUM(v_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_all
  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS v_cnt FROM counts GROUP BY v)),
grp AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_g FROM counts GROUP BY source),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
cums AS (
  SELECT g.source, g.n_g, t.n, vc.v_cnt, vc.cum_all,
         COALESCE(c.c, 0) AS g_c,
         CAST(SUM(COALESCE(c.c, 0)) OVER (
           PARTITION BY g.source ORDER BY vc.v) AS BIGINT) AS cum_g
  FROM grp g CROSS JOIN tot t CROSS JOIN vcum vc
  LEFT JOIN counts c ON c.source = g.source AND c.v = vc.v),
terms AS (
  SELECT source, n_g, n,
         CAST(g_c AS DECIMAL(19,0))
           * (2 * CAST((cum_all - cum_g) - (v_cnt - g_c) AS DECIMAL(19,0))
              + CAST(v_cnt - g_c AS DECIMAL(19,0))) AS tm
  FROM cums)
SELECT source, n_g AS n_docs,
       CAST(SUM(tm) AS BIGINT) AS u2,
       CAST(((CAST(SUM(tm) AS HUGEINT)
              - CAST(n_g AS HUGEINT) * (n - n_g)) * 1000000)
            // (CAST(n_g AS HUGEINT) * (n - n_g)) AS BIGINT)
         AS rank_biserial_ppm
FROM terms WHERE n_g < n GROUP BY source, n_g, n
"""


@register(
    "ana_mann_whitney_drift",
    _MW_DRIFT_ORACLE_SQL,
    doc="per-source exact tie-aware Mann-Whitney U (Wilcoxon rank-sum) "
        "of document length vs the REST of the corpus "
        "(skew.mann_whitney_drift) — the fifth drift monitor: the "
        "PAIRWISE STOCHASTIC-ORDER test, powerful when shapes match "
        "but one source runs systematically longer/shorter. Never a "
        "pair join: every cross-pair comparison collapses on the "
        "counts grid to u2 = Σ c_g(v)·(2·cumrest(v⁻) + c_rest(v)) — "
        "one cumulative window per group over the value domain, ties "
        "exact in the doubled-U integer form. Effect size emitted as "
        "exact signed rank-biserial ppm via integral division "
        "(truncation toward zero is engine-identical, the theil-sen "
        "discipline). Same scale posture as ana_ks_drift: one counts "
        "shuffle, then the |sources| × |values| grid",
    tags=("analytics", "drift", "quality", "scale", "statistics"),
)
def q_mann_whitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew

    return skew.mann_whitney_drift(
        load_table(spark, sf_dir, "documents"), value_col="n_chars",
        group_col="source",
    )


_JT_ORACLE_SQL = """
WITH counts AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source, n_chars),
grp AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_g FROM counts GROUP BY source),
vals AS (SELECT v FROM counts GROUP BY v),
grid AS (
  SELECT g.source, vv.v, g.n_g, COALESCE(c.c, 0) AS g_c
  FROM grp g CROSS JOIN vals vv
  LEFT JOIN counts c ON c.source = g.source AND c.v = vv.v),
staged AS (
  SELECT source, v, g_c,
         CAST(SUM(g_c) OVER (PARTITION BY source ORDER BY v)
              AS DECIMAL(19,0)) AS cum_g
  FROM grid),
prefixed AS (
  SELECT g_c,
         COALESCE(SUM(cum_g) OVER (
           PARTITION BY v ORDER BY source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           CAST(0 AS DECIMAL(19,0))) AS p,
         COALESCE(SUM(CAST(g_c AS DECIMAL(19,0))) OVER (
           PARTITION BY v ORDER BY source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           CAST(0 AS DECIMAL(19,0))) AS q
  FROM staged),
j AS (
  SELECT SUM(CAST(g_c AS HUGEINT) * CAST(2 * p - q AS HUGEINT)) AS j2_num
  FROM prefixed),
e AS (
  SELECT SUM(CAST(n_g AS HUGEINT)
             * CAST(COALESCE(before, 0) AS HUGEINT)) AS ej2_num,
         CAST(SUM(n_g) AS BIGINT) AS n_obs,
         CAST(COUNT(*) AS BIGINT) AS n_groups
  FROM (SELECT n_g,
               SUM(n_g) OVER (ORDER BY source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS before
        FROM grp))
SELECT e.n_groups, e.n_obs,
       CAST(j.j2_num AS BIGINT) AS j2,
       CAST(e.ej2_num AS BIGINT) AS ej2,
       CAST(((j.j2_num - e.ej2_num) * 1000000) // e.ej2_num AS BIGINT)
         AS trend_ppm
FROM j CROSS JOIN e
WHERE e.ej2_num > 0
"""


@register(
    "ana_jonckheere_trend",
    _JT_ORACLE_SQL,
    doc="Jonckheere-Terpstra ordered-alternative trend over document "
        "length across sources in their natural order "
        "(skew.jonckheere_trend) — the drift family's ordered-groups "
        "member: where Mann-Whitney asks 'does THIS group differ from "
        "the rest', Jonckheere asks 'do the groups TREND in their given "
        "order' (do documents get systematically longer across release "
        "batches r1 < r2 < ... < rK). J = Σ_{a<b} U_ab over ordered "
        "group pairs in the doubled-integer tie-exact form j2 = 2J "
        "beside its exact null expectation ej2 = Σ_{a<b} n_a·n_b and "
        "trend_ppm = (j2 − ej2)·1e6 div ej2. Never a group-pair or "
        "value-pair join: j2 collapses to Σ_{v,g} c_g(v)·(2P − Q) via "
        "two nested cumulative windows on the |groups| × |values| "
        "counts grid — the same mergeable monitoring state as "
        "KS/PSI/EMD/CUSUM/Mann-Whitney. Integer end to end: "
        "DECIMAL(38,0) products, integral-division ppm, no libm",
    tags=("analytics", "drift", "quality", "scale", "statistics"),
)
def q_jonckheere_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew

    return skew.jonckheere_trend(
        load_table(spark, sf_dir, "documents"), value_col="n_chars",
        group_col="source",
    )


# Shared with stream_kruskal_wallis (stream == batch on the same
# mergeable counts grid, oracle verbatim — the jonckheere pattern).
_KW_ORACLE_SQL = """
WITH counts AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source, n_chars),
vals AS (
  SELECT v, v_cnt,
         2 * COALESCE(SUM(v_cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + v_cnt + 1 AS r2
  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS v_cnt FROM counts GROUP BY v)),
per_g AS (
  SELECT c.source, CAST(SUM(c.c) AS BIGINT) AS n_g,
         CAST(SUM(CAST(c.c AS HUGEINT) * vals.r2) AS HUGEINT) AS r2g
  FROM counts c JOIN vals ON vals.v = c.v
  GROUP BY c.source),
terms AS (SELECT n_g, (r2g * r2g) // n_g AS tg FROM per_g),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(tg) AS HUGEINT) AS s
  FROM terms),
ties AS (
  SELECT CAST(SUM(CAST(v_cnt AS HUGEINT) * v_cnt * v_cnt - v_cnt)
              AS HUGEINT) AS tsum
  FROM vals)
SELECT n_groups, n AS n_obs,
       CAST((3 * s * 1000000) // (CAST(n AS HUGEINT) * (n + 1))
            - 3000000 * (n + 1) AS BIGINT) AS h_micro,
       CAST((CAST((3 * s * 1000000) // (CAST(n AS HUGEINT) * (n + 1))
                  - 3000000 * (n + 1) AS HUGEINT)
             * (CAST(n AS HUGEINT) * n * n - n))
            // (CAST(n AS HUGEINT) * n * n - n - tsum) AS BIGINT)
         AS h_tie_micro
FROM stats CROSS JOIN ties
WHERE CAST(n AS HUGEINT) * n * n - n > tsum
"""


@register(
    "ana_kruskal_wallis",
    _KW_ORACLE_SQL,
    doc="tie-corrected Kruskal-Wallis H over document length across "
        "ALL sources at once (skew.kruskal_wallis_drift) — the K-GROUP "
        "member of the drift family: Mann-Whitney asks 'does THIS "
        "group differ from the rest' (one verdict per group), "
        "Jonckheere 'do the groups trend in their given order'; "
        "Kruskal-Wallis asks 'are the K groups drawn from the same "
        "distribution AT ALL' — the single gate a pipeline checks "
        "before drilling into per-group verdicts. Quantized-integer "
        "emission (the ppm discipline applied to a rank statistic): "
        "doubled average ranks r2(v) = 2*cum_before + c(v) + 1 are "
        "exact integers (ties exact), doubled rank sums R2_g reduce "
        "per group, H = 3*[SUM_g R2_g^2/n_g]/(n(n+1)) - 3(n+1) as "
        "h_micro via per-group integral division, and the tie "
        "correction C = 1 - SUM(c_v^3 - c_v)/(n^3 - n) multiplies "
        "through as one more integral division — DECIMAL(38,0) "
        "intermediates, no doubles, no libm, toward-zero both "
        "engines. Never a pair join and never a grid: R2_g needs only "
        "the per-VALUE rank relation (domain-bounded) broadcast onto "
        "the counts — one counts shuffle, one domain window, one "
        "group aggregate. The same mergeable (group, value) counts "
        "grid as KS/PSI/EMD/CUSUM/MW/Jonckheere",
    tags=("analytics", "drift", "quality", "scale", "statistics"),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew

    return skew.kruskal_wallis_drift(
        load_table(spark, sf_dir, "documents"), "n_chars", "source"
    )


@register(
    "ana_gini_concentration",
    """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_mu
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey),
ranked AS (
  SELECT rev_mu,
         ROW_NUMBER() OVER (ORDER BY rev_mu, o_custkey) AS rnk
  FROM per_cust),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(rev_mu AS HUGEINT)) AS sx,
         SUM(CAST(rnk AS HUGEINT) * CAST(rev_mu AS HUGEINT)) AS srx
  FROM ranked)
SELECT n AS n_units, CAST(sx AS BIGINT) AS total_value,
       CAST(((2 * srx - (n + 1) * sx) * 1000000)
            // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_ppm
FROM m WHERE n > 0 AND sx > 0
""",
    doc="Gini coefficient of revenue concentration across customers "
        "(skew.gini_concentration): the canonical inequality scalar "
        "G = (2·Σ rank·x − (n+1)·Σx)/(n·Σx) in exact integral ppm over "
        "micro-dollar revenues — the one-number complement to "
        "ana_join_key_skew's percentile profile. The global rank NEVER "
        "runs as an unpartitioned window: ranks = bucket offsets "
        "(cumulative counts over the value-DOMAIN-bounded bucket "
        "relation, broadcast back) + row_number partitioned BY BUCKET, "
        "exactly equal to ROW_NUMBER() OVER (ORDER BY value, tiebreak) "
        "because the bucket id is monotone in the value — the oracle "
        "states that global form directly. Integer end to end "
        "(DECIMAL(38,0) rank·value products; 1e11 units × 1e13 "
        "micro-dollars inside the accumulator)",
    tags=("analytics", "profile", "skew", "scale"),
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import gini_concentration

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg((F.sum(rev) * 1_000_000).cast("bigint").alias("rev_mu"))
    )
    return gini_concentration(per_cust, "rev_mu", "o_custkey")


@register(
    "ana_benford_profile",
    """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM lineitem WHERE l_extendedprice > 0),
obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM digits GROUP BY digit),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM obs),
benford(digit, benford_ppm) AS (
  VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
         (6, 66947), (7, 57992), (8, 51153), (9, 45757))
SELECT b.digit, COALESCE(o.cnt, 0) AS cnt,
       CAST((CAST(COALESCE(o.cnt, 0) AS HUGEINT) * 1000000) // t.n
            AS BIGINT) AS obs_ppm,
       CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
       CAST((CAST(COALESCE(o.cnt, 0) AS HUGEINT) * 1000000) // t.n
            - b.benford_ppm AS BIGINT) AS dev_ppm
FROM benford b LEFT JOIN obs o ON o.digit = b.digit CROSS JOIN tot t
""",
    doc="Benford's-law first-digit conformance profile of extended "
        "prices — the fraud/data-fabrication screen auditors run on any "
        "financial fact table: per leading digit 1-9, observed count, "
        "observed share, the Benford expectation, and the deviation. "
        "Exactness: the leading digit comes from the CENT-INTEGER's "
        "decimal string (prices are cent-quantized, so round(x*100) is "
        "exact and identical in both engines) — NOT from "
        "floor(x/10^floor(log10 x)), whose libm log10 differs in last "
        "ulps across engines; the Benford expectations are literal "
        "micro-unit constants (they sum to exactly 1e6), and shares "
        "are integral-division ppm. One map-side-combined 9-group "
        "count shuffle; the digit dimension is a 9-row broadcast",
    tags=("analytics", "quality", "profile"),
)
def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") > 0
    )
    digit = F.substring(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
        1,
        1,
    ).cast("bigint")
    # localCheckpoint the ≤9-row digit counts: tot re-aggregates obs,
    # and without the checkpoint Catalyst inlines the corpus scan into
    # BOTH branches (a broadcast exchange and a shuffle exchange of the
    # same child never reuse each other) — two full scans at 100 TB
    obs = (
        li.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    tot = obs.agg(F.sum("cnt").alias("n"))
    benford = local_df(
        spark,
        [(1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
         (6, 66947), (7, 57992), (8, 51153), (9, 45757)],
        "digit bigint, benford_ppm bigint",
    )
    return (
        benford.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.expr(
                "(coalesce(cnt, 0) * 1000000) div n"
            ).alias("obs_ppm"),
            "benford_ppm",
            F.expr(
                "(coalesce(cnt, 0) * 1000000) div n - benford_ppm"
            ).alias("dev_ppm"),
        )
    )


@register(
    "ana_basket_pairs",
    """
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
sized AS (
  SELECT i.basket, i.item FROM items i
  WHERE i.basket IN (
    SELECT basket FROM items GROUP BY basket HAVING COUNT(*) <= 64)),
nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM sized),
sup AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS sup_i FROM sized GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM sized a JOIN sized b
    ON a.basket = b.basket AND a.item < b.item
  GROUP BY a.item, b.item HAVING COUNT(*) >= 2)
SELECT p.item_a, p.item_b, p.support,
       CAST((CAST(p.support AS HUGEINT) * nb.n_baskets * 1000000)
            // (CAST(sa.sup_i AS HUGEINT) * CAST(sb.sup_i AS HUGEINT))
            AS BIGINT) AS lift_micro
FROM pairs p
JOIN sup sa ON sa.item = p.item_a
JOIN sup sb ON sb.item = p.item_b
CROSS JOIN nb
""",
    doc="market-basket co-occurrence (operators/baskets."
        "copurchase_pairs): part pairs ordered together in ≥ 2 orders, "
        "with exact integral-division lift_micro = support·n_baskets·"
        "1e6 div (sup_a·sup_b) — the Apriori k=2 level that dominates "
        "association mining cost. The pair space comes from a "
        "self-equi-join on the basket key (item_a < item_b "
        "canonicalizes), so fan-out is C(|basket|,2) per basket — "
        "baskets above 64 items are EXCLUDED before the join (the "
        "enforced-cap discipline: the one degenerate input that turns "
        "the op quadratic is refused up front, in the contract); "
        "per-item supports join back without a broadcast hint because "
        "the item dimension can be 10^8 rows at scale (AQE decides)",
    tags=("analytics", "join", "mining", "scale"),
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.baskets import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return copurchase_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey",
        min_support=2, max_basket=64,
    ).select(
        F.col("item_a").alias("item_a"),
        F.col("item_b").alias("item_b"),
        "support",
        "lift_micro",
    )


@register(
    "ana_expectations_report",
    """
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN NOT COALESCE(value <= 90, FALSE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_value,
         CAST(SUM(CASE WHEN NOT COALESCE(event_type <> 'error', FALSE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_err,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_user,
         CAST(SUM(CASE WHEN NOT COALESCE(props LIKE '{%', FALSE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_props
  FROM events)
SELECT rule, n_violations, n_rows,
       (n_rows - n_violations) * 1000 / n_rows AS pass_permille
FROM (
  SELECT 'value_le_90' AS rule, v_value AS n_violations, n_rows FROM base
  UNION ALL SELECT 'not_error', v_err, n_rows FROM base
  UNION ALL SELECT 'user_known', v_user, n_rows FROM base
  UNION ALL SELECT 'props_object', v_props, n_rows FROM base)
""",
    doc="declarative data-quality gate report "
        "(operators/expectations.quality_report): per-rule violation "
        "counts + pass permille over the events feed in ONE "
        "map-side-combined aggregation pass for any number of rules — "
        "never a scan per rule — then a driver-free stack/explode "
        "unpivot of the 1-row wide result. NULL rule verdicts count as "
        "violations (allow-list gate, SQL CHECK semantics). Two rules "
        "fire on this feed (value cap, no-error-events), two pass "
        "clean — the report shows both shapes. Graduates the "
        "expectations layer from pytest-only to oracle-backed",
    tags=("analytics", "quality", "expectations"),
)
def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import expectations as ex

    events = load_table(spark, sf_dir, "events")
    rules = {
        "value_le_90": F.col("value") <= 90,
        "not_error": F.col("event_type") != "error",
        "user_known": F.col("user_id").isNotNull(),
        "props_object": F.col("props").startswith("{"),
    }
    return ex.quality_report(events, rules)


def _bfs_oracle(max_hops: int = 4) -> str:
    """Unrolled bounded Bellman-Ford relaxation in DuckDB SQL — same
    discipline as the pagerank oracle (recursive CTEs cannot aggregate
    in the recursive term, so the fixed hop bound unrolls); pure
    integer MIN arithmetic, so the match is exact, no rounding."""
    ctes = ["""base AS MATERIALIZED (
  SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM base
  UNION SELECT dst, src FROM base),
d0 AS (
  SELECT DISTINCT 'C' || c_custkey AS node, CAST(0 AS INT) AS hops
  FROM customer WHERE c_nationkey = 0)"""]
    for k in range(1, max_hops + 1):
        ctes.append(f"""d{k} AS MATERIALIZED (
  SELECT node, MIN(hops) AS hops FROM (
    SELECT node, hops FROM d{k - 1}
    UNION ALL
    SELECT e.b AS node, CAST(d.hops + 1 AS INT) AS hops
    FROM edges e JOIN d{k - 1} d ON e.a = d.node)
  GROUP BY node)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, CAST(hops AS INT) AS hops FROM d{max_hops}"
    )


@register(
    "ana_bfs_reach",
    _bfs_oracle(4),
    doc="bounded multi-source BFS / shortest-hop over the undirected "
        "customer-supplier order graph (operators/graph.bfs_hops): "
        "min-hop distance from the nation-0 customer seed set, 4 hops "
        "— the blast-radius / supply-chain-reach class of iterative "
        "query beside the fixed-point (pagerank) and convergence "
        "(connected components) classes. Expressed as bounded "
        "Bellman-Ford relaxation (shortest_path_weighted with unit "
        "weights): per round ONE reached⋈edges hash join + union + "
        "partial-agg MIN on integer hops, no anti-join state, each "
        "round checkpointed eagerly; the oracle unrolls the identical "
        "4 relaxations as MATERIALIZED CTEs and the integer "
        "arithmetic matches exactly — no rounding anywhere",
    tags=("analytics", "graph", "iterative", "bfs"),
)
def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_hops

    edges = _order_graph_edges(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select(
            F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return bfs_hops(edges, seeds, max_hops=4)


def _wsp_oracle(max_rounds: int = 4) -> str:
    """Unrolled bounded weighted Bellman-Ford (the _bfs_oracle
    discipline with an integer weight riding the relaxation): MIN(w)
    collapses parallel edges exactly as the Spark operator does, all
    arithmetic is BIGINT, no rounding anywhere."""
    ctes = ["""base AS MATERIALIZED (
  SELECT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst,
         MIN(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey),
edges AS MATERIALIZED (
  SELECT a, b, MIN(w) AS w FROM (
    SELECT src AS a, dst AS b, w FROM base
    UNION ALL SELECT dst, src, w FROM base)
  GROUP BY a, b),
d0 AS (
  SELECT DISTINCT 'C' || c_custkey AS node, CAST(0 AS BIGINT) AS dist
  FROM customer WHERE c_nationkey = 0)"""]
    for k in range(1, max_rounds + 1):
        ctes.append(f"""d{k} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT e.b AS node, d.dist + e.w AS dist
    FROM edges e JOIN d{k - 1} d ON e.a = d.node)
  GROUP BY node)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, dist FROM d{max_rounds}"
    )


@register(
    "ana_shortest_path",
    _wsp_oracle(4),
    doc="bounded weighted shortest path over the undirected customer-"
        "supplier graph (operators/graph.shortest_path_weighted): "
        "minimum-cost reach from the nation-0 customer seed set within "
        "4 relaxations, edge cost = the cheapest order quantity ever "
        "shipped on that relationship — the weighted generalization of "
        "ana_bfs_reach (same Bellman-Ford skeleton; hop count is the "
        "wrong metric when edges carry cost). Parallel edges collapse "
        "to MIN(w) while the graph is made undirected, shrinking every "
        "later round's join input; per round ONE reached⋈edges hash "
        "join + union + partial-agg MIN on BIGINT distances; the "
        "oracle unrolls the identical relaxations as MATERIALIZED "
        "CTEs — integer-exact, no rounding",
    tags=("analytics", "graph", "iterative", "shortest-path"),
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import shortest_path_weighted

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.min(F.col("l_quantity").cast("bigint")).alias("w"))
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
            "w",
        )
    )
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select(
            F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias(
                "node"
            )
        )
    )
    return shortest_path_weighted(edges, seeds, max_rounds=4)


def _lpa_oracle(rounds: int = 3) -> str:
    """Unrolled bounded synchronous label propagation (the _bfs_oracle
    discipline): each round is one neighbor-label count plus an argmax
    window with the identical (count DESC, label ASC) tie-break — pure
    integer/string relational steps, engine-identical."""
    ctes = ["""base AS MATERIALIZED (
  SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e0 AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM base
  UNION SELECT dst, src FROM base),
l0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS label FROM e0)"""]
    for k in range(1, rounds + 1):
        ctes.append(f"""c{k} AS (
  SELECT e.a AS node, l.label, COUNT(*) AS c
  FROM e0 e JOIN l{k - 1} l ON l.node = e.b
  GROUP BY e.a, l.label),
l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label, ROW_NUMBER() OVER (
      PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c{k}) WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, label FROM l{rounds}"
    )


@register(
    "ana_communities_lp",
    _lpa_oracle(3),
    doc="bounded synchronous label-propagation communities over the "
        "undirected customer-supplier order graph (operators/graph."
        "label_propagation, 3 rounds): every node starts as its own "
        "label and synchronously adopts its neighbors' most frequent "
        "label, ties to the smallest — the DENSITY clustering beside "
        "ana_bfs_reach's reachability and llm_dup_clusters' connected "
        "components (CC merges anything connected; LPA splits a "
        "component along its sparse cuts). Deterministic by "
        "construction: synchronous updates + total tie order remove "
        "both classic LPA nondeterminism sources, so the unrolled-CTE "
        "oracle reproduces it exactly. Per round one edges⋈labels hash "
        "join, a map-side-combined (node,label) count, and an argmax "
        "window partitioned by node (≤ degree rows per partition, "
        "never global); per-round localCheckpoint stops the 2^k plan "
        "growth (the graph-family discipline)",
    tags=("analytics", "graph", "iterative", "community"),
)
def q_communities_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    edges = _order_graph_edges(spark, sf_dir)
    return label_propagation(edges, rounds=3)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled bounded k-core peel (the _bfs_oracle discipline): each
    sweep is degree-agg -> keep-filter -> two semi-joins, all integer."""
    ctes = ["""base AS MATERIALIZED (
  SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e0 AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM base
  UNION SELECT dst, src FROM base)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""k{r} AS MATERIALIZED (
  SELECT a FROM e{r - 1} GROUP BY a HAVING COUNT(*) >= {k}),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r - 1} e
  JOIN k{r} ka ON e.a = ka.a
  JOIN k{r} kb ON e.b = kb.a)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg"
        + f"\nFROM e{rounds} GROUP BY a"
    )


@register(
    "ana_kcore_suppliers",
    _kcore_oracle(k=4, rounds=3),
    doc="bounded k-core peel of the undirected customer-supplier order "
        "graph (operators/graph.kcore_peel, k=4, 3 sweeps): each sweep "
        "synchronously deletes every node whose current degree is "
        "below k, cascading into the next sweep — the density-core "
        "extraction behind community seeding and dup-graph triage "
        "(cores are where cliques live; the peeled fringe is the "
        "loosely-attached tail). Bounded sweeps keep it deterministic "
        "and oracle-expressible: per sweep one degree aggregation + "
        "two hash semi-joins on a relation that only SHRINKS, eagerly "
        "checkpointed (the next sweep references it three times); the "
        "oracle unrolls the identical sweeps as MATERIALIZED CTEs — "
        "integer-exact",
    tags=("analytics", "graph", "iterative", "kcore"),
)
def q_kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore_peel

    edges = _order_graph_edges(spark, sf_dir)
    return kcore_peel(edges, k=4, rounds=3)


@register(
    "ana_winsorized_stats",
    """
WITH st AS (
  SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         GREATEST(1, CAST(CEIL(COUNT(*) * 0.05) AS BIGINT)) AS k_lo,
         GREATEST(1, CAST(CEIL(COUNT(*) * 0.95) AS BIGINT)) AS k_hi
  FROM orders GROUP BY o_orderpriority),
rk AS (
  SELECT o_orderpriority AS grp, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders),
b AS (
  SELECT rk.grp, st.n,
         MAX(CASE WHEN rn = k_lo THEN o_totalprice END) AS lo,
         MAX(CASE WHEN rn = k_hi THEN o_totalprice END) AS hi
  FROM rk JOIN st ON rk.grp = st.grp GROUP BY rk.grp, st.n)
SELECT o.o_orderpriority, b.n AS n_rows, b.lo AS p_lo_val,
       b.hi AS p_hi_val,
       CAST(SUM(CAST(least(greatest(o.o_totalprice, b.lo), b.hi)
                     AS DECIMAL(18,6))) AS DOUBLE) / b.n AS win_mean,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / b.n
         AS raw_mean
FROM orders o JOIN b ON o.o_orderpriority = b.grp
GROUP BY o.o_orderpriority, b.n, b.lo, b.hi
""",
    doc="winsorized robust mean per order priority "
        "(operators/skew.winsorized_stats): o_totalprice clipped at "
        "the exact DISCRETE p05/p95 order statistics (the VaR "
        "quantile rule — value at rank max(1, ceil(p*n)), never an "
        "interpolated percentile), winsorized and raw means side by "
        "side — the gap between the two columns IS the outlier "
        "signal a profiling pass reports. Exact DECIMAL sums (2dp "
        "money fits decimal(18,6) losslessly) divided once in "
        "double; one count agg broadcast back, one rank window per "
        "group, bounds broadcast back, one map-side-combined clipped "
        "aggregation",
    tags=("analytics", "statistics", "robust", "profiling"),
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import winsorized_stats

    return winsorized_stats(
        load_table(spark, sf_dir, "orders"),
        value_col="o_totalprice",
        group_col="o_orderpriority",
        tiebreak="o_orderkey",
    )


@register(
    "ana_mutual_info_lang_source",
    """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source),
rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY lang),
ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c
       FROM cells GROUP BY source),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
q AS (
  SELECT CAST(floor((CAST(o AS DOUBLE) / n)
              * ln((CAST(o AS DOUBLE) * n)
                   / (CAST(r AS DOUBLE) * c)) * 1000000 + 0.5)
              AS BIGINT) AS mi_cell
  FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot)
SELECT (SELECT n FROM tot) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(mi_cell) AS BIGINT) AS mi_micro
FROM q
""",
    doc="mutual information I(lang; source) over the documents corpus "
        "in exact integer micro-nats — the dependence measure beside "
        "ana_chi_square_lang_source's test statistic (chi2 answers "
        "'is there dependence', MI answers 'how much information does "
        "source carry about language' — the signal a curation pass "
        "uses to decide whether per-source language quotas are even "
        "meaningful). The ccnet micro-unit discipline applied to "
        "info-theory: each cell's p*ln(p/(p_r*p_c)) term is computed "
        "from identical integers through identical correctly-rounded "
        "double ops and quantized ONCE (mode-stable floor(x*1e6+0.5), "
        "safe for the negative terms), then the cross-cell reduction "
        "is an exact int64 SUM — no parallel float accumulation "
        "anywhere. ONE corpus scan, ONE cell aggregation "
        "(|langs|x|sources| rows); the margins derive as WINDOW sums "
        "over that tiny relation — zero joins, no re-scan per margin "
        "(margin-as-join re-ran the corpus scan four times: the "
        "branches were not canonically identical, so not even AQE "
        "exchange reuse saved it — plan-guarded)",
    tags=("analytics", "statistics", "information", "quality"),
)
def q_mutual_info_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("o")
    )
    # margins as windows over the TINY cell relation (the whole-relation
    # window is single-partition, but its partition is |langs|x|sources|
    # rows — bounded by the label domains, never the corpus)
    enriched = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("r"),
        F.sum("o").over(Window.partitionBy("source")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    od, nd = F.col("o").cast("double"), F.col("n").cast("double")
    rd, cd = F.col("r").cast("double"), F.col("c").cast("double")
    mi_cell = F.floor(
        (od / nd) * F.log((od * nd) / (rd * cd)) * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        enriched.select(mi_cell.alias("mi_cell"), "n")
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("mi_cell").alias("mi_micro"),
        )
        .select(
            F.col("n").alias("n_docs"), "n_cells", "mi_micro"
        )
    )


#: shared with stream_psi_drift (queries_streaming): the drained
#: streaming monitor must converge to the batch statistic, so both
#: entries verify against this SQL verbatim (the KS/EMD contract —
#: all three distributional monitors read ONE mergeable counts grid).
_PSI_DRIFT_ORACLE_SQL = """
WITH counts AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source, n_chars),
vcum AS (
  SELECT v, v_cnt, CAST(SUM(v_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_all
  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS v_cnt FROM counts GROUP BY v)),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
grp AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_g
        FROM counts GROUP BY source),
bounds AS (
  SELECT j, MIN(v) AS bound
  FROM vcum CROSS JOIN tot CROSS JOIN range(1, 10) t(j)
  WHERE cum_all * 10 >= j * n
  GROUP BY j),
vbin AS (
  SELECT v,
         CAST(SUM(CASE WHEN bound < v THEN 1 ELSE 0 END) AS BIGINT) AS bin
  FROM (SELECT DISTINCT v FROM vcum) CROSS JOIN bounds GROUP BY v),
gb AS (
  SELECT source, bin, CAST(SUM(c) AS BIGINT) AS c_g
  FROM counts JOIN vbin USING (v) GROUP BY source, bin),
bt AS (SELECT bin, CAST(SUM(c_g) AS BIGINT) AS c_bin FROM gb GROUP BY bin),
allb AS (SELECT CAST(j AS BIGINT) AS bin FROM range(0, 10) t(j)),
grid AS (
  SELECT g.source, g.n_g, t.n,
         COALESCE(bt.c_bin, 0) AS c_bin,
         COALESCE(gb.c_g, 0) AS c_g
  FROM grp g CROSS JOIN tot t CROSS JOIN allb b
  LEFT JOIN bt ON bt.bin = b.bin
  LEFT JOIN gb ON gb.source = g.source AND gb.bin = b.bin),
terms AS (
  SELECT source, n_g,
         CAST(floor(
           ((c_g + 1.0) / (n_g + 10.0)
            - (c_bin - c_g + 1.0) / (n - n_g + 10.0))
           * ln(((c_g + 1.0) / (n_g + 10.0))
                / ((c_bin - c_g + 1.0) / (n - n_g + 10.0)))
           * 1e6 + 0.5) AS BIGINT) AS tm
  FROM grid WHERE n_g < n)
SELECT source, n_g AS n_docs, CAST(SUM(tm) AS BIGINT) AS psi_micro
FROM terms GROUP BY source, n_g
"""


@register(
    "ana_psi_drift",
    _PSI_DRIFT_ORACLE_SQL,
    doc="Population Stability Index per source vs the REST of the "
        "corpus (skew.psi_drift) — the model-monitoring drift metric "
        "beside ana_ks_drift: KS reads the worst single CDF gap, PSI "
        "integrates divergence across all 10 corpus-decile bins (the "
        "number risk teams threshold at 0.1/0.25). Bin boundaries are "
        "DISCRETE corpus order statistics from the same counts grid "
        "as ks_drift; shares are add-1 smoothed so empty bins stay "
        "finite deterministically; each cell's (p-q)ln(p/q) term is "
        "quantized once to int64 micro-units from identical integers "
        "and the cross-bin reduction is an exact integer SUM. "
        "Completes the ingest-monitoring toolkit: KS + PSI (drift), "
        "chi-square + mutual information (dependence)",
    tags=("analytics", "drift", "quality", "statistics", "scale"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew

    return skew.psi_drift(
        load_table(spark, sf_dir, "documents"), value_col="n_chars",
        group_col="source",
    )
