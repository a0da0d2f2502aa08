"""Window / latest-row operators (SURVEY.md §2.7 W1-W4, §2.6 A1).

Two forms of "latest row per entity":

1. ``latest_global_date`` — the reference's exact semantics
   (``DB_manager.py:192-196``): filter to the *global* max date, then by
   ticker. Quirk preserved on purpose: a ticker that did not trade on
   the globally-latest date yields 0 rows (SURVEY.md §2.7 W1).
2. ``latest_per_entity`` — the robust variant:
   ``row_number() over (partition by entity order by date desc) = 1``.

Scale: the global max is a two-stage tree aggregate (bytes of shuffle);
the per-entity variant shuffles once on the entity key. Both avoid any
driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_df


def latest_global_date(fact: DataFrame, date_col: str = "stock_date") -> DataFrame:
    """Rows on the globally-latest date (scalar-subquery MAX, A1/W1).

    Expressed as an inner equi-join against the 1-row aggregate rather
    than ``.first()`` — no driver round-trip, and AQE broadcasts the
    1-row side.
    """
    latest = fact.agg(F.max(date_col).alias("__max_date"))
    return fact.join(
        latest, on=fact[date_col] == latest["__max_date"], how="inner"
    ).drop("__max_date")


def latest_per_entity(
    fact: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
) -> DataFrame:
    """Most recent row per entity (robust W1 variant)."""
    w = Window.partitionBy(entity_col).orderBy(F.col(date_col).desc())
    return (
        fact.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: Bound on DISTINCT values of the binning column in exact_ntile: the
#: per-value counts are collected to the driver to compute cumulative
#: rank offsets. Token/length histograms have at most ~max-doc-length
#: distinct values, so 10^7 is generous; past it the collect would be
#: the bottleneck and the operator refuses instead of OOMing.
MAX_DISTINCT_BIN_VALUES = 10_000_000


def _offset_ranked(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    op_name: str,
    max_distinct_values: int,
    descending: bool = False,
) -> tuple[DataFrame | None, int]:
    """(df + ``__rank``, total rows) where __rank is the exact global
    ``row_number() over (order by value [desc], tiebreak)`` — computed
    WITHOUT a single-partition sort:

    1. per-value counts — one partial-aggregated shuffle on
       ``value_col``, output cardinality = distinct values (bounded,
       enforced: ``max_distinct_values``);
    2. driver folds the sorted counts into cumulative offsets and the
       total N — O(distinct) work on tiny data;
    3. offsets broadcast-join back on ``value_col``; within each value
       group ``row_number() over (partition by value order by
       tiebreak)`` runs in parallel — rank = offset + row_number.

    Nulls in ``value_col`` sort FIRST ascending / LAST descending
    (Spark semantics; DuckDB defaults NULLS LAST — align oracles when
    nulls are possible). Returns (None, 0) on an empty input.
    """
    reserved = {"__cnt", "__offset", "__rank", "__off_key"}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"{op_name}: input columns {sorted(clash)} collide with "
            f"internal names; rename them first (same guard as "
            f"asof_join's __rt check)."
        )
    counts = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    rows = counts.limit(max_distinct_values + 1).collect()
    # NaN is unordered under Python comparison but GREATEST (and
    # self-equal) under Spark's sort — a driver-side sort containing NaN
    # would silently produce offsets that disagree with the executor-side
    # row_number partitioning. Reject rather than diverge.
    if any(
        isinstance(r[value_col], float) and r[value_col] != r[value_col]
        for r in rows
    ):
        raise ValueError(
            f"{op_name}: NaN in {value_col!r} — Python ordering diverges "
            f"from Spark's (NaN sorts greatest, NaN==NaN). Filter NaN out "
            f"or bin values before ranking."
        )
    if len(rows) > max_distinct_values:
        raise ValueError(
            f"{op_name}: > {max_distinct_values} distinct values of "
            f"{value_col!r}; the offset collect would not be small. "
            f"Pre-bucket the value (e.g. clip outliers) or raise "
            f"max_distinct_values."
        )
    rows.sort(
        key=lambda r: (r[value_col] is not None, r[value_col]),
        reverse=descending,
    )
    total = 0
    offsets = []
    for r in rows:
        offsets.append((r[value_col], total))
        total += r["__cnt"]
    if total == 0:
        return None, 0

    spark = df.sparkSession
    off_df = local_df(
        spark, offsets, df.select(value_col).schema.add("__offset", "long")
    ).withColumnRenamed(value_col, "__off_key")

    order = F.col(tiebreak_col)
    w = Window.partitionBy(value_col).orderBy(order)
    ranked = (
        df.join(
            F.broadcast(off_df),
            F.col(value_col).eqNullSafe(F.col("__off_key")),
        )
        .drop("__off_key")
        .withColumn("__rank", F.col("__offset") + F.row_number().over(w))
        .drop("__offset")
    )
    return ranked, total


def exact_row_number(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    out_col: str = "rn",
    descending: bool = False,
    max_distinct_values: int = MAX_DISTINCT_BIN_VALUES,
) -> DataFrame:
    """Exact global ``row_number() over (order by value [desc],
    tiebreak)`` without a single-partition sort (see
    :func:`_offset_ranked`) — e.g. frequency-ranked vocabulary ids,
    leaderboard positions. The tiebreak orders ASCENDING within equal
    values in both modes, matching ``ORDER BY value DESC, tiebreak``.
    """
    ranked, _ = _offset_ranked(
        df, value_col, tiebreak_col, "exact_row_number",
        max_distinct_values, descending=descending,
    )
    if ranked is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    return ranked.withColumnRenamed("__rank", out_col)


def exact_ntile(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int,
    out_col: str = "bucket",
    max_distinct_values: int = MAX_DISTINCT_BIN_VALUES,
) -> DataFrame:
    """Exact ``NTILE(n) OVER (ORDER BY value, tiebreak)`` without the
    single-partition global sort — the 100 TB form of quantile binning.

    A global NTILE funnels every row through ONE task; but the bucket
    of a row depends only on its global rank, which
    :func:`_offset_ranked` computes distributively. The NTILE bucket
    is then a closed-form map-side expression of rank: with q, r =
    divmod(N, n), the first r buckets take q+1 rows.

    Exactly reproduces NTILE's deterministic tie handling when
    (value, tiebreak) is unique.
    """
    ranked, total = _offset_ranked(
        df, value_col, tiebreak_col, "exact_ntile", max_distinct_values
    )
    if ranked is None:
        return df.withColumn(out_col, F.lit(None).cast("int"))

    q, rem = divmod(total, n_buckets)
    boundary = rem * (q + 1)  # ranks 1..boundary land in buckets 1..rem
    if q == 0:
        bucket = F.col("__rank")  # fewer rows than buckets: rank IS bucket
    else:
        # integer div, not `/`: float division truncated by a cast can
        # flip at 2^53-scale ranks
        bucket = F.when(
            F.col("__rank") <= F.lit(boundary),
            F.expr(f"(__rank - 1) div {q + 1}"),
        ).otherwise(
            F.expr(f"{rem} + (__rank - 1 - {boundary}) div {q}")
        ) + F.lit(1)
    return ranked.withColumn(out_col, bucket.cast("int")).drop("__rank")


#: Per-key row bound for the ordered-recurrence operators (ema): each
#: group materializes as ONE Arrow batch in ONE task, so a group must fit
#: a task's memory. 10^7 rows ≈ hundreds of MB as Arrow — the practical
#: ceiling. Same enforced-bound discipline as similarity.MAX_BROADCAST_ROWS.
MAX_GROUP_ROWS = 10_000_000


def ema(df, key_col: str, time_col: str, value_col: str, span: int = 20,
        out_col: str = "ema", max_group_rows: int = MAX_GROUP_ROWS):
    """Exponential moving average per key — the per-group ORDERED
    RECURRENCE class (EMA / Wilder smoothing / Kalman-style filters)
    that window frames cannot express: e_t = a·x_t + (1-a)·e_{t-1}.

    ``applyInPandas`` per key: each group arrives as one Arrow batch,
    sorts by time locally, runs the recurrence sequentially. One shuffle
    on the key; groups process in parallel — the 100 TB contract is
    "group fits one task", which holds for per-entity time series (a
    ticker's daily history is tiny; millions of tickers give the
    parallelism). That contract is ENFORCED, not assumed: a group past
    ``max_group_rows`` raises in the task rather than silently OOMing —
    tick-level series must be pre-bucketed (e.g. key = (ticker, year)
    with carried-in seed values) or chunked before this operator. The
    recurrence is a Python loop over the group — exact same float op
    order (mul, mul, add) every engine; swap in scipy.signal.lfilter
    for very long series.
    """
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    a = 2.0 / (span + 1.0)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(key_col, time_col, value_col).schema
    ) + f", {out_col} double"

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_group_rows:
            raise ValueError(
                f"ema: group {pdf[key_col].iloc[0]!r} has {len(pdf)} rows "
                f"> max_group_rows={max_group_rows}; a group must fit one "
                f"task. Pre-bucket the key (e.g. (entity, year) with a "
                f"carried seed) or chunk the series."
            )
        pdf = pdf.sort_values(time_col).reset_index(drop=True)
        prev = None
        vals = []
        for x in pdf[value_col]:
            prev = x if prev is None else a * x + (1.0 - a) * prev
            vals.append(prev)
        pdf[out_col] = vals
        return pdf

    return (
        df.select(key_col, time_col, value_col)
        .groupBy(key_col)
        .applyInPandas(fn, out_schema)
    )


def ema_chunked(df, key_col: str, time_col: str, value_col: str,
                span: int = 20, out_col: str = "ema",
                chunk_rows: int = 1_000_000):
    """EMA without the per-group one-task bound — the 100 TB form of the
    ordered recurrence that :func:`ema` guards with ``max_group_rows``.

    EMA is a LINEAR recurrence (e_t = a·x_t + (1-a)·e_{t-1}, seeded
    e_0 = x_0), so a chunk of m rows acts on its incoming state s as an
    affine map e_out = (1-a)^m · s + B, where B is the chunk's
    zero-seeded EMA tail. That makes the classic segmented-scan
    decomposition exact:

    1. chunk each key's series by row_number (ONE window shuffle);
    2. per (key, chunk): compute the affine summary — an Arrow batch of
       at most ``chunk_rows``, however long the full series is;
    3. per key: fold the summaries in chunk order into each chunk's
       incoming state (one tiny row per CHUNK, not per row — a
       billion-row key at 10^6 rows/chunk folds 1000 summaries);
    4. join the seeds back and finish each chunk locally.

    Chunk 0 is special: its first row takes e_0 = x_0 instead of the
    blend, so its outgoing state uses the skip-first-row affine form.

    Float caveat: the regrouped arithmetic differs from the sequential
    loop in final ulps (tests bound the error), so :func:`ema` remains
    the oracle-exact daily-bars path and this is the tick-scale path.
    """
    import pandas as pd
    from pyspark.sql import Window as W

    a = 2.0 / (span + 1.0)
    base = df.select(key_col, time_col, value_col)
    rn = F.row_number().over(W.partitionBy(key_col).orderBy(time_col))
    chunked = base.withColumn("__rn", rn).withColumn(
        "__chunk", F.expr(f"(__rn - 1) div {chunk_rows}")
    )

    # Carry the NATIVE key type through every intermediate schema.  A
    # string round-trip (str(key) in Python vs CAST(key AS STRING) in
    # the JVM) silently drops groups whose renderings differ (floats
    # '1e-07' vs '1.0E-7', booleans 'True' vs 'true') and null keys.
    key_type = base.schema[key_col].dataType.simpleString()
    summary_schema = (
        f"{key_col} {key_type}, __chunk bigint, a_pow double, "
        f"b_tail double, a_pow1 double, b_tail1 double, first_val double"
    )

    def summarize(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__rn")
        x = pdf[value_col].to_numpy(dtype="float64")
        m = len(x)

        def zero_tail(vals):
            e = 0.0
            for v in vals:
                e = a * v + (1.0 - a) * e
            return e

        return pd.DataFrame(
            {
                key_col: pdf[key_col].iloc[:1].reset_index(drop=True),
                "__chunk": [int(pdf["__chunk"].iloc[0])],
                "a_pow": [(1.0 - a) ** m],
                "b_tail": [zero_tail(x)],
                # skip-first-row forms, used only for chunk 0 (whose
                # row 0 is the e_0 = x_0 seed, outside the affine map)
                "a_pow1": [(1.0 - a) ** (m - 1)],
                "b_tail1": [zero_tail(x[1:])],
                "first_val": [float(x[0])],
            }
        )

    summaries = chunked.groupBy(key_col, "__chunk").applyInPandas(
        summarize, summary_schema
    )

    seed_schema = f"{key_col} {key_type}, __chunk bigint, seed double"

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__chunk")
        seeds: list[float] = []
        s = 0.0
        for _, r in pdf.iterrows():
            if int(r["__chunk"]) == 0:
                seeds.append(float(r["first_val"]))  # e_0 = x_0
                s = float(r["a_pow1"]) * float(r["first_val"]) + float(
                    r["b_tail1"]
                )
            else:
                seeds.append(s)
                s = float(r["a_pow"]) * s + float(r["b_tail"])
        return pd.DataFrame(
            {
                key_col: pdf[key_col].reset_index(drop=True),
                "__chunk": pdf["__chunk"].reset_index(drop=True),
                "seed": seeds,
            }
        )

    seeds = summaries.groupBy(key_col).applyInPandas(fold, seed_schema)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in base.schema
    ) + f", {out_col} double"

    def finish(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__rn").reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype="float64")
        first_global = bool(pdf["__chunk"].iloc[0] == 0)
        e = float(pdf["seed"].iloc[0])
        vals = []
        for i, v in enumerate(x):
            if first_global and i == 0:
                e = float(v)  # e_0 = x_0, matching ema()
            else:
                e = a * v + (1.0 - a) * e
            vals.append(e)
        pdf[out_col] = vals
        return pdf[[key_col, time_col, value_col, out_col]]

    # Null-safe native-key equi-join: a null key forms a groupBy group
    # on both sides, so eqNullSafe keeps it where == would drop it.
    seeds = seeds.withColumnRenamed(key_col, "__seed_key").withColumnRenamed(
        "__chunk", "__seed_chunk"
    )
    joined = chunked.join(
        seeds,
        F.col(key_col).eqNullSafe(F.col("__seed_key"))
        & (F.col("__chunk") == F.col("__seed_chunk")),
    ).drop("__seed_key", "__seed_chunk")

    return joined.groupBy(key_col, "__chunk").applyInPandas(
        finish, out_schema
    )
