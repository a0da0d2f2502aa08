"""Skew mitigation (SURVEY.md §4.2; the 100 TB posture).

AQE's skew-join splitting handles most runtime skew, but two cases need
explicit plans:

- ``salted_join``: a JOIN where one key dominates (a hot ticker, a
  boilerplate LSH bucket). The big side gets a deterministic salt in
  [0, n); the small side replicates each row across ALL n salts; the
  join key becomes (key, salt), splitting the hot key's row group into
  n parallel tasks. Classic trade: n× duplication of the small side
  buys n× parallelism on the hot key.
- ``salted_distinct_count``: exact COUNT(DISTINCT x) per key without
  funneling a hot key's whole value set through one reduce task —
  phase 1 dedups (key, salt, value) partitions, phase 2 sums partial
  distinct counts (values are disjoint across salts by construction:
  the salt IS a hash of the value).

Salts derive from xxhash64 of real columns — deterministic, no RNG, no
``rand()`` nondeterminism across stage retries (a correctness hazard:
a retried task re-rolling different salts double-counts rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(cols: list[str], n: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to hot keys in ``big``.

    ``big`` rows salt by a hash of ALL their columns (stable under
    retries); ``small`` rows replicate across every salt. Output
    matches ``big.join(small, on, how)`` for the LEFT-side join types
    only — each big row carries exactly one salt, so it joins/misses
    exactly once. Right/full outer would emit each unmatched small row
    once PER SALT (n_salts duplicates), so those are rejected; put the
    skewed side on the left or de-dup downstream instead.
    """
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} not supported — small-side rows "
            f"are replicated per salt, so right/full outer joins would "
            f"duplicate unmatched small rows. Allowed: {sorted(allowed)}"
        )
    non_key = [c for c in big.columns if c != on] or [on]
    b = big.withColumn("__salt", _salt(non_key, n_salts))
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return b.join(s, [on, "__salt"], how).drop("__salt")


def salted_distinct_count(
    df: DataFrame, key: str, value: str, n_salts: int = 16
) -> DataFrame:
    """Exact per-key COUNT(DISTINCT value), hot-key-proof.

    Salting by hash(value) partitions each key's value SET into
    disjoint slices, so per-slice distinct counts sum exactly — unlike
    salting by row, which would double-count values recurring across
    salts.
    """
    phase1 = (
        df.select(key, value)
        .withColumn("__salt", _salt([value], n_salts))
        .groupBy(key, "__salt")
        .agg(F.countDistinct(value).alias("__part"))
    )
    return phase1.groupBy(key).agg(F.sum("__part").alias("n_distinct"))


def key_skew_profile(df: DataFrame, key: str, top_k: int = 10) -> DataFrame:
    """Join-key skew diagnostic — the pre-flight a 100 TB join runs
    BEFORE choosing between a plain shuffle join, :func:`salted_join`,
    or AQE skew splitting: per-key frequencies, the p50/p99 key
    frequency, and the ``top_k`` hottest keys with their ratio to the
    median. A hot key whose ratio is 100× means one reduce task gets
    100× the median partition's rows — this report is the evidence.

    Returns the ``top_k`` hottest keys as ``(key, cnt,
    share_permille, p50_cnt, p99_cnt, ratio_to_p50)`` — the summary
    percentiles ride every row (audit style), all integer arithmetic
    except the final 6dp ratio.

    Plan: ONE map-side-combined count shuffle builds the per-key
    relation; the percentiles come from the counts-OF-counts relation
    (|distinct frequency values| rows — Zipf-tiny however large the
    corpus, the same observation :func:`~..operators.windows.
    exact_row_number` rests on), cumulated with a window over that
    tiny relation and broadcast back; the hottest keys are a
    distributed top-k (TakeOrdered), never a global sort. Exact
    percentile-disc semantics: p50 = smallest frequency whose
    cumulative key count reaches ceil(0.5 · n_keys) — integer on both
    engines."""
    from pyspark.sql import Window

    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    cc = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("n_at"))
    wcum = Window.orderBy("cnt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the window's ordered partition is the counts-of-counts relation:
    # tiny by Zipf, so the single-partition global window is bounded
    cum = cc.withColumn("cum", F.sum("n_at").over(wcum))
    pct = (
        cum.crossJoin(F.broadcast(total))
        .select(
            F.min(F.when(F.col("cum") * 2 >= F.col("n_keys"), F.col("cnt"))
                  ).alias("p50_cnt"),
            F.min(F.when(F.col("cum") * 100 >= F.col("n_keys") * 99,
                         F.col("cnt"))).alias("p99_cnt"),
        )
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col(key)).limit(top_k)
    return (
        top.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(pct))
        .select(
            key, "cnt",
            F.expr("(cnt * 1000) div n_rows").alias("share_permille"),
            "p50_cnt", "p99_cnt",
            F.round(F.col("cnt") / F.col("p50_cnt"), 6).alias("ratio_to_p50"),
        )
    )


def ks_drift(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift per group: for every
    group g, ``ks = max over values v of |CDF_g(v) - CDF_rest(v)|``
    against the REST of the corpus — ``(group, n_docs, ks_num,
    ks_ppm)``.

    The data-quality monitor run per ingest source: a source whose
    value distribution (document length, quality score, ...) drifts
    from the corpus is the one to quarantine before it skews training.
    Exact, not sampled, and INTEGER END TO END: the statistic is the
    integer ``max |cum_g * n_rest - cum_rest * n_g|`` (DECIMAL(38,0)
    products — two 1e11-row corpora would overflow int64) and the
    normalized form is emitted as exact parts-per-million
    ``ks_ppm = (ks_num * 1_000_000) div (n_g * n_rest)`` rather than a
    rounded double quotient: Spark rounds doubles through
    ``BigDecimal.valueOf`` (shortest-repr decimalization) while DuckDB
    rounds in binary, so a quotient within an ulp of a half-quantum
    boundary diverges between engines (the round-11 driver flake on
    this very query). Integral division is engine-identical.

    Scale: per-(group, value) counts are one map-side-combined shuffle;
    everything after runs on the counts GRID — |groups| x |distinct
    values|, bounded by the VALUE DOMAIN (the counts-of-counts
    observation), never the corpus. The only unpartitioned window
    cumulates the distinct-values relation; per-group CDFs ride a
    window partitioned by group.
    """
    # Explicit null exclusion does double duty: it defines the op over
    # non-null (group, value) rows, and it makes every consumer branch
    # canonically IDENTICAL — the left join below pushes isnotnull
    # filters into its build side, and without this filter those
    # filtered branches would not match the groups/vals/tot branches,
    # defeating Spark's exchange reuse (one counts shuffle feeds all
    # four consumers instead of four scan+agg re-runs).
    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return ks_drift_from_counts(counts, value_col, group_col)


def ks_drift_from_counts(counts: DataFrame, value_col: str,
                         group_col: str) -> DataFrame:
    """:func:`ks_drift` over a PRE-AGGREGATED non-null ``(group, value,
    c)`` counts relation — the mergeable-state entry point: per-(group,
    value) counts are additive, so incremental/streaming monitors keep
    partial counts per ingest batch (bounded by the value DOMAIN, not
    the corpus — the same observation that bounds the batch grid) and
    recompute the exact statistic from their sum at any point. The
    batch operator is exactly this over one batch's counts."""
    from pyspark.sql import Window

    w_all = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    vals = (
        counts.groupBy(value_col)
        .agg(F.sum("c").alias("v_cnt"))
        .withColumn("cum_all", F.sum("v_cnt").over(w_all))
    )
    groups = counts.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    tot = counts.agg(F.sum("c").alias("n"))
    grid = (
        groups.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vals))
        .join(counts, [group_col, value_col], "left")
        .withColumn("g_c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w_g = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = "decimal(19,0)"
    cum_g = F.sum("g_c").over(w_g)
    diff = F.abs(
        cum_g.cast(dec) * (F.col("n") - F.col("n_g")).cast(dec)
        - (F.col("cum_all") - cum_g).cast(dec) * F.col("n_g").cast(dec)
    )
    return (
        grid.select(group_col, "n_g", "n", diff.alias("d"))
        .groupBy(group_col, "n_g", "n")
        .agg(F.max("d").alias("ks_num"))
        # a group that IS the whole corpus has no "rest" to drift from:
        # n_rest = 0 would divide by zero (engine-divergent NULL/NaN),
        # so the degenerate split is excluded — mirrored in the oracle
        .filter(F.col("n_g") < F.col("n"))
        .select(
            group_col,
            F.col("n_g").alias("n_docs"),
            # the max-diff is computed in DECIMAL(38,0) for 1e11-row
            # honesty, but EMITTED as BIGINT: pandas renders a Spark
            # DECIMAL as object(Decimal) while DuckDB's MAX arrives as
            # a numeric dtype, and the driver's value hash is
            # dtype-sensitive (the r11/r12 red on this query). The
            # statistic is < n_g * n_rest < 2^63 for any corpus under
            # ~3e9 rows per side; past that, widen BOTH engines.
            F.col("ks_num").cast("bigint").alias("ks_num"),
            # Spark's `div` (IntegralDivide) on DECIMAL operands
            # returns BIGINT — matches the oracle's HUGEINT // cast.
            F.expr(
                "(ks_num * 1000000) div (cast(n_g as decimal(19,0))"
                " * cast(n - n_g as decimal(19,0)))"
            ).alias("ks_ppm"),
        )
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    tiebreak: str | None = None,
    quantum: str = "decimal(18,6)",
) -> DataFrame:
    """Winsorized (clipped-tail) robust mean per group → ``(group,
    n_rows, p_lo_val, p_hi_val, win_mean, raw_mean)`` — the
    outlier-robust center a profiling pass reports next to the raw
    mean (a handful of fat-finger rows move the raw mean, not the
    winsorized one; the gap between the two columns IS the outlier
    signal).

    Exactness discipline: the clip bounds are DISCRETE order
    statistics (value at rank ``max(1, ceil(p·n))`` — the VaR
    quantile rule, never an interpolated percentile), clipping is
    pure comparison on identical doubles, and both means are exact
    DECIMAL sums divided once in double. The caller's values must fit
    ``quantum`` without rounding (2dp money in decimal(18,6) does;
    a full-precision double would hit the engines' differing
    double→decimal boundary rounding — the documented reason this
    operator never CASTs anything lossy).

    Plan: one count agg broadcast back, one rank window per group
    (the only sort — at 100 TB with a bounded value domain swap it
    for the counts-of-counts cumulation ``key_skew_profile`` uses),
    bounds broadcast back, one map-side-combined clipped aggregation.
    """
    from pyspark.sql import Window

    # NULL discipline (the theil_sen lesson): NULL values inflate the
    # rank count n (so k_lo/k_hi point past the real tail) and the two
    # engines order NULLs oppositely in the rank window (Spark first,
    # DuckDB last) — the statistic is defined over non-null
    # (group, value) rows only.
    df = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )
    st = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "k_lo",
            F.greatest(F.lit(1).cast("bigint"),
                       F.ceil(F.col("n") * F.lit(p_lo))),
        )
        .withColumn(
            "k_hi",
            F.greatest(F.lit(1).cast("bigint"),
                       F.ceil(F.col("n") * F.lit(p_hi))),
        )
    )
    order = [F.col(value_col)]
    if tiebreak is not None:
        order.append(F.col(tiebreak))
    wr = Window.partitionBy(group_col).orderBy(*order)
    ranked = df.withColumn("__rn", F.row_number().over(wr)).join(
        F.broadcast(st), group_col
    )
    bounds = ranked.groupBy(group_col, "n").agg(
        F.max(
            F.when(F.col("__rn") == F.col("k_lo"), F.col(value_col))
        ).alias("lo"),
        F.max(
            F.when(F.col("__rn") == F.col("k_hi"), F.col(value_col))
        ).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col("lo")), F.col("hi"))
    return (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col, "n", "lo", "hi")
        .agg(
            F.sum(clipped.cast(quantum)).alias("s_win"),
            F.sum(F.col(value_col).cast(quantum)).alias("s_raw"),
        )
        .select(
            group_col,
            F.col("n").alias("n_rows"),
            F.col("lo").alias("p_lo_val"),
            F.col("hi").alias("p_hi_val"),
            (F.col("s_win").cast("double") / F.col("n")).alias("win_mean"),
            (F.col("s_raw").cast("double") / F.col("n")).alias("raw_mean"),
        )
    )


def psi_drift(df: DataFrame, value_col: str, group_col: str,
              n_bins: int = 10) -> DataFrame:
    """Population Stability Index per group vs the REST of the corpus →
    ``(group, n_docs, psi_micro)`` — the model-monitoring drift metric
    beside :func:`ks_drift` (KS reads the worst single point of CDF
    divergence; PSI integrates divergence across the whole
    distribution, the number risk teams threshold at 0.1/0.25):

        PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

    with ``p`` = the group's bin shares and ``q`` = the rest's, over
    ``n_bins`` corpus-quantile bins. Exactness discipline end to end:

    - Bin boundaries are DISCRETE corpus order statistics (smallest
      value whose cumulative count reaches j/n_bins of the corpus —
      the percentile-disc rule), derived from the same counts grid as
      ks_drift; ``bin(v) = #{boundaries < v}`` is an integer
      comparison count, deterministic under ties.
    - Shares are add-1 smoothed — ``p_i = (c_gi + 1)/(n_g + n_bins)``
      — so empty bins stay finite deterministically (no epsilon
      hacks), and every (group, bin) cell exists (dense grid, zero
      counts included).
    - Each cell's term is computed from identical integers through
      identical correctly-rounded double ops and quantized ONCE to
      int64 micro-units; the cross-bin reduction is an exact integer
      SUM (the engine-wide rule: no parallel double accumulation).

    Scale: identical posture to ks_drift — one map-side-combined
    counts shuffle, then everything runs on |groups| × |distinct
    values| (bounded by the value domain) and |groups| × n_bins
    relations; boundaries broadcast.
    """
    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return psi_drift_from_counts(counts, value_col, group_col, n_bins)


def psi_drift_from_counts(counts: DataFrame, value_col: str,
                          group_col: str, n_bins: int = 10) -> DataFrame:
    """:func:`psi_drift` over a pre-aggregated non-null ``(group,
    value, c)`` counts relation — the mergeable-state entry point
    shared with :func:`ks_drift_from_counts` /
    :func:`emd_drift_from_counts`: one additive counts grid per ingest
    batch serves ALL THREE distributional monitors."""
    from pyspark.sql import Window

    w_all = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    vals = (
        counts.groupBy(value_col)
        .agg(F.sum("c").alias("v_cnt"))
        .withColumn("cum_all", F.sum("v_cnt").over(w_all))
    )
    tot = counts.agg(F.sum("c").alias("n"))
    # percentile-disc boundaries j = 1..n_bins-1: smallest value whose
    # cumulative corpus count reaches j/n_bins — a |bins|-row relation
    bins = counts.sparkSession.range(1, n_bins).select(
        F.col("id").alias("j")
    )
    bounds = (
        vals.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(bins))
        .filter(F.col("cum_all") * n_bins >= F.col("j") * F.col("n"))
        .groupBy("j")
        .agg(F.min(value_col).alias("bound"))
    )
    # bin id per distinct value = #{boundaries < v} (ties stay LEFT of
    # their boundary — deterministic integer comparison both engines)
    vbin = (
        vals.select(value_col)
        .crossJoin(F.broadcast(bounds))
        .groupBy(value_col)
        .agg(
            F.sum(
                F.when(F.col("bound") < F.col(value_col), 1).otherwise(0)
            ).cast("bigint").alias("bin")
        )
    )
    gb = (
        counts.join(vbin, value_col)
        .groupBy(group_col, "bin")
        .agg(F.sum("c").alias("c_g"))
    )
    groups = counts.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    bin_tot = gb.groupBy("bin").agg(F.sum("c_g").alias("c_bin"))
    # dense (group × bin) grid: zero cells must contribute their
    # smoothed term, not vanish
    all_bins = counts.sparkSession.range(n_bins).select(
        F.col("id").cast("bigint").alias("bin")
    )
    grid = (
        groups.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(all_bins))
        .join(F.broadcast(bin_tot), "bin", "left")
        .join(gb, [group_col, "bin"], "left")
        .select(
            group_col,
            "n_g",
            "n",
            F.coalesce(F.col("c_bin"), F.lit(0)).alias("c_bin"),
            F.coalesce(F.col("c_g"), F.lit(0)).alias("c_g"),
        )
    )
    p = (F.col("c_g") + 1.0) / (F.col("n_g") + float(n_bins))
    q = (F.col("c_bin") - F.col("c_g") + 1.0) / (
        F.col("n") - F.col("n_g") + float(n_bins)
    )
    term = F.floor((p - q) * F.log(p / q) * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    return (
        grid.filter(F.col("n_g") < F.col("n"))  # a lone group has no rest
        .select(group_col, "n_g", term.alias("tm"))
        .groupBy(group_col, "n_g")
        .agg(F.sum("tm").alias("psi_micro"))
        .select(
            group_col, F.col("n_g").alias("n_docs"), "psi_micro"
        )
    )


def emd_drift(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) drift per group vs the REST of
    the corpus → ``(group, n_docs, emd_micro)`` — the third leg of the
    drift-monitor family: :func:`ks_drift` reads the WORST single point
    of CDF divergence, :func:`psi_drift` a binned integral, EMD the
    exact area between the two empirical CDFs,

        W1 = Σ_i |CDF_g(v_i) − CDF_rest(v_i)| · (v_{i+1} − v_i)

    over consecutive distinct values — the metric that distinguishes a
    small shift everywhere from a large shift somewhere (KS scores both
    alike) and needs no bin tuning (PSI does).

    Integer end to end, the ks_drift discipline: the per-value CDF gap
    rides the SAME integer numerator ``d = |cum_g·n_rest −
    cum_rest·n_g|`` (DECIMAL(38,0) products for 1e11-row honesty), the
    area numerator is the exact integer ``Σ d·gap`` (bounded by
    n_g·n_rest·range — still ≪ 10^38 at 1e11 rows × 10^6 value range),
    and the result is emitted as exact integral-division micro-units of
    the value column: ``emd_micro = (Σ d·gap · 1e6) div (n_g·n_rest)``.
    No doubles anywhere, so no cross-engine rounding surface.

    Scale posture is identical to ks_drift: one map-side-combined
    counts shuffle, then everything runs on the |groups| × |distinct
    values| grid bounded by the VALUE DOMAIN, never the corpus; the
    only unpartitioned window cumulates (and leads) the tiny
    distinct-values relation.
    """
    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return emd_drift_from_counts(counts, value_col, group_col)


def emd_drift_from_counts(counts: DataFrame, value_col: str,
                          group_col: str) -> DataFrame:
    """:func:`emd_drift` over a pre-aggregated non-null ``(group,
    value, c)`` counts relation (mergeable-state entry point, exactly
    as :func:`ks_drift_from_counts`)."""
    from pyspark.sql import Window

    w_all = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    w_lead = Window.orderBy(value_col)
    vals = (
        counts.groupBy(value_col)
        .agg(F.sum("c").alias("v_cnt"))
        .withColumn("cum_all", F.sum("v_cnt").over(w_all))
        # the top value closes both CDFs at 1 (d = 0 there), so its
        # missing lead contributes nothing: gap = 0
        .withColumn(
            "gap",
            F.coalesce(
                F.lead(value_col).over(w_lead) - F.col(value_col), F.lit(0)
            ).cast("decimal(19,0)"),
        )
    )
    groups = counts.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    tot = counts.agg(F.sum("c").alias("n"))
    grid = (
        groups.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vals))
        .join(counts, [group_col, value_col], "left")
        .withColumn("g_c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w_g = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = "decimal(19,0)"
    cum_g = F.sum("g_c").over(w_g)
    d = F.abs(
        cum_g.cast(dec) * (F.col("n") - F.col("n_g")).cast(dec)
        - (F.col("cum_all") - cum_g).cast(dec) * F.col("n_g").cast(dec)
    )
    return (
        grid.select(group_col, "n_g", "n", (d * F.col("gap")).alias("area"))
        .groupBy(group_col, "n_g", "n")
        .agg(F.sum("area").alias("area_num"))
        # a group that IS the whole corpus has no rest (mirror ks_drift)
        .filter(F.col("n_g") < F.col("n"))
        .select(
            group_col,
            F.col("n_g").alias("n_docs"),
            # integral division on DECIMAL operands returns BIGINT in
            # both engines — engine-identical, no double quotient
            F.expr(
                "(area_num * 1000000) div (cast(n_g as decimal(19,0))"
                " * cast(n - n_g as decimal(19,0)))"
            ).alias("emd_micro"),
        )
    )


def cusum_drift(df: DataFrame, value_col: str, group_col: str,
                h_ppm: int = 100_000) -> DataFrame:
    """CUSUM drift per group vs the REST of the corpus, taken over the
    ORDERED VALUE DOMAIN → ``(group, n_docs, cusum_num, cusum_ppm,
    alarm_value)`` — the fourth leg of the drift-monitor family. Where
    :func:`ks_drift` reads the worst single point of CDF divergence,
    the CUSUM statistic is the MAXIMAL ASCENT of the signed
    CDF-difference curve

        S_v = D_v − min(0, min_{u≤v} D_u),   D_v = F_g(v) − F_rest(v)

    (Page 1954's recurrence in its exact two-cumulative-window form,
    the risk.cusum_alarms decomposition applied across values instead
    of time). It detects a CONTIGUOUS over-represented value band even
    when earlier under-representation cancels it out of the one-sided
    KS⁺ supremum: a source that dumps truncated documents into one
    narrow length band drifts the ascent long before it moves the KS
    point. ``alarm_value`` is the smallest value at which the ascent
    crosses ``h_ppm`` (NULL when it never does) — the quarantine
    trigger, telling the operator WHERE in the domain the mass piles
    up.

    Integer end to end, the ks_drift discipline: D rides the same
    integer numerator ``cum_g·n_rest − cum_rest·n_g`` (signed,
    DECIMAL(38,0) products for 1e11-row honesty), the running minimum
    and the ascent are integer window arithmetic, ``cusum_ppm`` is
    exact integral division, and the alarm threshold compares
    ``s·1e6 > h_ppm·n_g·n_rest`` as pure integers — no division
    rounding at the boundary, no doubles anywhere.

    Scale posture identical to ks_drift: one map-side-combined counts
    shuffle, then the |groups| × |distinct values| grid bounded by the
    VALUE DOMAIN; per-group CDFs and minima ride windows partitioned
    by group, and the only unpartitioned window cumulates the tiny
    distinct-values relation.
    """
    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cusum_drift_from_counts(counts, value_col, group_col, h_ppm)


def cusum_drift_from_counts(counts: DataFrame, value_col: str,
                            group_col: str,
                            h_ppm: int = 100_000) -> DataFrame:
    """:func:`cusum_drift` over a pre-aggregated non-null ``(group,
    value, c)`` counts relation — the mergeable-state entry point
    shared with KS/PSI/EMD: ONE counts grid, every distributional
    statistic."""
    from pyspark.sql import Window

    w_all = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    vals = (
        counts.groupBy(value_col)
        .agg(F.sum("c").alias("v_cnt"))
        .withColumn("cum_all", F.sum("v_cnt").over(w_all))
    )
    groups = counts.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    tot = counts.agg(F.sum("c").alias("n"))
    grid = (
        groups.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vals))
        .join(counts, [group_col, value_col], "left")
        .withColumn("g_c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w_g = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = "decimal(19,0)"
    cum_g = F.sum("g_c").over(w_g)
    # SIGNED CDF-difference numerator (ks_drift takes its |abs|)
    signed = grid.select(
        group_col,
        "n_g",
        "n",
        F.col(value_col).alias("__v"),
        (
            cum_g.cast(dec) * (F.col("n") - F.col("n_g")).cast(dec)
            - (F.col("cum_all") - cum_g).cast(dec) * F.col("n_g").cast(dec)
        ).alias("d"),
    )
    w_min = Window.partitionBy(group_col).orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    zero = F.lit(0).cast("decimal(38,0)")
    s = signed.withColumn(
        "s", F.col("d") - F.least(zero, F.min("d").over(w_min))
    )
    return (
        s.groupBy(group_col, "n_g", "n")
        .agg(
            F.max("s").alias("cusum_num"),
            # pure-integer alarm compare: s·1e6 > h_ppm·n_g·n_rest —
            # no integral-division rounding at the threshold boundary
            F.min(
                F.when(
                    # h_ppm·n_g stays in BIGINT (≤ 1e5·3e9 = 3e14), so
                    # both sides are single decimal(19)×decimal(19)
                    # products — no >38-digit intermediate
                    F.col("s") * F.lit(1_000_000)
                    > (F.lit(h_ppm) * F.col("n_g")).cast(dec)
                    * (F.col("n") - F.col("n_g")).cast(dec),
                    F.col("__v"),
                )
            ).alias("alarm_value"),
        )
        # a group that IS the whole corpus has no rest (mirror ks_drift)
        .filter(F.col("n_g") < F.col("n"))
        .select(
            group_col,
            F.col("n_g").alias("n_docs"),
            # emitted BIGINT (< n_g·n_rest·2 — exact to ~2e9 rows/side;
            # past that, widen both engines), the ks_num discipline
            F.col("cusum_num").cast("bigint").alias("cusum_num"),
            F.expr(
                "(cusum_num * 1000000) div (cast(n_g as decimal(19,0))"
                " * cast(n - n_g as decimal(19,0)))"
            ).alias("cusum_ppm"),
            "alarm_value",
        )
    )


def mann_whitney_drift(df: DataFrame, value_col: str,
                       group_col: str) -> DataFrame:
    """Exact tie-aware Mann-Whitney U (Wilcoxon rank-sum) per group vs
    the REST of the corpus → ``(group, n_docs, u2, rank_biserial_ppm)``
    — the fifth drift monitor: where KS/EMD/CUSUM read the CDF gap
    pointwise, Mann-Whitney reads the PAIRWISE STOCHASTIC ORDER,
    ``U = #{(x∈g, y∈rest): x > y} + ½·#{x = y}`` — the
    location-shift test that stays powerful when the two shapes match
    but one source is systematically longer/shorter. Emitted in the
    doubled integer form ``u2 = 2U`` (ties contribute exactly 1, so u2
    is always an exact integer) plus the effect size
    ``rank_biserial = 2U/(n_g·n_rest) − 1`` as exact signed ppm —
    positive means the group stochastically dominates the rest.

    Never a pair join: on the counts grid, every (group value v) ×
    (rest value u) comparison collapses to
    ``u2 = Σ_v c_g(v)·(2·cumrest(v⁻) + c_rest(v))`` where cumrest(v⁻)
    is the rest-mass strictly below v — one cumulative window per
    group over the value-domain grid, integer end to end
    (DECIMAL(38,0) products for 1e11-row honesty, integral-division
    ppm, no doubles).

    Scale posture identical to ks_drift: one counts shuffle, then the
    |groups| × |distinct values| grid.
    """
    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return mann_whitney_from_counts(counts, value_col, group_col)


def mann_whitney_from_counts(counts: DataFrame, value_col: str,
                             group_col: str) -> DataFrame:
    """:func:`mann_whitney_drift` over a pre-aggregated non-null
    ``(group, value, c)`` counts relation (the shared mergeable
    monitoring state — same grid as KS/PSI/EMD/CUSUM)."""
    from pyspark.sql import Window

    w_all = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    vals = (
        counts.groupBy(value_col)
        .agg(F.sum("c").alias("v_cnt"))
        .withColumn("cum_all", F.sum("v_cnt").over(w_all))
    )
    groups = counts.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    tot = counts.agg(F.sum("c").alias("n"))
    grid = (
        groups.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vals))
        .join(counts, [group_col, value_col], "left")
        .withColumn("g_c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w_g = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = "decimal(19,0)"
    cum_g = F.sum("g_c").over(w_g)
    # rest mass at v and strictly below v, from the shared cumulatives
    c_rest = F.col("v_cnt") - F.col("g_c")
    cumrest_below = (F.col("cum_all") - cum_g) - c_rest
    term = F.col("g_c").cast(dec) * (
        F.lit(2) * cumrest_below.cast(dec) + c_rest.cast(dec)
    )
    return (
        grid.select(group_col, "n_g", "n", term.alias("tm"))
        .groupBy(group_col, "n_g", "n")
        .agg(F.sum("tm").alias("u2_num"))
        .filter(F.col("n_g") < F.col("n"))  # a lone group has no rest
        .select(
            group_col,
            F.col("n_g").alias("n_docs"),
            F.col("u2_num").cast("bigint").alias("u2"),
            # rank-biserial = (2U − n_g·n_rest)/(n_g·n_rest), exact ppm
            F.expr(
                "((u2_num - cast(n_g as decimal(19,0))"
                "   * cast(n - n_g as decimal(19,0))) * 1000000)"
                " div (cast(n_g as decimal(19,0))"
                "      * cast(n - n_g as decimal(19,0)))"
            ).alias("rank_biserial_ppm"),
        )
    )


def jonckheere_trend(df: DataFrame, value_col: str,
                     group_col: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test → ONE row
    ``(n_groups, n_obs, j2, ej2, trend_ppm)`` — the drift family's
    ordered-groups member: where Mann-Whitney asks "does THIS group
    differ from the rest", Jonckheere asks "do the groups TREND in
    their given order" (e.g. do documents get systematically longer
    across release batches r1 < r2 < ... < rK). ``J = Σ_{a<b} U_ab``
    over ordered group pairs, emitted in the doubled-integer tie-exact
    form ``j2 = 2J`` beside its exact null expectation
    ``ej2 = Σ_{a<b} n_a·n_b`` and the normalized excess
    ``trend_ppm = (j2 − ej2)·1e6 div ej2`` (positive = ascending
    trend). Groups order by their natural sort of ``group_col`` —
    callers encode the intended order in the key (release ids, date
    buckets).

    Never a group-pair join, never a value-pair join: with P(v,g) =
    Σ_{a<g} cum_a(v) and Q(v,g) = Σ_{a<g} c_a(v) (prefix sums across
    the GROUP order at each value), ``j2 = Σ_{v,g} c_g(v)·(2P − Q)``
    — two nested cumulative windows on the |groups| × |values| counts
    grid (one over the value domain per group, one over the group
    order per value). Integer end to end: DECIMAL(38,0) products,
    integral-division ppm, no libm.

    Scale posture identical to ks_drift: one map-side-combined counts
    shuffle, then grid-bounded windows.
    """
    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return jonckheere_from_counts(counts, value_col, group_col)


def jonckheere_from_counts(counts: DataFrame, value_col: str,
                           group_col: str) -> DataFrame:
    """:func:`jonckheere_trend` over a pre-aggregated non-null
    ``(group, value, c)`` counts relation — the same mergeable
    monitoring state as KS/PSI/EMD/CUSUM/Mann-Whitney."""
    from pyspark.sql import Window

    vals = counts.groupBy(value_col).agg(F.sum("c").alias("v_cnt"))
    groups = counts.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    grid = (
        groups.crossJoin(F.broadcast(vals))
        .join(counts, [group_col, value_col], "left")
        .withColumn("g_c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w_g = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_prefix = Window.partitionBy(value_col).orderBy(group_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = "decimal(19,0)"
    zero = F.lit(0).cast(dec)
    staged = grid.select(
        group_col,
        value_col,
        "n_g",
        F.col("g_c").cast(dec).alias("gc"),
        F.sum("g_c").over(w_g).cast(dec).alias("cum_g"),
    )
    prefixed = staged.select(
        "n_g",
        F.col(group_col).alias("__g"),
        "gc",
        F.coalesce(F.sum("cum_g").over(w_prefix), zero).alias("p"),
        F.coalesce(F.sum("gc").over(w_prefix), zero).alias("q"),
    )
    term = F.col("gc") * (F.lit(2) * F.col("p") - F.col("q"))
    j = prefixed.agg(
        F.sum(term).alias("j2_num"),
        F.count_distinct("__g").alias("n_groups"),
    )
    # exact null expectation ej2 = Σ_{a<b} n_a·n_b from group sizes
    wg_ord = Window.orderBy(group_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    e = (
        groups.select(
            "n_g",
            F.coalesce(F.sum("n_g").over(wg_ord), F.lit(0)).alias("before"),
        )
        .agg(
            F.sum(
                F.col("n_g").cast(dec) * F.col("before").cast(dec)
            ).alias("ej2_num"),
            F.sum("n_g").alias("n_obs"),
        )
    )
    return (
        j.crossJoin(F.broadcast(e))
        .filter(F.col("ej2_num") > 0)  # < 2 groups: no ordered pairs
        .select(
            F.col("n_groups").cast("bigint").alias("n_groups"),
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.col("j2_num").cast("bigint").alias("j2"),
            F.col("ej2_num").cast("bigint").alias("ej2"),
            F.expr("((j2_num - ej2_num) * 1000000) div ej2_num")
            .alias("trend_ppm"),
        )
    )


def gini_concentration(df: DataFrame, value_col: str, tiebreak_col: str,
                       bucket_width: int = 1_000_000_000) -> DataFrame:
    """Exact Gini coefficient of a nonnegative integer measure → ONE
    row ``(n_units, total_value, gini_ppm)`` — the concentration /
    inequality profile (how skewed is revenue across customers, tokens
    across documents, traffic across keys) that :func:`key_skew_profile`
    eyeballs with percentiles and this op states as the canonical
    scalar: ``G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx)``, emitted as exact
    integral-division ppm.

    The global rank is the scale problem (a window ``ORDER BY`` with no
    partition funnels the corpus through ONE task): ranks derive
    instead from VALUE BUCKETS — ``bucket = value div bucket_width``
    gives a relation bounded by the value DOMAIN, its cumulative
    counts ride one tiny ordered window and broadcast back as offsets,
    and the within-bucket ``row_number`` partitions BY BUCKET. Since
    the bucket id is monotone in the value, ``offset + within-bucket
    rank`` equals the exact global ``ROW_NUMBER() OVER (ORDER BY
    value, tiebreak)`` — the windows.exact_row_number idea with the
    driver fold replaced by a window and raw values replaced by
    domain-bounded buckets. Ties contribute identically under any
    permutation (Σ rank over a tie group is rank-sum-invariant), the
    tiebreak just pins determinism.

    Integer end to end: rank·x products ride DECIMAL(19,0)×DECIMAL(19,0)
    (n ≤ 1e11 units × values ≤ 1e13 micro-dollars stay inside the
    DECIMAL(38,0) accumulator), gini_ppm is integral division. Values
    must be nonnegative (Gini is undefined below zero — enforced by
    filter semantics documented here, not silently clamped: negative
    inputs raise in the guard below).
    """
    x = F.col(value_col)
    # NULL discipline (the theil_sen lesson): a NULL value would land
    # in the NULL bucket — counted into the cumulative offsets (groupBy
    # keeps NULL keys, and Spark windows order NULLs FIRST) but dropped
    # by the equi-join back onto base, shifting every composed rank;
    # it would also hit the negative-guard's otherwise-branch with a
    # misleading error. Define the measure over non-null rows.
    base = df.filter(
        x.isNotNull() & F.col(tiebreak_col).isNotNull()
    ).select(
        x.cast("bigint").alias("x"), F.col(tiebreak_col).alias("tb")
    ).withColumn("bk", F.expr(f"x div {int(bucket_width)}"))
    # Gini needs a nonnegative measure; a negative value would silently
    # corrupt both the rank-sum identity and the normalization.
    # assert_true evaluates per-row inside the scan — no extra pass.
    base = base.withColumn(
        "x",
        F.when(F.col("x") >= 0, F.col("x")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("gini_concentration: negative value "),
                    F.col("x").cast("string"),
                )
            ).cast("bigint")
        ),
    )
    from pyspark.sql import Window

    bc = base.groupBy("bk").agg(F.count(F.lit(1)).alias("c"))
    w_off = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # the ordered window runs on the BUCKET relation — value-domain
    # bounded, never the corpus
    off = bc.withColumn(
        "off", F.coalesce(F.sum("c").over(w_off), F.lit(0))
    ).select("bk", "off")
    w_in = Window.partitionBy("bk").orderBy("x", "tb")
    dec = "decimal(19,0)"
    ranked = base.join(F.broadcast(off), "bk").withColumn(
        "rnk", F.col("off") + F.row_number().over(w_in)
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("rnk").cast(dec) * F.col("x").cast(dec)).alias("srx"),
    )
    return m.filter((F.col("n") > 0) & (F.col("sx") > 0)).select(
        F.col("n").alias("n_units"),
        F.col("sx").cast("bigint").alias("total_value"),
        F.expr(
            "((2 * srx - (n + 1) * sx) * 1000000)"
            " div (cast(n as decimal(19,0)) * sx)"
        ).alias("gini_ppm"),
    )


def kruskal_wallis_drift(df: DataFrame, value_col: str,
                         group_col: str) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H over ALL groups at once → ONE row
    ``(n_groups, n_obs, h_micro, h_tie_micro)`` — the K-GROUP member of
    the drift family: Mann-Whitney asks "does THIS group differ from
    the rest" (one verdict per group), Jonckheere "do the groups trend
    in their given order"; Kruskal-Wallis asks "are the K groups drawn
    from the same distribution AT ALL" — the single gate a pipeline
    checks before drilling into per-group verdicts.

    Quantized-integer emission (the ppm discipline applied to a rank
    statistic): with doubled average ranks ``r2(v) = 2·cum_before(v) +
    c(v) + 1`` (always an exact integer, ties exact) and doubled rank
    sums ``R2_g = Σ_v c_g(v)·r2(v)``,

        H = 3·[Σ_g R2_g²/n_g] / (n(n+1)) − 3(n+1)

    is emitted as ``h_micro`` via per-group integral division
    (``term_g = R2_g² div n_g``, truncation deterministic and ≤ 1 unit
    per group — ~1e-18 relative at corpus scale) and one final
    integral division; the tie correction ``C = 1 − Σ(c_v³−c_v)/(n³−n)``
    multiplies through as ``h_tie_micro = (h_micro·(n³−n)) div
    (n³−n − Σ(c_v³−c_v))``. DECIMAL(38,0) intermediates (R2_g² reaches
    ~4n³ ≈ 4e18 at n=1e6 — the long boundary), no doubles, no libm;
    both engines truncate toward zero.

    Never a pair join and never a grid: R2_g needs only the per-VALUE
    rank relation (domain-bounded) broadcast-joined onto the counts —
    one counts shuffle, one domain window, one group aggregate.
    Degenerate inputs (a single distinct value: C = 0) are excluded by
    the final guard.
    """
    counts = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return kruskal_wallis_from_counts(counts, value_col, group_col)


def kruskal_wallis_from_counts(counts: DataFrame, value_col: str,
                               group_col: str) -> DataFrame:
    """:func:`kruskal_wallis_drift` over a pre-aggregated non-null
    ``(group, value, c)`` counts relation — the same shared mergeable
    monitoring state as KS/PSI/EMD/CUSUM/MW/Jonckheere."""
    from pyspark.sql import Window

    w_before = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = "decimal(38,0)"
    vals = (
        counts.groupBy(value_col)
        .agg(F.sum("c").alias("v_cnt"))
        .withColumn(
            "r2",
            F.lit(2) * F.coalesce(F.sum("v_cnt").over(w_before), F.lit(0))
            + F.col("v_cnt")
            + F.lit(1),
        )
    )
    per_g = (
        counts.join(F.broadcast(vals.select(value_col, "r2")), value_col)
        .groupBy(group_col)
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.col("c").cast(dec) * F.col("r2").cast(dec)).alias("r2g"),
        )
    )
    terms = per_g.select(
        F.lit(1).alias("__one"),
        F.col("n_g"),
        # per-group integral division: R2_g² div n_g, exact DECIMAL
        # product, toward-zero both engines
        F.expr("(cast(r2g as decimal(38,0)) * r2g) div n_g").alias("tg"),
    )
    stats = terms.groupBy("__one").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_g").alias("n"),
        F.sum(F.col("tg").cast(dec)).alias("s"),
    )
    ties = (
        vals.select(
            F.lit(1).alias("__one"),
            (
                F.col("v_cnt").cast(dec) * F.col("v_cnt") * F.col("v_cnt")
                - F.col("v_cnt")
            ).alias("t3"),
        )
        .groupBy("__one")
        .agg(F.sum("t3").alias("tsum"))
    )
    n3 = "(cast(n as decimal(38,0)) * n * n - n)"
    h_micro = (
        f"(3 * s * 1000000) div (cast(n as decimal(38,0)) * (n + 1))"
        f" - 3000000 * (n + 1)"
    )
    return (
        stats.join(ties, "__one")
        .filter(F.expr(f"{n3} > tsum"))  # C > 0: >1 distinct value
        .select(
            "n_groups",
            F.col("n").alias("n_obs"),
            F.expr(h_micro).cast("bigint").alias("h_micro"),
            F.expr(
                f"(cast(({h_micro}) as decimal(38,0)) * {n3})"
                f" div ({n3} - tsum)"
            ).cast("bigint").alias("h_tie_micro"),
        )
    )
