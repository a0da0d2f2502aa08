"""Risk / streak analytics over per-entity time series — the
stock-domain metric family (historical VaR, expected shortfall, Sharpe,
momentum streaks) the reference's data model exists to serve (its own
analytics stop at latest-price and a rolling mean; these are the
standard next queries on the same OHLCV fact).

Float discipline (the engine-wide rule): returns quantize to integer
parts-per-million at the source, every cross-row reduction is an exact
integer sum, and the handful of final double operations (divisions,
IEEE-correctly-rounded sqrt) happen in ONE pinned association on both
engines — so no parallel-float-accumulation ambiguity exists anywhere,
and the DuckDB oracles match to the bit, not "to a tolerance".

Quantile discipline: VaR is a DISCRETE order statistic (the k-th
smallest, k = max(1, ceil(p·n))), picked by a deterministic
(value, date) row_number — never an interpolated percentile, whose
``lower + (upper-lower)·f`` vs ``lower·(1-f) + upper·f`` association
differs across engines by final ulps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def returns_ppm(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Per-entity daily simple returns quantized to integer ppm:
    ``round((v / lag(v) - 1) * 1e6)`` as BIGINT — one lag window, the
    first bar per entity drops. Quantization is what makes every
    downstream reduction exact; ±1 ppm ≈ 1e-4 % is far inside any use
    of a daily return."""
    w = Window.partitionBy(entity_col).orderBy(date_col)
    return prices.select(
        entity_col,
        date_col,
        F.round(
            (F.col(value_col) / F.lag(value_col).over(w) - 1) * F.lit(1e6)
        )
        .cast("bigint")
        .alias("ret_ppm"),
    ).filter(F.col("ret_ppm").isNotNull())


def var_cvar(
    rets: DataFrame,
    p: float = 0.05,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
) -> DataFrame:
    """Historical VaR + expected shortfall per entity at tail level
    ``p`` → ``(entity, n_days, var95_ppm, cvar95_ppm)``.

    VaR = the k-th smallest return (k = max(1, ceil(p·n)), discrete —
    see module docstring); CVaR = exact BIGINT sum of the k tail
    returns / k, one final double division. Plan: one count aggregate
    broadcast back, one rank window over the same entity partitioning,
    map-side-combined tail aggregation — partitions by entity
    throughout, no global sort."""
    stats = (
        rets.groupBy(entity_col)
        .agg(F.count(F.lit(1)).alias("n_days"))
        .withColumn(
            "k",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil(F.col("n_days") * F.lit(p)),
            ),
        )
    )
    wr = Window.partitionBy(entity_col).orderBy("ret_ppm", date_col)
    return (
        rets.withColumn("rn", F.row_number().over(wr))
        .join(F.broadcast(stats), entity_col)
        .filter(F.col("rn") <= F.col("k"))
        .groupBy(entity_col, "n_days")
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("k"), F.col("ret_ppm"))
            ).alias("var95_ppm"),
            (F.sum("ret_ppm").cast("double") / F.count(F.lit(1))).alias(
                "cvar95_ppm"
            ),
        )
        .select(entity_col, "n_days", "var95_ppm", "cvar95_ppm")
    )


def sharpe(
    rets: DataFrame,
    periods_per_year: float = 252.0,
    entity_col: str = "stock_ticker",
) -> DataFrame:
    """Annualized Sharpe per entity →
    ``(entity, n_days, mean_ppm, vol_ppm, sharpe_ann)`` (6dp).

    S = Σ ret and Q = Σ ret² are exact integers (< 2^53 at any
    plausible ppm scale, so their doubles are exact); mean, sample
    variance, and Sharpe derive from (S, Q, n) in one pinned
    association. Entities with fewer than 2 returns or zero variance
    drop (their Sharpe is undefined)."""
    agg = rets.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("ret_ppm").cast("double").alias("s"),
        F.sum(F.col("ret_ppm") * F.col("ret_ppm")).cast("double").alias("q"),
    )
    base = (
        agg.filter(F.col("n_days") >= 2)
        .select(
            entity_col,
            "n_days",
            (F.col("s") / F.col("n_days")).alias("mean_raw"),
            (
                (F.col("q") - (F.col("s") * F.col("s")) / F.col("n_days"))
                / (F.col("n_days") - 1)
            ).alias("var_raw"),
        )
        .filter(F.col("var_raw") > 0)
    )
    return base.select(
        entity_col,
        "n_days",
        F.round("mean_raw", 6).alias("mean_ppm"),
        F.round(F.sqrt("var_raw"), 6).alias("vol_ppm"),
        F.round(
            (F.col("mean_raw") / F.sqrt("var_raw"))
            * F.sqrt(F.lit(periods_per_year)),
            6,
        ).alias("sharpe_ann"),
    )


def longest_positive_streak(
    rets: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
) -> DataFrame:
    """Longest run of consecutive positive returns per entity →
    ``(entity, streak_len, start_date, end_date)`` — the
    gaps-and-islands idiom: island key = rn_all − rn_pos, two windows
    over the SAME partitioning (one shuffle), integer end-to-end;
    winner picked deterministically by (len DESC, start ASC).
    Entities with no positive return have no longest streak and drop."""
    w = Window.partitionBy(entity_col).orderBy(date_col)
    rn = rets.withColumn("rn_all", F.row_number().over(w))
    pos = rn.filter(F.col("ret_ppm") > 0).withColumn(
        "rn_pos", F.row_number().over(w)
    )
    runs = pos.groupBy(
        entity_col, (F.col("rn_all") - F.col("rn_pos")).alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min(date_col).alias("start_date"),
        F.max(date_col).alias("end_date"),
    )
    wp = Window.partitionBy(entity_col).orderBy(
        F.col("streak_len").desc(), "start_date"
    )
    return (
        runs.withColumn("pick", F.row_number().over(wp))
        .filter(F.col("pick") == 1)
        .select(entity_col, "streak_len", "start_date", "end_date")
    )


def var_backtest(
    prices: DataFrame,
    split_date: str,
    p: float = 0.05,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Out-of-sample VaR backtest — the Kupiec unconditional-coverage
    loop that closes the risk family the way the confusion-matrix eval
    closed language-ID: fit the p-tail VaR on returns dated
    ``<= split_date``, count violations (return BELOW the fitted VaR)
    strictly after, and emit the exceedance numbers the Kupiec POF
    test consumes → ``(entity, n_est, var_ppm, n_test, n_viol,
    viol_ppm, expected_ppm)``. A model whose ``viol_ppm`` sits far
    from ``expected_ppm = p·1e6`` failed coverage; the LR statistic
    itself is a driver-side scalar over these two integers and stays
    out of the relation (ln of count ratios would re-open the
    cross-engine float door the ppm discipline closed).

    Returns are computed over the FULL series first and split by date
    after, so the first test-window return uses the last estimation
    close as its lag base (no artificial gap at the boundary).
    Integer end-to-end: ppm returns, integer violation counts, and
    ``viol_ppm`` by integral division. Plan: the var_cvar fit on the
    estimation slice (count agg + rank window, entity-partitioned),
    fitted VaR broadcast back, one map-side-combined violation count
    over the test slice. Entities with no estimation returns or no
    test returns drop (a backtest needs both sides).
    """
    rets = returns_ppm(prices, entity_col, date_col, value_col)
    split = F.lit(split_date).cast("date")
    fitted = var_cvar(
        rets.filter(F.col(date_col) <= split), p, entity_col, date_col
    ).select(
        entity_col,
        F.col("n_days").alias("n_est"),
        F.col("var95_ppm").alias("var_ppm"),
    )
    return (
        rets.filter(F.col(date_col) > split)
        .join(F.broadcast(fitted), entity_col)
        .groupBy(entity_col, "n_est", "var_ppm")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("ret_ppm") < F.col("var_ppm"), 1).otherwise(0)
            ).cast("bigint").alias("n_viol"),
        )
        .select(
            entity_col,
            "n_est",
            "var_ppm",
            "n_test",
            "n_viol",
            F.expr("(n_viol * 1000000) div n_test").alias("viol_ppm"),
            F.lit(int(round(p * 1e6))).cast("bigint").alias("expected_ppm"),
        )
    )


def autocorr_lag1(
    rets: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
) -> DataFrame:
    """Lag-1 autocorrelation of the ppm-return series per entity →
    ``(entity, n_pairs, autocorr)`` — the momentum/mean-reversion
    diagnostic (positive = trending, negative = reverting) that closes
    the serial-dependence question the streak analytics only eyeball.

    Pearson correlation of (ret_t, ret_{t+1}) pairs under the module's
    float discipline: the pairs come from ONE lead window over the
    entity partitioning, all six moments (n, Σx, Σy, Σxy, Σx², Σy²)
    are EXACT integer sums of ppm values (|Σxy| < n·1e12 — inside
    2^53 for any per-entity daily history), and the correlation
    derives from them in one pinned association
    ``(n·Σxy − Σx·Σy) / (sqrt(n·Σx²−Σx²̂) · sqrt(n·Σy²−Σy²̂))`` emitted
    UNROUNDED — every op is correctly rounded on identical inputs, so
    the double is bit-identical cross-engine and a final ROUND would
    only re-open the half-quantum boundary door (the
    ref_ticker_correlation discipline with integer moments instead of
    DECIMAL sums). Entities with fewer than 3
    returns (under 2 pairs) drop, as does a zero-variance side
    (NULL correlation is engine-divergent; the filter excludes it).
    """
    w = Window.partitionBy(entity_col).orderBy(date_col)
    pairs = (
        rets.withColumn("y", F.lead("ret_ppm").over(w))
        .filter(F.col("y").isNotNull())
        .select(
            entity_col,
            F.col("ret_ppm").alias("x"),
            F.col("y"),
        )
    )
    m = pairs.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxy, sxx, syy = [F.col(c).cast("double") for c in ("sxy", "sxx", "syy")]
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return (
        m.filter((F.col("n") >= 2) & (vx > 0) & (vy > 0))
        .select(
            entity_col,
            F.col("n").alias("n_pairs"),
            ((n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)))
            .alias("autocorr"),
        )
    )


def underwater_duration(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Longest underwater spell per entity → ``(entity,
    underwater_days, start_date, end_date)``: the maximum run of
    consecutive observations strictly below the running peak close —
    drawdown DURATION, the time dimension ref_drawdown's depth number
    does not carry (a shallow two-year underwater stretch and a deep
    two-week one read identically in max-drawdown depth).

    A day that sets (or ties) a new peak is NOT underwater. Same
    gaps-and-islands skeleton as longest_positive_streak — island key
    = rn_all − rn_under over two windows on the SAME entity
    partitioning (one shuffle), winner by (len DESC, start ASC); the
    below-peak flag itself is one running-max window, also
    same-partitioned. Double comparisons only (close vs cummax —
    identical values on both engines compare identically); counting is
    integer. Entities never underwater drop.
    """
    w = Window.partitionBy(entity_col).orderBy(date_col)
    wpeak = w.rowsBetween(Window.unboundedPreceding, 0)
    flagged = prices.select(
        entity_col,
        date_col,
        (F.col(value_col) < F.max(value_col).over(wpeak)).alias("under"),
        F.row_number().over(w).alias("rn_all"),
    )
    under = flagged.filter(F.col("under")).withColumn(
        "rn_under", F.row_number().over(w)
    )
    runs = under.groupBy(
        entity_col, (F.col("rn_all") - F.col("rn_under")).alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("underwater_days"),
        F.min(date_col).alias("start_date"),
        F.max(date_col).alias("end_date"),
    )
    wp = Window.partitionBy(entity_col).orderBy(
        F.col("underwater_days").desc(), "start_date"
    )
    return (
        runs.withColumn("pick", F.row_number().over(wp))
        .filter(F.col("pick") == 1)
        .select(entity_col, "underwater_days", "start_date", "end_date")
    )


def cusum_alarms(
    rets: DataFrame,
    k_ppm: int = 500,
    h_ppm: int = 50_000,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
) -> DataFrame:
    """One-sided upper CUSUM change detection per entity →
    ``(entity, n_days, max_cusum_ppm, max_date, first_alarm_date)`` —
    the sequential drift alarm (Page 1954): ``S_t = max(0, S_{t-1} +
    x_t − k)`` accumulates evidence of a sustained upward shift in the
    ppm-return series, discounting the allowance ``k_ppm`` per step;
    an alarm fires when S crosses ``h_ppm``. The classic monitoring
    companion to the distributional monitors (KS/PSI read a finished
    batch; CUSUM reads a SEQUENCE and fires mid-stream).

    The recurrence looks inherently sequential, but it has an exact
    window form: with prefix sums ``P_t = Σ_{i≤t}(x_i − k)`` and the
    running minimum including the virtual empty prefix 0,
    ``S_t = P_t − min(0, min_{i≤t} P_i)`` — two cumulative windows on
    ONE entity partitioning, no recursion, no UDF loop. Integer ppm
    end to end: prefix sums, running minima, the statistic, and both
    thresholds are exact BIGINTs, so the oracle matches bit-for-bit.
    ``max_date`` ties break earliest-first; entities never alarming
    emit NULL ``first_alarm_date``.
    """
    w = Window.partitionBy(entity_col).orderBy(date_col)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    s = (
        rets.withColumn("__p", F.sum(F.col("ret_ppm") - k_ppm).over(wc))
        .withColumn(
            "__s",
            F.col("__p")
            - F.least(F.lit(0).cast("bigint"), F.min("__p").over(wc)),
        )
    )
    s = s.withColumn(
        "__smax", F.max("__s").over(Window.partitionBy(entity_col))
    )
    return s.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("__s").alias("max_cusum_ppm"),
        F.min(
            F.when(F.col("__s") == F.col("__smax"), F.col(date_col))
        ).alias("max_date"),
        F.min(
            F.when(F.col("__s") > h_ppm, F.col(date_col))
        ).alias("first_alarm_date"),
    )


def variance_ratio(
    rets: DataFrame,
    q: int = 5,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
) -> DataFrame:
    """Variance-ratio white-noise test per entity (Lo-MacKinlay 1988
    shape) → ``(entity, n_obs, n_q, vr)``: the ratio of the variance
    of OVERLAPPING q-period aggregated returns to q times the 1-period
    variance. Under a random walk VR ≈ 1; VR > 1 = momentum
    (positively correlated increments stack), VR < 1 = mean reversion
    — the horizon-q generalization of :func:`autocorr_lag1`'s single
    lag.

    Defined on partial SUMS of the ppm simple-return series (additive
    by construction, so the iid null "Var of a q-sum = q·Var" holds
    exactly — the log-return refinement would put a libm ``ln`` on
    every row, the cross-engine boundary-flake class this module
    bans). Module float discipline: the q-sums ride ONE rolling
    window over the entity partitioning (full frames only), all five
    moments are exact BIGINT sums, and VR is emitted UNROUNDED from
    one pinned double association over those integers (population
    variances; the two sample sizes differ by q−1 and each normalizes
    by its own n²) — bit-identical cross-engine, same as autocorr.
    Zero 1-period variance drops the entity (NULL/inf divergence).
    """
    if q < 2:
        raise ValueError("q must be >= 2 (q = 1 is identically VR = 1)")
    w = Window.partitionBy(entity_col).orderBy(date_col)
    wq = w.rowsBetween(-(q - 1), 0)
    base = rets.select(
        entity_col,
        F.col("ret_ppm").alias("x"),
        F.sum("ret_ppm").over(wq).alias("yq"),
        F.row_number().over(w).alias("rn"),
    )
    m1 = base.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    mq = base.filter(F.col("rn") >= q).groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("nq"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )
    # one pinned association, shared verbatim with the SQL oracle
    vr_expr = (
        "((cast(nq as double) * syy - cast(sy as double) * sy)"
        " * cast(n as double) * n)"
        " / ((cast(n as double) * sxx - cast(sx as double) * sx)"
        f"    * cast(nq as double) * nq * {q})"
    )
    return (
        m1.join(mq, entity_col)
        .filter(
            (F.col("nq") >= 2)
            & (F.expr("cast(n as double) * sxx - cast(sx as double) * sx")
               > 0)
        )
        .select(
            entity_col,
            F.col("n").alias("n_obs"),
            F.col("nq").alias("n_q"),
            F.expr(vr_expr).alias("vr"),
        )
    )


#: theil_sen_slope observation cap PER ENTITY: the pair join is
#: inherently O(n²/2) in the entity's observation count (that is the
#: estimator's definition, not an implementation shortcut), so a 1e6-day
#: series would generate 5e11 pairs. Past the cap the operator raises
#: with the named alternative (sample the series, or fit OLS) instead of
#: silently running a quadratic job — the similarity.MAX_BROADCAST_ROWS
#: discipline.
MAX_THEIL_SEN_OBS = 100_000


def theil_sen_slope(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Theil-Sen robust trend per entity → ``(entity, n_pairs,
    slope_micro)``: the MEDIAN over all observation pairs of the
    pairwise slope ``(v_j − v_i)/(days_j − days_i)`` — the trend line
    outliers cannot drag (OLS breaks down at one bad tick; Theil-Sen
    tolerates 29% corruption). Emitted as exact micro-dollars-per-day.

    Exactness: pair slopes compare as doubles (cent-quantized value
    deltas over integer day gaps — one IEEE division on identical
    integers, bit-equal cross-engine), the median is the DISCRETE
    lower-median order statistic picked by a deterministic
    (slope, date_i, date_j) row_number (the VaR quantile rule — never
    an interpolated percentile), and the SELECTED pair's slope is
    emitted by integral division of its own integers — both engines
    truncate toward zero, so even negative slopes agree.

    Scale: the pair generator is an equi-self-join on the ENTITY key
    (pairs of the same series only), O(n²/2) per entity by definition
    — guarded by :data:`MAX_THEIL_SEN_OBS` (raises, never silently
    quadratic). The median rank does NOT ride a per-entity window (one
    task would sort all n²/2 pairs of an entity): ranks derive from
    SLOPE BUCKETS — signed log-scale bucket ids
    (:func:`_ts_log_bucket`) whose cumulative counts over the small
    (entity, bucket) relation broadcast back as offsets; only the ONE
    bucket per entity whose offset interval contains the median rank
    is ever windowed (the others are filtered out by the broadcast
    semi-join BEFORE any sort), so the window input is one bucket per
    entity, not n²/2 rows — the skew.gini_concentration decomposition
    plus a median-bucket probe; the bucket id is monotone in the
    slope, so the composed rank equals the per-entity global
    ROW_NUMBER the oracle states directly.

    NULL rows in ``value_col``/``date_col`` are dropped up front
    (returns_ppm's null discipline): a NULL price would produce NULL
    slopes that the groupBy counts into the bucket offsets but the
    rank join silently drops, shifting every composed rank — and
    NULL ordering diverges cross-engine anyway.
    """
    base = prices.filter(
        F.col(value_col).isNotNull() & F.col(date_col).isNotNull()
    ).select(
        F.col(entity_col).alias("e"),
        F.col(date_col).alias("d"),
        F.round(F.col(value_col) * 100).cast("bigint").alias("vc"),
    )
    max_obs, total_obs = _enforce_pair_cap(base, "theil_sen_slope")
    return _theil_sen_from_base(
        base, max_obs=max_obs, total_obs=total_obs
    ).select(
        F.col("e").alias(entity_col), "n_pairs", "slope_micro"
    )


def _enforce_pair_cap(base: DataFrame, op_name: str) -> tuple[int, int]:
    """Raise when any entity's observation count makes the O(n²/2)
    pair space unreasonable (shared by theil_sen_slope and
    mann_kendall — one tiny max aggregate, never a pair); returns
    ``(max_per_entity, total_rows)`` so the caller can pick BOTH
    physical strategies (probe level and pair-generation layout) from
    the same probe. theil_sen_eval folds the probe into its counts
    aggregate via :func:`_check_pair_cap` instead of paying a
    separate scan."""
    per = base.groupBy("e").agg(F.count(F.lit(1)).alias("n"))
    probe = per.agg(F.max("n").alias("m"), F.sum("n").alias("t")).collect()
    max_obs = _check_pair_cap(probe, op_name)
    total = probe[0]["t"] if probe and probe[0]["t"] is not None else 0
    return max_obs, int(total)


def _check_pair_cap(worst, op_name: str) -> int:
    """The raise half of :func:`_enforce_pair_cap`, over an already-
    collected 1-row ``[Row(m=max_per_entity_count)]`` probe result;
    returns the observed max (0 on an empty relation)."""
    m = worst[0]["m"] if worst and worst[0]["m"] is not None else 0
    if m > MAX_THEIL_SEN_OBS:
        raise ValueError(
            f"{op_name}: an entity has {m} observations "
            f"(> {MAX_THEIL_SEN_OBS}); the pair space is O(n²/2) by "
            f"definition. Downsample the series or fit a non-robust "
            f"trend instead."
        )
    return m


#: Per-entity observation count above which the Theil-Sen machinery
#: switches physical strategy. Below it (every driver SF: ~2.4k obs
#: per ticker) the naive entity-key self-join + single-level bucket
#: probe wins — the interleaved A/B in AB_r16_theil.json measured the
#: decomposed machinery's fixed overhead (block windows, explodes, two
#: checkpoint job barriers, a third pair pass) at ~1.5x on small
#: series. Above it the block-decomposed generation + two-level probe
#: wins by construction: at 8192 obs a single task already holds 33M
#: pairs, and at the 100k cap the naive plan is one ~5e9-pair
#: straggler task plus one median-bucket sort holding up to half that
#: mass — the decomposed plan bounds every task at ~B² pairs.
TS_BLOCK_THRESHOLD = 8192

#: Total base rows under which the naive pair join broadcasts its
#: build side and round-robins the stream side to the session's
#: shuffle width (r18). The entity-key equi-join's parallelism is
#: |entities| — a 5-ticker reference warehouse runs its O(n²/2) pair
#: production in FIVE tasks (and the cached base is often AQE-coalesced
#: to one partition, making it effectively serial) while the rest of
#: the machine idles. Below this cap the base relation is ≤ ~10 MB
#: framed (far under the broadcast hard caps), so broadcasting it and
#: spreading the probe side decouples pair-production parallelism from
#: the entity count. Above it, entity count is the natural parallelism
#: and the shuffle join is the right plan.
TS_SMALL_RELATION_OBS = 250_000


def _spread_pair_join(a: DataFrame, b: DataFrame,
                      total_obs: int | None) -> tuple:
    """Small-relation broadcast spread for the O(n²/2) pair self-joins
    — shared by :func:`_ts_pairs_naive` and :func:`_mk_stat` (r19,
    de-duplicating the verbatim block ADVICE r18 flagged): when the
    caller's probe shows the whole base relation is ≤
    :data:`TS_SMALL_RELATION_OBS` rows (≲10 MB framed, far under the
    broadcast caps), broadcast the build side and round-robin the
    stream side to the session's shuffle width — the entity-key
    join's parallelism is |entities| (often AQE-coalesced to ~1
    cached partition) while the join's cost is its pair OUTPUT. The
    spread changes row placement only, never the pair multiset.
    Above the cap (or without a probe) both sides return unchanged:
    entity count IS the parallelism there."""
    if total_obs is not None and 0 < total_obs <= TS_SMALL_RELATION_OBS:
        parts = int(
            a.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        return a.repartition(parts), F.broadcast(b)
    return a, b


def _theil_sen_from_base(base: DataFrame,
                         max_obs: int | None = None,
                         total_obs: int | None = None) -> DataFrame:
    """The Theil-Sen median machinery over a prepared non-null
    ``(e, d, vc)`` relation → ``(e, n_pairs, slope_micro)`` — shared
    by :func:`theil_sen_slope` and :func:`theil_sen_eval`. Caller
    enforces the pair cap and passes the observed per-entity max
    (``max_obs``) so the physical strategy is chosen from a statistic
    the cap guard already collected:

    - ``max_obs <= TS_BLOCK_THRESHOLD`` (or unknown): naive entity-key
      pair self-join + single-level whole-cent bucket probe. Catalyst
      exchange reuse computes the pair stream effectively twice (the
      bucket-count aggregate and the rank probe); per-entity tasks are
      small, fixed overhead is minimal — the measured winner on short
      series (AB_r16_theil.json).
    - ``max_obs > TS_BLOCK_THRESHOLD``: block-decomposed pair
      generation (the O(n²/2) pair space scattered over (e, blk_i,
      blk_j) join keys instead of one task per entity) + a TWO-LEVEL
      bucket probe (coarse cents to locate the median bucket, 1/1024-
      cent refinement inside it) so no window task ever sorts more
      than a sliver of the pair mass. Three pair passes, each behind
      an eagerly-checkpointed bounded aggregate.

    Both strategies emit the same pair multiset and compose ranks over
    monotone bucket ids, so the selected pair — hence the result — is
    bit-identical (pinned by tests/test_r15_ops.py's equivalence
    test); the pair relation itself is never materialized (at the
    100k-obs cap it is ~5·10⁹ rows ≈ 250 GB)."""
    if max_obs is not None and max_obs > TS_BLOCK_THRESHOLD:
        pb = _ts_pairs_blocked(base).withColumn(
            "bk", F.floor("slope").cast("bigint")
        )
        return _ts_probe_two_level(pb)
    pb = _ts_pairs_naive(base, total_obs=total_obs).withColumn(
        "bk", _ts_log_bucket()
    )
    return _ts_probe_single(pb)


#: log-bucket resolution: 64 buckets per octave (≈1% relative slope
#: width per bucket — see _ts_log_bucket).
_TS_LOG_C = 64.0 / 0.6931471805599453


def _ts_log_bucket() -> Column:
    """Signed log-scale bucket id of the ``slope`` column — the r18
    replacement for whole-cent ``floor(slope)`` buckets in the naive
    probe. Whole-cent buckets are bounded by the slope DOMAIN, which on
    real price series is enormous (measured at sf0.1: 14.5M pairs spread
    over 1.05M distinct cent buckets — the offsets relation was nearly
    as large as a per-entity pair sort, and its cumulative window
    re-created the exact straggler the probe exists to avoid). The
    signed log transform ``sign(s) · floor(log1p(|s|)·64/ln 2)`` is
    bounded by MAGNITUDE instead: ≤ ~2·64·log2(max|slope|) ≈ a few
    thousand buckets per entity for any data whatsoever, and bucket
    width is ~1% RELATIVE to the slope — matching the near-zero
    concentration of pair slopes, so the median bucket stays thin
    (measured: 15k buckets total, max bucket 5.1k pairs, vs 1.05M/349
    under cents). Monotone non-strict in ``slope`` (subtraction-free
    composition of IEEE-monotone log1p, positive scaling, floor; the
    negative branch mirrors with the -1 offset so every negative bucket
    sorts below bucket 0) and deterministic per row — the only two
    properties the composed-rank argument needs; the bucket grid never
    appears in the oracle."""
    s = F.col("slope")
    return (
        F.when(s >= 0, F.floor(F.log1p(s) * F.lit(_TS_LOG_C)))
        .otherwise(F.lit(-1) - F.floor(F.log1p(-s) * F.lit(_TS_LOG_C)))
        .cast("bigint")
    )


#: try_divide, not `/`, in both pair generators: dd >= 1 for every row
#: the join condition emits, but ANSI-mode codegen may evaluate
#: collapsed projection expressions speculatively (observed:
#: DIVIDE_BY_ZERO thrown from the window sorter under the engine
#: session) — the total function keeps the plan side-effect-free
#: without changing any surviving value.
_TS_SLOPE_EXPR = "try_divide(cast(dvc as double), dd)"


def _ts_pairs_naive(base: DataFrame,
                    total_obs: int | None = None) -> DataFrame:
    """Entity-key pair self-join — the small-series strategy.

    When the caller's probe shows the whole base relation is small
    (``total_obs`` ≤ :data:`TS_SMALL_RELATION_OBS`), the build side is
    broadcast explicitly and the stream side round-robins to the
    session's shuffle width: the pair JOIN's cost is its O(n²/2)
    OUTPUT, which an entity-key shuffle join serializes into
    |entities| tasks (and the cached base often arrives AQE-coalesced
    to ~1 partition — near-serial pair production measured on the
    5-ticker reference warehouse). The spread changes row placement
    only, never the pair multiset. Without the probe (or above the
    cap) the plain equi-join stands: at that scale entity count IS
    the parallelism, and broadcasting is off the table anyway."""
    a, b = _spread_pair_join(base.alias("a"), base.alias("b"), total_obs)
    return a.join(
        b,
        (F.col("a.e") == F.col("b.e")) & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.e").alias("e"),
        F.col("a.d").alias("di"),
        F.col("b.d").alias("dj"),
        (F.col("b.vc") - F.col("a.vc")).alias("dvc"),
        F.datediff(F.col("b.d"), F.col("a.d")).cast("bigint").alias("dd"),
    ).withColumn("slope", F.expr(_TS_SLOPE_EXPR))


def _ts_pairs_blocked(base: DataFrame) -> DataFrame:
    """Block-decomposed pair generation — the large-series strategy.

    Each entity's date-ordered rows are cut into blocks of B; the
    earlier element of a pair (block i) replicates to join keys
    (e, i, j≥i), the later (block j) to (e, i≤j, j), so the equi-join
    on (e, bi, bj) scatters the O(n²/2) pair space over ~nb²/2 keys
    per entity with only n·nb/2 replicated shuffle rows. Same pair
    multiset as the naive join by construction: row_number respects
    the d-order, so a.d < b.d ⇒ blk_a ≤ blk_b — cross-block pairs land
    under exactly one key, same-block pairs under the diagonal key
    (both orders emitted, the d-filter keeps one)."""
    blk_sz = 512  # per-key join work ~B² ≈ 260k pairs, a right-sized task
    w_rn = Window.partitionBy("e").orderBy("d")
    bd = (
        base.select("e", "d", "vc")
        .withColumn("rn0", (F.row_number().over(w_rn) - 1).cast("bigint"))
        .withColumn("blk", F.expr(f"rn0 div {blk_sz}"))
        .drop("rn0")
    )
    nb = bd.groupBy("e").agg(F.max("blk").alias("nbm"))
    early = bd.join(F.broadcast(nb), "e").select(
        "e",
        F.col("d").alias("di"),
        F.col("vc").alias("vci"),
        F.col("blk").alias("bi"),
        F.explode(F.expr("sequence(blk, nbm)")).alias("bj"),
    )
    late = bd.select(
        "e",
        F.col("d").alias("dj"),
        F.col("vc").alias("vcj"),
        F.col("blk").alias("bj"),
        F.explode(F.expr("sequence(0, blk)")).alias("bi"),
    )
    # Explicit repartition on the join key, NOT left to AQE: the
    # shuffled INPUT is tiny (replicated rows), so adaptive coalescing
    # folds it to one partition and re-serializes the whole pair space
    # into a single task — the exact skew the decomposition exists to
    # break. The join's cost is its OUTPUT (B² pairs per key), which
    # AQE's input-byte heuristic cannot see.
    loop_parts = int(
        base.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    early = early.repartition(loop_parts, "e", "bi", "bj")
    late = late.repartition(loop_parts, "e", "bi", "bj")
    return early.join(late, ["e", "bi", "bj"]).filter(
        F.col("di") < F.col("dj")
    ).select(
        "e",
        "di",
        "dj",
        (F.col("vcj") - F.col("vci")).alias("dvc"),
        F.datediff(F.col("dj"), F.col("di")).cast("bigint").alias("dd"),
    ).withColumn("slope", F.expr(_TS_SLOPE_EXPR))


def _ts_median_select(ranked: DataFrame) -> DataFrame:
    """Shared tail: pick the row whose composed rank equals the
    lower-median target and emit the exact integral micro-slope."""
    return (
        ranked.filter(F.col("rn") == F.col("tgt"))
        .select(
            "e",
            F.col("m").alias("n_pairs"),
            # micro-dollars/day of the selected exact rational:
            # dvc cents / dd days -> (dvc * 1e6) div (100 * dd)
            F.expr("(dvc * 10000) div dd").alias("slope_micro"),
        )
    )


def _ts_probe_single(pb: DataFrame) -> DataFrame:
    """Single-level median-bucket probe (small-series strategy).

    Cumulative offsets ride the (entity, bucket) relation — bounded by
    the log-bucket grid (a few thousand buckets per entity for ANY
    slope magnitude, see :func:`_ts_log_bucket`), never the pair
    count. The lower-median rank (m+1) div 2 lands in exactly ONE
    bucket per entity (off < tgt <= off+c); resolving it on the small
    relation FIRST means the broadcast join discards every other
    bucket's pairs before the window, so the sort input is one bucket
    per entity instead of all n²/2 rows. The bucket-count relation is
    eagerly checkpointed (r18): its three consumers (offsets window,
    per-entity totals, the target join) each re-ran the whole pair
    pass when left to exchange reuse — measured as a third full pair
    generation at sf0.1 — while the checkpoint pins the probe at
    exactly TWO pair passes (counts, rank) over a few-thousand-row
    materialization."""
    bc = (
        pb.groupBy("e", "bk")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    w_off = Window.partitionBy("e").orderBy("bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = bc.select(
        "e", "bk", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off")
    )
    m_per = bc.groupBy("e").agg(F.sum("c").alias("m"))
    tgt = (
        bc.join(off, ["e", "bk"])
        .join(m_per, "e")
        .withColumn("tgt", F.expr("(m + 1) div 2"))
        .filter(
            (F.col("off") < F.col("tgt"))
            & (F.col("tgt") <= F.col("off") + F.col("c"))
        )
        .select("e", "bk", "off", "m", "tgt")
    )
    w_in = Window.partitionBy("e", "bk").orderBy("slope", "di", "dj")
    ranked = (
        pb.join(F.broadcast(tgt), ["e", "bk"])
        .withColumn("rn", F.col("off") + F.row_number().over(w_in))
    )
    return _ts_median_select(ranked)


def _ts_probe_two_level(pb: DataFrame) -> DataFrame:
    """Two-level median probe (large-series strategy): pair slopes
    concentrate near zero, so the coarse median bucket can hold half
    the pair mass — a single-level probe would sort billions of pairs
    in ONE window task per entity at the cap. Level 1 locates the
    median bucket on the whole-cent grid; level 2 counts a 1/1024-cent
    refinement INSIDE that one bucket (exact binary scaling of the
    double, id still monotone in slope); only the ONE fine sub-bucket
    per entity reaches the rank window. Each level's counts relation
    is eagerly checkpointed — it is bounded by the bucket grid, and
    its consumers reference it four times (without the cut each
    reference re-runs a full pair pass). The composed rank equals the
    oracle's per-entity global ROW_NUMBER for any monotone bucketing,
    so the bucket grids never appear in the oracle."""
    pb = pb.withColumn("bk2", F.floor(F.col("slope") * 1024).cast("bigint"))
    bc = (
        pb.groupBy("e", "bk")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    w_off = Window.partitionBy("e").orderBy("bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = bc.select(
        "e", "bk", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off")
    )
    m_per = bc.groupBy("e").agg(F.sum("c").alias("m"))
    tgt = (
        bc.join(off, ["e", "bk"])
        .join(m_per, "e")
        .withColumn("tgt", F.expr("(m + 1) div 2"))
        .filter(
            (F.col("off") < F.col("tgt"))
            & (F.col("tgt") <= F.col("off") + F.col("c"))
        )
        .select("e", "bk", "off", "m", "tgt")
    )
    bc2 = (
        pb.join(F.broadcast(tgt), ["e", "bk"])
        .groupBy("e", "bk", "bk2", "off", "m", "tgt")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint()
    )
    w_off2 = Window.partitionBy("e").orderBy("bk2").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tgt2 = (
        bc2.withColumn(
            "aoff",
            F.col("off") + F.coalesce(F.sum("c2").over(w_off2), F.lit(0)),
        )
        .filter(
            (F.col("aoff") < F.col("tgt"))
            & (F.col("tgt") <= F.col("aoff") + F.col("c2"))
        )
        .select("e", "bk", "bk2", "aoff", "m", "tgt")
    )
    w_in = Window.partitionBy("e", "bk2").orderBy("slope", "di", "dj")
    ranked = (
        pb.join(F.broadcast(tgt2), ["e", "bk", "bk2"])
        .withColumn("rn", F.col("aoff") + F.row_number().over(w_in))
    )
    return _ts_median_select(ranked)


def _trend_base(
    prices: DataFrame,
    entity_col: str,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Prepared non-null ``(e, d, vc)`` relation shared by the trend
    estimators: cent-quantized values, NULL prices/dates dropped up
    front (the returns_ppm null discipline — a NULL would shift bucket
    offsets and diverge cross-engine on NULL ordering)."""
    return prices.filter(
        F.col(value_col).isNotNull() & F.col(date_col).isNotNull()
    ).select(
        F.col(entity_col).alias("e"),
        F.col(date_col).alias("d"),
        F.round(F.col(value_col) * 100).cast("bigint").alias("vc"),
    )


def mann_kendall(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Mann-Kendall monotone-trend test per entity → ``(entity, n_obs,
    s_stat, tau_a_ppm)`` — the SIGNIFICANCE companion to
    :func:`theil_sen_slope` (the pair is how hydrology/finance report
    robust trends: Mann-Kendall says WHETHER a monotone trend exists,
    Theil-Sen says HOW STEEP):

        S = Σ_{i<j} sign(v_j − v_i)          (Mann 1945, Kendall 1975)

    over all observation pairs ordered by date; ``tau_a = S / C(n,2)``
    is Kendall's tau-a in exact signed ppm. Integer end to end: signs
    compare cent-quantized BIGINTs (no doubles at all — strictly
    tighter than theil_sen's one IEEE division), S and the pair count
    are exact integer sums, and tau_a_ppm is integral division
    (truncation toward zero, engine-identical even for downtrends).

    Scale: the same capped equi-self-join pair generator as
    theil_sen_slope (:data:`MAX_THEIL_SEN_OBS` raises with the named
    alternative); the reduction is one map-side-combined aggregate —
    no window, no sort, no collect beyond the cap probe.
    """
    base = _trend_base(prices, entity_col, date_col, value_col)
    _, total_obs = _enforce_pair_cap(base, "mann_kendall")
    return _mk_stat(base, entity_col, total_obs=total_obs)


def _mk_stat(base: DataFrame, entity_col: str,
             extra_keys: tuple[str, ...] = (),
             total_obs: int | None = None) -> DataFrame:
    """Shared Mann-Kendall reduction over a prepared ``(e, d, vc[,
    keys])`` relation: the equi-self-join on (e, *extra_keys) with
    a.d < b.d, the cent-BIGINT sign aggregate, and tau_a = S / n_pairs
    in exact signed ppm — :func:`mann_kendall` (no extra keys) and
    :func:`seasonal_mann_kendall` (season key) are thin wrappers.
    Callers run their own pair-cap probe BEFORE calling (the cap's
    grouping differs: whole series vs per-season sub-series); a caller
    that also knows the total row count passes it so the small-relation
    broadcast spread of :func:`_ts_pairs_naive` applies here too (the
    entity-key join's parallelism is |entities| — five tasks on the
    reference warehouse — while the sign-sum's cost is the O(n²/2)
    pair OUTPUT; the spread never changes the pair multiset)."""
    a, b = _spread_pair_join(base.alias("a"), base.alias("b"), total_obs)
    cond = (F.col("a.e") == F.col("b.e")) & (F.col("a.d") < F.col("b.d"))
    for kcol in extra_keys:
        cond = cond & (F.col(f"a.{kcol}") == F.col(f"b.{kcol}"))
    pairs = a.join(b, cond).select(
        F.col("a.e").alias("e"),
        (F.col("b.vc") - F.col("a.vc")).alias("dvc"),
    )
    sgn = (
        F.when(F.col("dvc") > 0, F.lit(1))
        .when(F.col("dvc") < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    m = pairs.groupBy("e").agg(
        F.sum(sgn).alias("s_stat"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    n_obs = base.groupBy("e").agg(F.count(F.lit(1)).alias("n_obs"))
    return (
        m.join(n_obs, "e")
        .select(
            F.col("e").alias(entity_col),
            "n_obs",
            "s_stat",
            # tau_a = S / C(n,2) in exact signed ppm
            F.expr("(s_stat * 1000000) div n_pairs").alias("tau_a_ppm"),
        )
    )


def ols_trend(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Exact-moment OLS trend per entity → ``(entity, n_obs,
    slope_micro)`` in micro-dollars/day — the NON-robust baseline the
    robust-trend family is measured against (theil_sen_eval fits it on
    clean and contaminated series; this is the standalone form). One
    map-side-combined five-moment aggregate over the null-filtered
    cent projection; slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) by integral
    division of DECIMAL(38,0) integer moments — no doubles, no libm,
    engine-identical truncation. Entities with < 2 observations or a
    degenerate (single-date) x-variance are excluded, mirroring the
    theil_sen/variance_ratio guards.

    Scale: linear — one scan, one groupBy; no window, no join, no pair
    space (the O(n²/2) estimators cap; this one never needs to).
    """
    base = _trend_base(prices, entity_col, date_col, value_col)
    n_obs = base.groupBy("e").agg(F.count(F.lit(1)).alias("n_obs"))
    return (
        _ols_slope_micro(base, "slope_micro")
        .join(n_obs, "e")
        .select(F.col("e").alias(entity_col), "n_obs", "slope_micro")
    )


def seasonal_mann_kendall(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Seasonal (Hirsch-Slack 1984) Mann-Kendall per entity →
    ``(entity, n_obs, s_stat, tau_a_ppm)``: the trend test for series
    with a periodic cycle — pairs are compared ONLY within the same
    season (month-of-year here), so January never votes against July
    and a pure seasonal swing contributes exactly zero to S. The
    statistic is ``S = Σ_m S_m`` over the twelve monthly sub-series,
    with ``tau_a = S / Σ_m C(n_m, 2)`` in exact signed ppm.

    Same integer discipline as :func:`mann_kendall` (cent-BIGINT sign
    compares, integral-division tau, toward-zero both engines). The
    season key rides INSIDE the equi-join — the pair space shrinks
    from C(n,2) to Σ_m C(n_m,2) ≈ n²/24, and the cap guard applies to
    the largest (entity, season) sub-series, not the whole series.
    """
    base = _trend_base(prices, entity_col, date_col, value_col).withColumn(
        "season", F.month("d")
    )
    per = base.groupBy("e", "season").agg(F.count(F.lit(1)).alias("n"))
    worst = per.agg(F.max("n").alias("m"), F.sum("n").alias("t")).collect()
    if worst and worst[0]["m"] is not None and worst[0]["m"] > MAX_THEIL_SEN_OBS:
        raise ValueError(
            f"seasonal_mann_kendall: an (entity, season) sub-series has "
            f"{worst[0]['m']} observations (> {MAX_THEIL_SEN_OBS}); the "
            f"pair space is O(n²/2) by definition. Downsample the series "
            f"or fit a non-robust trend instead."
        )
    total = worst[0]["t"] if worst and worst[0]["t"] is not None else 0
    return _mk_stat(base, entity_col, extra_keys=("season",),
                    total_obs=int(total))


def _ols_slope_micro(base: DataFrame, out_col: str) -> DataFrame:
    """Exact-moment OLS trend per entity over ``(e, d, vc)`` →
    ``(e, <out_col>)`` in micro-dollars/day: slope = (nΣxy − ΣxΣy) /
    (nΣxx − (Σx)²) emitted by integral division of integer moments —
    the variance_ratio discipline, no doubles. Inputs are cast to
    DECIMAL(19,0) and Spark's decimal arithmetic widens the product /
    sum chain (x·y → DECIMAL(38,0), then the n·Σxy products stay at
    the 38-digit cap under allowPrecisionLoss with scale 0 — lossless
    for integers until true 38-digit overflow, far beyond the
    magnitudes below).

    x is the day offset from the FIXED epoch, not the entity's first
    date: both numerator and denominator are exactly invariant under a
    per-entity shift x → x − c in integer arithmetic (nΣx'y − Σx'Σy =
    nΣxy − ncΣy − (Σx − nc)Σy = nΣxy − ΣxΣy, same for the variance),
    so the result is bit-identical to the MIN(d)-anchored oracle while
    the plan drops the per-entity MIN window entirely — one map-side-
    combined aggregate, no sort, no second shuffle. Moment magnitudes
    stay far inside DECIMAL(38,0) (x ≤ ~2.5e4 days, y cents, n capped
    or corpus-bounded: n·Σxy ≲ 1e25·1e4 < 1e38)."""
    return _ols_slopes_micro(base, (("vc", out_col),))


def _ols_x() -> Column:
    """Day offset from the fixed epoch (see :func:`_ols_slope_micro`
    for the shift-invariance argument)."""
    return F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast(
        "bigint"
    )


def _ols_moment_aggs(
    y_outs: tuple[tuple[str, str], ...]
) -> list[Column]:
    """The exact-integer OLS moment aggregate columns over a relation
    carrying ``x`` and the y columns — split out (r19) so
    theil_sen_eval can FUSE them into its per-entity counts aggregate
    (one scan computes counts + all moments) while
    :func:`_ols_slopes_micro` keeps the standalone shape."""
    dec = "decimal(19,0)"
    aggs = [
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
    ]
    for i, (y, _) in enumerate(y_outs):
        aggs.append(F.sum(F.col(y).cast(dec)).alias(f"sy{i}"))
        aggs.append(
            F.sum(F.col("x").cast(dec) * F.col(y).cast(dec)).alias(f"sxy{i}")
        )
    return aggs


def _ols_slopes_from_moments(
    m: DataFrame, y_outs: tuple[tuple[str, str], ...]
) -> DataFrame:
    """Slope derivation over an already-aggregated moment relation
    (the other half of the r19 split; filter + integral division are
    unchanged from the fused original)."""
    return m.filter(
        F.expr("n >= 2 AND n * sxx - sx * sx > 0")
    ).select(
        "e",
        # cents/day = num/den; micro-$/day = num·1e4 div den (toward-
        # zero truncation in both engines, negative-safe)
        *[
            F.expr(
                f"((n * sxy{i} - sx * sy{i}) * 10000)"
                " div (n * sxx - sx * sx)"
            ).alias(out)
            for i, (_, out) in enumerate(y_outs)
        ],
    )


def _ols_slopes_micro(
    base: DataFrame, y_outs: tuple[tuple[str, str], ...]
) -> DataFrame:
    """:func:`_ols_slope_micro` generalized to SEVERAL y columns over
    the same ``(e, d)`` grid in ONE map-side-combined aggregate →
    ``(e, <out_col>...)``: the x-moments (n, Σx, Σxx) — and therefore
    the degenerate-variance filter — are y-independent, so k slopes
    cost one scan and 3 + 2k moments instead of k scans and 5k."""
    withx = base.select(
        "e", _ols_x().alias("x"), *[F.col(y) for y, _ in y_outs]
    )
    m = withx.groupBy("e").agg(*_ols_moment_aggs(y_outs))
    return _ols_slopes_from_moments(m, y_outs)


def theil_sen_eval(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
    contaminate_permille: int = 100,
    spike_factor: int = 10,
) -> DataFrame:
    """The EVAL LOOP on the robust-trend family (the var_backtest
    pattern applied to estimators instead of risk forecasts) →
    ``(entity, n_obs, n_spiked, slope_ts_micro, slope_ols_micro,
    slope_clean_micro, robust_wins)``: deterministically contaminate
    ~``contaminate_permille``/1000 of each entity's ticks (md5-uniform
    hash of (entity, date) — reproducible, engine-identical, no RNG),
    multiply those cent values by ``spike_factor``, then fit BOTH
    estimators on the contaminated series and exact-moment OLS on the
    clean series as the truth proxy. ``robust_wins`` is the verdict:
    |theil_sen − clean| < |ols − clean| — measuring, not asserting,
    the 29%-breakdown robustness claim that justifies shipping the
    O(n²/2) estimator at all.

    All three slopes are exact integers in micro-dollars/day (the
    theil_sen / variance_ratio disciplines), the contamination flag is
    a pure-integer md5 band compare (the train/val/test split rule),
    and the verdict is an integer comparison — nothing floats.

    Scale: ONE eagerly-cached contaminated projection feeds everything
    — the capped theil-sen pair join, the counts/cap probe, and a
    single fused OLS moment pass that derives the clean series back
    out of the cached values by exact integer division (no second
    scan, no second md5 pass). No new shuffle shapes beyond the two
    estimators themselves.
    """
    base = _trend_base(prices, entity_col, date_col, value_col)
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("e"), F.col("d").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    # pure integer band compare (u·1000 < permille·2^32), the
    # split_assignment rule — no float boundary
    spiked = (u * 1000) < F.lit(contaminate_permille * (1 << 32))
    # The contaminated base is localCheckpointed ONCE (lazily — the
    # counts/cap probe is the first action and materializes it, so the
    # eager variant's separate materialization pass is folded into a
    # job that had to run anyway; interleaved A/B had lazy ahead in
    # 2 of 3 alternations): five consumers read it (counts probe, both
    # legs of the pair self-join, and the fused OLS moment pass), and
    # every one would otherwise re-scan the parquet AND recompute the
    # per-row md5 — the r15 profile showed exactly that double-read as
    # the residual cost. The relation is |rows| × 4 narrow columns,
    # far cheaper to hold than the O(n²/2) pair relation (at the
    # 100k-obs cap a pair checkpoint writes ~250 GB; this one stays
    # proportional to the input scan).
    cont = base.select(
        "e",
        "d",
        F.when(spiked, F.col("vc") * spike_factor)
        .otherwise(F.col("vc"))
        .alias("vc"),
        spiked.cast("int").alias("__spiked"),
    ).localCheckpoint(eager=False)
    # ONE fused per-entity aggregate (r19, VERDICT ask #7): counts +
    # pair-cap probe + BOTH OLS legs' moments in a single map-side
    # pass over cont, eagerly checkpointed (a handful of rows). The
    # r18 shape scanned cont three times outside the pair passes —
    # once for the probe, once re-deriving counts in the final join,
    # once for the OLS moment pass; the checkpointed stats relation
    # replaces all three (its build is also the action that
    # materializes cont's lazy checkpoint, exactly the job the probe
    # used to pay). The clean series is recovered from the cached
    # contaminated one by exact integer division (spiked vc =
    # clean_vc · spike_factor by construction, so `div` inverts it
    # losslessly) — no re-scan of the raw base, no second md5 pass.
    clean_vc = F.when(
        F.col("__spiked") == 1, F.expr(f"vc div {int(spike_factor)}")
    ).otherwise(F.col("vc"))
    y_outs = (("vc", "slope_ols_micro"), ("vc_clean", "slope_clean_micro"))
    stats = (
        cont.select(
            "e", _ols_x().alias("x"), "vc",
            clean_vc.alias("vc_clean"), "__spiked",
        )
        .groupBy("e")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("__spiked").cast("bigint").alias("n_spiked"),
            *_ols_moment_aggs(y_outs),
        )
        .localCheckpoint()
    )
    probe = stats.agg(
        F.max("n_obs").alias("m"), F.sum("n_obs").alias("t")
    ).collect()
    max_obs = _check_pair_cap(probe, "theil_sen_eval")
    total_obs = int(probe[0]["t"]) if probe and probe[0]["t"] is not None \
        else 0
    # With cont cached, the pair passes re-derive from the block
    # manager — regeneration is a cache scan, exactly the contract
    # the strategy-selected machinery assumes in both branches.
    ts = _theil_sen_from_base(
        cont.select("e", "d", "vc"), max_obs=max_obs, total_obs=total_obs
    ).select(
        "e", F.col("slope_micro").alias("slope_ts_micro")
    )
    counts = stats.select("e", "n_obs", "n_spiked")
    ols_both = _ols_slopes_from_moments(stats, y_outs)
    return (
        counts.join(ts, "e")
        .join(ols_both, "e")
        .select(
            F.col("e").alias(entity_col),
            "n_obs",
            "n_spiked",
            "slope_ts_micro",
            "slope_ols_micro",
            "slope_clean_micro",
            (
                F.abs(F.col("slope_ts_micro") - F.col("slope_clean_micro"))
                < F.abs(F.col("slope_ols_micro") - F.col("slope_clean_micro"))
            ).alias("robust_wins"),
        )
    )


def runs_test(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Wald-Wolfowitz runs test on the up/down sign sequence of daily
    price changes per entity → ``(entity, n_up, n_down, n_runs,
    runs_excess_ppm)`` — the RANDOMNESS companion to the trend family
    (mann_kendall asks "is there a monotone trend", this asks "is the
    sign sequence random at all": momentum regimes show too FEW runs,
    mean-reversion too MANY, and either breaks the i.i.d. assumption
    the VaR/Sharpe estimators lean on).

    Zero changes (ties) are dropped per the classical test; a run is a
    maximal streak of equal signs, counted as 1 + Σ sign-changes over
    the tie-free sequence. Against the exact null expectation
    ``E[R] = 1 + 2·n_up·n_down / n`` the excess is emitted as a pure
    integer rational: ``runs_excess_ppm = (R·n − n − 2·n_up·n_down) ·
    1e6 div (n + 2·n_up·n_down)`` — negative = momentum (too few
    runs), positive = mean-reversion. Integer end to end: signs
    compare cent-quantized BIGINTs, counts are exact, the ppm is
    integral division (toward-zero both engines).

    Scale: two per-entity windows (the diff lag and the run-boundary
    lag over the tie-free rows) — each one partitioned sort, no pair
    space, no collect. Entities with < 2 tie-free changes or a
    one-sided sequence (n_up·n_down = 0, where the null variance is
    degenerate) are excluded.
    """
    base = _trend_base(prices, entity_col, date_col, value_col)
    w = Window.partitionBy("e").orderBy("d")
    sgn = (
        base.withColumn("dvc", F.col("vc") - F.lag("vc").over(w))
        .filter(F.col("dvc").isNotNull() & (F.col("dvc") != 0))
        .select(
            "e",
            "d",
            F.when(F.col("dvc") > 0, F.lit(1)).otherwise(F.lit(-1)).alias("s"),
        )
    )
    runs = sgn.withColumn(
        "chg",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) == F.col("s")),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    agg = runs.groupBy("e").agg(
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).cast("bigint").alias("n_up"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).cast("bigint").alias("n_down"),
        (F.sum("chg") + F.lit(1)).cast("bigint").alias("n_runs"),
    )
    return (
        agg.filter((F.col("n_up") > 0) & (F.col("n_down") > 0))
        .select(
            F.col("e").alias(entity_col),
            "n_up",
            "n_down",
            "n_runs",
            F.expr(
                "((n_runs * (n_up + n_down) - (n_up + n_down)"
                "  - 2 * n_up * n_down) * 1000000)"
                " div ((n_up + n_down) + 2 * n_up * n_down)"
            ).alias("runs_excess_ppm"),
        )
    )


def turning_points(
    prices: DataFrame,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
    value_col: str = "stock_close",
) -> DataFrame:
    """Turning-points randomness test per entity → ``(entity, n_obs,
    n_turning, turning_excess_ppm)``: count strict local extrema
    (v_{i-1} < v_i > v_{i+1} or v_{i-1} > v_i < v_{i+1}) in the
    date-ordered cent series. Under the i.i.d. null the expectation is
    exactly ``2(n−2)/3`` interior turning points; the excess is the
    pure integer rational ``(3·n_turning − 2(n−2)) · 1e6 div
    (2(n−2))`` — negative = smooth/trending (fewer reversals than
    chance), positive = oscillating. The cheap screen next to
    :func:`runs_test` (one window, lag+lead, no tie-free
    re-sequencing); ties break strictness and simply don't count,
    matching the classical treatment.

    Scale: one per-entity window sort, one aggregate. Entities with
    n < 3 (no interior point) are excluded.
    """
    base = _trend_base(prices, entity_col, date_col, value_col)
    w = Window.partitionBy("e").orderBy("d")
    marked = base.select(
        "e",
        (
            (
                (F.col("vc") > F.lag("vc").over(w))
                & (F.col("vc") > F.lead("vc").over(w))
            )
            | (
                (F.col("vc") < F.lag("vc").over(w))
                & (F.col("vc") < F.lead("vc").over(w))
            )
        ).cast("int").alias("tp"),
    )
    agg = marked.groupBy("e").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("tp").cast("bigint").alias("n_turning"),
    )
    return (
        agg.filter(F.col("n_obs") >= 3)
        .select(
            F.col("e").alias(entity_col),
            "n_obs",
            "n_turning",
            F.expr(
                "((3 * n_turning - 2 * (n_obs - 2)) * 1000000)"
                " div (2 * (n_obs - 2))"
            ).alias("turning_excess_ppm"),
        )
    )


def acf_ppm(
    rets: DataFrame,
    max_lag: int = 10,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
) -> DataFrame:
    """Autocorrelation function at lags 1..``max_lag`` per entity →
    ``(entity, lag, n_pairs, rho_ppm)`` — :func:`autocorr_lag1`'s
    semantics (pair Pearson of (ret_t, ret_{t+k})) extended across the
    horizon: lag-1 answers "is there serial dependence tomorrow", the
    ACF answers "at WHICH horizon does it live" (weekly seasonality
    shows at k=5, slow mean reversion as a long negative tail — the
    shape the variance-ratio test integrates, here resolved per lag).

    All ``max_lag`` lead columns come from ONE window pass over the
    entity partitioning (one sort, not K), stacked to (entity, lag,
    x, y) rows JVM-side and reduced by one map-side-combined moment
    aggregate. Six exact integer ppm moments per (entity, lag); the
    Pearson derives in the autocorr_lag1 pinned association and is
    quantized ONCE to signed ppm (mode-stable ``floor(x·1e6 + 0.5)``
    on a bit-identical double) so downstream reductions over lags
    (:func:`ljung_box`) are exact integer sums — order-free.
    Degenerate (entity, lag) cells (under 2 pairs or a zero-variance
    side) drop, as in autocorr_lag1.
    """
    w = Window.partitionBy(entity_col).orderBy(date_col)
    leads = rets.select(
        entity_col,
        F.col("ret_ppm").alias("x"),
        *[
            F.lead("ret_ppm", k).over(w).alias(f"y{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stacked = leads.select(
        entity_col,
        "x",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).cast("int").alias("lag"),
                    F.col(f"y{k}").alias("y"),
                )
                for k in range(1, max_lag + 1)
            ])
        ).alias("s"),
    ).select(
        entity_col, F.col("s.lag").alias("lag"), "x", F.col("s.y").alias("y")
    ).filter(F.col("y").isNotNull())
    m = stacked.groupBy(entity_col, "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxy, sxx, syy = [F.col(c).cast("double") for c in ("sxy", "sxx", "syy")]
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    rho = (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy))
    return (
        m.filter((F.col("n") >= 2) & (vx > 0) & (vy > 0))
        .select(
            entity_col,
            "lag",
            F.col("n").alias("n_pairs"),
            F.floor(rho * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("rho_ppm"),
        )
    )


def ljung_box(
    rets: DataFrame,
    max_lag: int = 10,
    entity_col: str = "stock_ticker",
    date_col: str = "stock_date",
) -> DataFrame:
    """Ljung-Box portmanteau statistic per entity over the quantized
    ACF → ``(entity, n_obs, n_lags, q_micro)``: Q = n(n+2)·Σ_k
    ρ_k²/(n−k) — the single "is this series white noise AT ALL" gate
    in front of the per-lag ACF (the kruskal_wallis-to-mann_whitney
    relationship, applied to serial dependence). Large Q rejects
    i.i.d., which is exactly the assumption the VaR/Sharpe estimators
    lean on — this is their admission test.

    Integer end to end FROM the quantized ACF: per lag
    ``ρ_ppm² div (n−k)`` is an exact integral division, the lag
    reduction is an exact int64 sum (order-free — the reason acf_ppm
    quantizes), and ``q_micro = (n·(n+2)·Σ) div 1e6`` via one
    DECIMAL(38,0) product (n²·Σ can cross the long boundary). ρ here
    is the pair-Pearson ACF (autocorr_lag1's estimator), so this is
    the Ljung-Box form OVER THAT ESTIMATOR — deterministic and
    documented, matching the engine-wide rule that a statistic's exact
    recurrence is pinned rather than "approximately the textbook".
    Lags that dropped in acf_ppm (degenerate cells) are simply absent
    from the sum; ``n_lags`` records how many contributed.
    """
    acf = acf_ppm(rets, max_lag, entity_col, date_col)
    # no broadcast hint: the per-entity count relation scales with the
    # ENTITY universe (can be 1e8 rows at corpus scale) — AQE converts
    # to broadcast at runtime when it actually fits (the basket_pairs
    # support-join rule)
    n_obs = rets.groupBy(entity_col).agg(F.count(F.lit(1)).alias("n_obs"))
    contrib = acf.join(n_obs, entity_col).select(
        entity_col,
        "n_obs",
        F.expr("(rho_ppm * rho_ppm) div (n_obs - lag)").alias("qc"),
    )
    return (
        contrib.groupBy(entity_col, "n_obs")
        .agg(
            F.count(F.lit(1)).alias("n_lags"),
            F.sum("qc").alias("qsum"),
        )
        .select(
            entity_col,
            "n_obs",
            "n_lags",
            F.expr(
                "(cast(n_obs as decimal(38,0)) * (n_obs + 2) * qsum)"
                " div 1000000"
            ).cast("bigint").alias("q_micro"),
        )
    )
