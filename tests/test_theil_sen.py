"""Theil-Sen slope tests: the scale-adaptive strategy split.

_theil_sen_from_base picks one of two physical strategies from the
per-entity max observation count the cap probe already collects
(naive single-level for short series, block-decomposed two-level for
long ones). These tests pin the load-bearing claim: BOTH strategies
emit bit-identical results, and they match a brute-force lower-median
over every pair slope.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F


def _series(spark, n_per_entity=(97, 150, 23, 1, 2), seed=7):
    """Deterministic synthetic (e, d, vc) series: jagged lengths
    including degenerate 1- and 2-obs entities, duplicate values (bucket
    ties), spikes (cross-bucket spread), and a flat entity."""
    rng = random.Random(seed)
    rows = []
    for k, n in enumerate(n_per_entity):
        e = f"T{k}"
        v = 10_000
        for i in range(n):
            d = dt.date(2020, 1, 1) + dt.timedelta(days=i * (k + 1))
            if k == 3:
                vc = 5_000  # single obs
            elif k == 2:
                vc = 7_777  # flat series: all pair slopes exactly 0
            else:
                v += rng.randint(-300, 310)
                vc = v if rng.random() > 0.05 else v * 10  # spikes
            rows.append((e, d, vc))
    return spark.createDataFrame(rows, "e string, d date, vc long")


def _brute_median(rows):
    """Brute-force per-entity lower-median pair slope in micro-$/day
    (ties broken by (slope, di, dj) — the operator's rank order)."""
    by_e = {}
    for e, d, vc in rows:
        by_e.setdefault(e, []).append((d, vc))
    out = {}
    for e, obs in by_e.items():
        obs.sort()
        pairs = []
        for i in range(len(obs)):
            for j in range(i + 1, len(obs)):
                di, vi = obs[i]
                dj, vj = obs[j]
                if di < dj:
                    dd = (dj - di).days
                    pairs.append(((vj - vi) / dd, di, dj, vj - vi, dd))
        if not pairs:
            continue
        pairs.sort(key=lambda p: (p[0], p[1], p[2]))
        sel = pairs[(len(pairs) + 1) // 2 - 1]
        dvc, dd = sel[3], sel[4]
        q, r = divmod(dvc * 10000, dd)
        micro = q if r == 0 or dvc >= 0 else q + 1  # div truncates to zero
        out[e] = (len(pairs), micro)
    return out


def test_theil_sen_strategies_identical_and_brute_forced(spark):
    from utn_dataengineering_stockmarketpipeline_spark.operators import risk

    base = _series(spark)
    rows = [(r["e"], r["d"], r["vc"]) for r in base.collect()]
    naive = {
        r["e"]: (r["n_pairs"], r["slope_micro"])
        for r in risk._theil_sen_from_base(base, max_obs=10).collect()
    }
    blocked = {
        r["e"]: (r["n_pairs"], r["slope_micro"])
        for r in risk._theil_sen_from_base(
            base, max_obs=risk.TS_BLOCK_THRESHOLD + 1
        ).collect()
    }
    assert naive == blocked
    assert naive == _brute_median(rows)


def test_theil_sen_blocked_many_blocks(spark):
    """Force several blocks per entity (n >> blk_sz is impractical in a
    unit test, so shrink via a long single entity relative to the
    512-row block: 1100 obs -> 3 blocks) and pin against brute force."""
    from utn_dataengineering_stockmarketpipeline_spark.operators import risk

    rng = random.Random(11)
    rows, v = [], 50_000
    for i in range(1100):
        v += rng.randint(-40, 42)
        rows.append(("LONG", dt.date(2000, 1, 1) + dt.timedelta(days=i), v))
    base = spark.createDataFrame(rows, "e string, d date, vc long")
    got = {
        r["e"]: (r["n_pairs"], r["slope_micro"])
        for r in risk._theil_sen_from_base(
            base, max_obs=risk.TS_BLOCK_THRESHOLD + 1
        ).collect()
    }
    assert got == _brute_median(rows)


def test_theil_sen_slope_empty_and_single(spark):
    from utn_dataengineering_stockmarketpipeline_spark.operators import risk

    empty = spark.createDataFrame(
        [], "stock_ticker string, stock_date date, stock_close double"
    )
    assert risk.theil_sen_slope(empty).collect() == []
    one = spark.createDataFrame(
        [("A", dt.date(2020, 1, 1), 10.0)],
        "stock_ticker string, stock_date date, stock_close double",
    )
    assert risk.theil_sen_slope(one).collect() == []


def test_theil_sen_eval_clean_recovery(spark):
    """The eval derives the clean series from the cached contaminated
    one by integer division — slope_clean_micro must equal a direct
    OLS fit on the raw base."""
    from utn_dataengineering_stockmarketpipeline_spark.operators import risk

    rng = random.Random(3)
    rows, v = [], 20_000
    for i in range(400):
        v += rng.randint(-25, 27)
        rows.append(
            ("A", dt.date(2021, 1, 1) + dt.timedelta(days=i), v / 100.0)
        )
    prices = spark.createDataFrame(
        rows, "stock_ticker string, stock_date date, stock_close double"
    )
    out = risk.theil_sen_eval(prices).collect()
    assert len(out) == 1
    base = risk._trend_base(
        prices, "stock_ticker", "stock_date", "stock_close"
    )
    direct = risk._ols_slope_micro(base, "s").collect()[0]["s"]
    assert out[0]["slope_clean_micro"] == direct
    assert out[0]["n_spiked"] > 0  # the contamination actually fired
