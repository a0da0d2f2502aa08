"""The benchmark workloads.

Each is a single closed-loop client: an op starts when the previous one
returns. A workload object has three phases:

- ``setup()``: untimed-by-op work before the first op (the ETL backfill,
  or the warm pass that also collects each catalog query's result for the
  oracle check). It returns the seconds spent inside it on oracle work,
  which the caller keeps out of ``setup_s``.
- ``run(op)``: one timed op; returns ``(latency_s, lookup_s, error)``.
- ``finish()``: checks made after the timed phase; returns a list of
  error strings.

Op lists depend only on the seed and ``--seconds``: a fixed multiset of
ops per workload, in a seeded order, so two seeds do the same work.
"""

from __future__ import annotations

import os
import random
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from . import datagen

# The catalog tables play the part of a fixed dataset: one table seed for
# every run, so --seed changes the op order and not the work. SF is the
# scale (lineitem = 6M x SF rows); the smoke test shrinks it through
# PERFBENCH_SF.
TABLE_SEED = 42
SF = float(os.environ.get("PERFBENCH_SF", "0.01"))

# Catalog queries: name -> median seconds of one warm op, measured on a
# shared 4-core host; used only to size the op list for --seconds.
ITERATIVE_MIX = {
    "ana_kcore_suppliers": 2.0,
    "llm_phash_clusters": 2.3,
    "stream_events_hourly": 1.3,
    "stream_scd2_apply": 3.0,
}

# ETL: tickers in the universe, days backfilled in set-up, the fewest
# timed cycles, and the seconds of one cycle plus its lookup (5.5-6.5 s
# measured on a shared 4-core host).
ETL_TICKERS = 4
ETL_BACKFILL_DAYS = 20
ETL_MIN_CYCLES = 3
ETL_CYCLE_S = 6.5


@dataclass
class Context:
    spark: object
    workdir: str
    seed: int
    seconds: float
    setup_phases: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def setup_phase(self, name: str):
        """Add the block's seconds to ``setup_phases[name]``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases[name] = (
                self.setup_phases.get(name, 0.0) + time.perf_counter() - t0
            )


def _span(tracer):
    """The tracer's span factory, or a no-op one in an untraced run."""
    return tracer.span if tracer else (lambda name: nullcontext())


def repeats(seconds: float, est: dict[str, float]) -> int:
    """How many times each op of a mix runs to fill ``seconds``."""
    return max(1, round(seconds / sum(est.values())))


class CatalogMix:
    """Seeded shuffle of catalog queries; each op is ``build`` + ``count``."""

    def __init__(self, ctx: Context, mix: dict[str, float], tracer=None) -> None:
        self.ctx, self.mix, self.tracer = ctx, mix, tracer
        self.data_dir = os.path.join(ctx.workdir, "tables")
        self.expected: dict[str, int] = {}
        self.errors: list[str] = []

    def ops(self) -> list[str]:
        ops = sorted(self.mix) * repeats(self.ctx.seconds, self.mix)
        random.Random(self.ctx.seed).shuffle(ops)
        return ops

    def setup(self) -> float:
        """Generate tables, then one warm pass that collects each query's
        rows; the DuckDB comparison time is returned, not counted."""
        import duckdb

        from tools.verify_sweep import TABLES, duck_rows, spark_rows
        from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import (
            CATALOG, _load_all,
        )

        with self.ctx.setup_phase("setup.datagen_s"):
            datagen.write_tables(self.data_dir, TABLE_SEED, SF)
            _load_all()
        self.catalog = CATALOG
        oracle_s = 0.0
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{self.data_dir}/{t}.parquet'"
                )
            for name in sorted(self.mix):
                q = CATALOG[name]
                t0 = time.perf_counter()
                with self.ctx.setup_phase("setup.warm_s"):
                    got = spark_rows(q.build(self.ctx.spark, self.data_dir))
                print(f"warm pass: {name} {time.perf_counter() - t0:.2f}s",
                      file=sys.stderr)
                t0 = time.perf_counter()
                want = duck_rows(con, q.oracle)
                oracle_s += time.perf_counter() - t0
                self.expected[name] = len(want)
                if got != want:
                    self.errors.append(
                        f"{name}: result differs from its DuckDB oracle "
                        f"({len(got)} vs {len(want)} rows)"
                    )
        finally:
            con.close()
        return oracle_s

    def checks(self) -> int:
        return len(self.mix)

    def run(self, name: str) -> tuple[float, float | None, str | None]:
        q, span = self.catalog[name], _span(self.tracer)
        t0 = time.perf_counter()
        with span("plans.build"):
            df = q.build(self.ctx.spark, self.data_dir)
        with span("plans.exec"):
            n = df.count()
        dt = time.perf_counter() - t0
        if n != self.expected[name]:
            return dt, None, f"{name}: {n} rows, oracle has {self.expected[name]}"
        return dt, None, None

    def finish(self) -> list[str]:
        return list(self.errors)


class EtlIncremental:
    """The paper's pipeline: each op is one incremental ``run_pipeline``
    cycle (one new trading day per ticker) and a ``get_last_price``."""

    def __init__(self, ctx: Context, tracer=None) -> None:
        self.ctx, self.tracer = ctx, tracer
        self.lake = os.path.join(ctx.workdir, "lake")
        n_ops = max(ETL_MIN_CYCLES, round(ctx.seconds / ETL_CYCLE_S))
        self.n_ops = n_ops
        self.fetcher = datagen.EodFetcher(
            ctx.seed, ETL_TICKERS, ETL_BACKFILL_DAYS + n_ops
        )
        self.days_loaded = 0
        self.errors: list[str] = []

    def ops(self) -> list[str]:
        rng = random.Random(self.ctx.seed)
        return [rng.choice(self.fetcher.tickers) for _ in range(self.n_ops)]

    def _cycle(self) -> str | None:
        from utn_dataengineering_stockmarketpipeline_spark import pipeline

        f = self.fetcher
        r = pipeline.run_pipeline(
            self.ctx.spark, f, f.tickers, [f.exchange], self.lake
        )
        first = self.days_loaded == 0
        want = len(f.tickers) * (f.upto + 1 - self.days_loaded)
        self.days_loaded = f.upto + 1
        got = (r.fetched["stock_prices"], r.staged["stock_prices"],
               r.committed["stock_prices"])
        if got != (want, want, want):
            return (f"cycle to {f.days[f.upto]}: fetched/staged/committed "
                    f"{got}, want {want}")
        # the symbol list is a full snapshot: new keys on the first load only
        want_markets = len(f.tickers) if first else 0
        if r.committed["markets"] != want_markets:
            return (f"cycle to {f.days[f.upto]}: {r.committed['markets']} "
                    f"markets committed, want {want_markets}")
        return None

    def setup(self) -> float:
        self.fetcher.upto = ETL_BACKFILL_DAYS - 1
        with self.ctx.setup_phase("setup.backfill_s"):
            err = self._cycle()
        if err:
            self.errors.append(err)
        return 0.0

    def checks(self) -> int:
        return 2  # the backfill and the final key check

    def run(self, ticker: str) -> tuple[float, float | None, str | None]:
        from utn_dataengineering_stockmarketpipeline_spark import pipeline

        self.fetcher.advance()
        t0 = time.perf_counter()
        err = self._cycle()
        t1 = time.perf_counter()
        with _span(self.tracer)("pipeline.get_last_price"):
            rows = pipeline.get_last_price(self.ctx.spark, ticker).collect()
        t2 = time.perf_counter()
        want = self.fetcher.close(ticker)
        if err is None and (len(rows) != 1 or rows[0]["stock_close"] != want):
            err = f"get_last_price({ticker}) = {rows}, want close {want}"
        return t1 - t0, t2 - t1, err

    def finish(self) -> list[str]:
        from pyspark.sql import functions as F

        fact = self.ctx.spark.table("`datawarehouse`.`stock_prices`")
        row = fact.agg(
            F.count("*").alias("n"),
            F.countDistinct("stock_key").alias("keys"),
        ).first()
        want = len(self.fetcher.tickers) * self.days_loaded
        errors = list(self.errors)
        if (row["n"], row["keys"]) != (want, want):
            errors.append(
                f"warehouse holds {row['n']} rows / {row['keys']} keys, want {want}"
            )
        return errors


def make(name: str, ctx: Context, tracer=None):
    if name == "etl_incremental":
        return EtlIncremental(ctx, tracer)
    if name == "iterative_mix":
        return CatalogMix(ctx, ITERATIVE_MIX, tracer)
    raise ValueError(f"unknown workload: {name}")
