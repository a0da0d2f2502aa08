"""Seeded inputs for the benchmark.

Two generators, both pure functions of a seed:

- :func:`write_tables` writes the ten star-schema tables the catalog
  queries read (``region`` ... ``embeddings``) as parquet, with the same
  column names, types and value shapes as the project's synthetic test
  tables, at a chosen scale factor.
- :class:`EodFetcher` is an in-process, EODHD-shaped REST fetcher for the
  ETL pipeline: a ticker universe, one exchange symbol list and a price
  random walk over a trading-day calendar that grows one day per
  :meth:`EodFetcher.advance`.

The program under test only ever sees the generated files and the
fetcher's JSON-shaped rows.
"""

from __future__ import annotations

import datetime as dt
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_US = dt.datetime(1970, 1, 1)


def _day_us(d: dt.date) -> int:
    return int((dt.datetime(d.year, d.month, d.day) - _EPOCH_US).total_seconds()) * 10**6


def _random_days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from [lo, hi]."""
    span = (hi - lo).days + 1
    us = _day_us(lo) + rng.integers(0, span, n, dtype=np.int64) * 86_400 * 10**6
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # ~5% near-duplicates: another document's text with " dup" appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup" * int(rng.integers(1, 3))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; same (seed, sf) -> same tables."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    i32, i64 = np.int32, np.int64
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (npart, 2))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=i64),
        "o_custkey": rng.integers(0, nc, no).astype(i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
        "o_orderdate": _random_days(
            rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(i64),
        "l_partkey": rng.integers(0, npart, nl).astype(i64),
        "l_suppkey": rng.integers(0, ns, nl).astype(i64),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _random_days(
            rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
        ),
    })
    ne = n["events"]
    t0 = _day_us(dt.date(2024, 1, 1))
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, ne, dtype=i64))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), ne).astype(i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


class EodFetcher:
    """EODHD-shaped fetcher over a seeded market.

    ``fetcher(kind, entity, from_date)`` follows the program's ``Fetcher``
    contract: ``"stock"`` returns the end-of-day bars of one ticker from
    ``from_date`` up to the current trading day, ``"market"`` the symbol
    list of one exchange (common stocks plus a few ETFs the normalizer
    must drop).
    """

    def __init__(self, seed: int, n_tickers: int, n_days: int,
                 exchange: str = "XBENCH") -> None:
        rng = np.random.default_rng(seed)
        names: set[str] = set()
        while len(names) < n_tickers:
            names.add("".join(rng.choice(list(string.ascii_uppercase), 4)))
        self.tickers = sorted(names)
        self.exchange = exchange
        # trading calendar: weekdays from a seeded start, ~4% holidays
        day = dt.date(2020, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
        days: list[str] = []
        while len(days) < n_days:
            if day.weekday() < 5 and rng.random() >= 0.04:
                days.append(day.isoformat())
            day += dt.timedelta(days=1)
        self.days = days
        start = rng.uniform(20, 400, n_tickers)
        steps = rng.normal(0.0005, 0.02, (n_days, n_tickers))
        close = np.round(start * np.exp(np.cumsum(steps, axis=0)), 2)
        spread = np.round(close * rng.uniform(0.002, 0.03, (n_days, n_tickers)), 2)
        self._bars = {
            t: [
                {
                    "date": days[d],
                    "open": float(np.round(close[d, k] - spread[d, k] / 2, 2)),
                    "high": float(close[d, k] + spread[d, k]),
                    "low": float(np.round(close[d, k] - spread[d, k], 2)),
                    "close": float(close[d, k]),
                    "adjusted_close": float(close[d, k]),
                    "volume": int(rng.integers(10_000, 5_000_000)),
                }
                for d in range(n_days)
            ]
            for k, t in enumerate(self.tickers)
        }
        self.upto = 0  # index of the current (latest published) trading day

    def advance(self) -> str:
        """Publish the next trading day; returns its ISO date."""
        if self.upto + 1 >= len(self.days):
            raise IndexError("trading calendar exhausted")
        self.upto += 1
        return self.days[self.upto]

    def close(self, ticker: str) -> float:
        """Close of ``ticker`` on the current trading day."""
        return self._bars[ticker][self.upto]["close"]

    def symbols(self) -> list[dict]:
        common = [
            {"Code": t, "Name": f"{t} Corp", "Country": "USA",
             "Exchange": self.exchange, "Currency": "USD",
             "Type": "Common Stock", "Isin": f"US{i:010d}"}
            for i, t in enumerate(self.tickers)
        ]
        etfs = [
            {"Code": f"ETF{i}", "Name": f"Index Fund {i}", "Country": "USA",
             "Exchange": self.exchange, "Currency": "USD", "Type": "ETF",
             "Isin": f"USF{i:09d}"}
            for i in range(3)
        ]
        return common + etfs

    def __call__(self, kind: str, entity: str, from_date: str) -> list[dict]:
        if kind == "market":
            return self.symbols() if entity == self.exchange else []
        if kind == "stock":
            last = self.days[self.upto]
            return [
                dict(b) for b in self._bars[entity]
                if from_date <= b["date"] <= last
            ]
        raise ValueError(f"unknown kind: {kind}")

