"""Percentile rule, span arithmetic and the seeded inputs."""

from __future__ import annotations

import pytest

from perfbench import datagen, stats, workloads
from perfbench.tracing import Span, Tracer, self_seconds, union_seconds


def test_p90_needs_ten_samples_beyond_it():
    # nearest rank of p90 over n samples is ceil(0.9 n): n - rank beyond it
    assert stats.percentile([float(i) for i in range(99)], 0.9) is None
    assert stats.percentile([float(i) for i in range(100)], 0.9) == 89.0
    assert stats.percentile([], 0.9) is None


def test_rule_applies_to_any_percentile():
    assert stats.percentile([1.0, 2.0, 3.0], 0.5) is None
    assert stats.percentile([float(i) for i in range(21)], 0.5) == 10.0


def test_union_and_self_time():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    parent = Span(0, "p", 0.0, 10.0, None, 0)
    kids = [Span(1, "c", 1.0, 3.0, 0, 0), Span(2, "c", 2.0, 4.0, 0, 0),
            Span(3, "c", 9.0, 12.0, 0, 0)]
    assert self_seconds(parent, kids) == pytest.approx(6.0)


def test_layer_totals_count_outermost_span_of_a_name():
    t = Tracer()
    with t.span("operators.graph"):
        with t.span("operators.graph"):
            pass
    with t.span("operators.graph"):
        pass
    _, calls, _ = t.layer_totals()["operators.graph"]
    assert calls == 2


def test_tables_depend_only_on_seed():
    a, b = datagen.build_tables(5, 0.001), datagen.build_tables(5, 0.001)
    c = datagen.build_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.table_rows(0.001)["lineitem"]


def test_fetcher_publishes_one_day_per_advance():
    f = datagen.EodFetcher(3, n_tickers=4, n_days=10)
    t = f.tickers[0]
    assert len(f(*("stock", t, "1900-01-01"))) == 1
    day = f.advance()
    bars = f("stock", t, day)
    assert [b["date"] for b in bars] == [day]
    assert bars[0]["close"] == f.close(t)
    assert {r["Type"] for r in f("market", f.exchange, "")} == {"Common Stock", "ETF"}


def test_op_lists_are_seeded_permutations_of_one_multiset():
    ctx = lambda seed: workloads.Context(None, "/unused", seed, 10)  # noqa: E731
    a = workloads.CatalogMix(ctx(1), workloads.ITERATIVE_MIX).ops()
    b = workloads.CatalogMix(ctx(2), workloads.ITERATIVE_MIX).ops()
    assert a == workloads.CatalogMix(ctx(1), workloads.ITERATIVE_MIX).ops()
    assert a != b and sorted(a) == sorted(b)
