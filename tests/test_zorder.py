"""Z-order (Morton) keys: interleave_bits against a Python bit-twiddling
reference, and quantize's clamped end cells."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from utn_dataengineering_stockmarketpipeline_spark.functions.zorder import (
    interleave_bits,
    quantize,
)


def _z_ref(vals: tuple[int, ...], bits) -> int:
    """Mirror of interleave_bits: MSB-first round-robin placement."""
    widths = [bits] * len(vals) if isinstance(bits, int) else list(bits)
    out = 0
    pos = sum(widths)
    for i in range(max(widths)):
        for j, v in enumerate(vals):
            if i < widths[j]:
                pos -= 1
                out |= ((v >> (widths[j] - 1 - i)) & 1) << pos
    return out


def test_interleave_matches_reference(spark):
    rows = [(x, y) for x in (0, 1, 5, 255, 4095) for y in (0, 3, 64, 4095)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select(
        "x", "y",
        interleave_bits([F.col("x"), F.col("y")], bits=12).alias("z"),
        interleave_bits([F.col("x"), F.col("y")], bits=[12, 6]).alias("zm"),
    ).collect()
    for r in got:
        assert r["z"] == _z_ref((r["x"], r["y"]), 12), (r["x"], r["y"])
        assert r["zm"] == _z_ref((r["x"], r["y"] % 64), [12, 6])


def test_interleave_rejects_overflow():
    with pytest.raises(ValueError, match="int64"):
        interleave_bits([F.lit(1)] * 4, bits=16)


def test_quantize_bounds(spark):
    df = spark.createDataFrame([(0.0,), (50.0,), (100.0,)], "v double")
    got = [
        r["q"]
        for r in df.select(
            quantize(F.col("v"), 0.0, 100.0, bits=8).alias("q")
        ).collect()
    ]
    assert got[0] == 0 and got[-1] == 255 and 0 < got[1] < 255

