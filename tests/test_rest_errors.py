"""REST source error discrimination (E1) and the ticker-tagged batch
``fetch_stock`` returns."""

from __future__ import annotations

import pytest

from utn_dataengineering_stockmarketpipeline_spark.sources.rest import (
    ApiError,
    fetch_stock,
)


def error_fetcher(kind, entity, from_date):
    if entity == "GHOST":
        return "Ticker Not Found."
    if entity == "NOX":
        return "Exchange Not Found."
    if entity == "EMPTY":
        return None
    return [
        {"date": "2024-01-01", "open": 1.0, "high": 2.0, "low": 0.5,
         "close": 1.5, "adjusted_close": 1.4, "volume": 10}
    ]


def test_api_error_sentinels_raise(spark):
    with pytest.raises(ApiError, match="Ticker Not Found"):
        fetch_stock(spark, error_fetcher, {"GHOST": "1990-01-01"})
    with pytest.raises(ApiError, match="Exchange Not Found"):
        fetch_stock(spark, error_fetcher, {"NOX": "1990-01-01"})


def test_null_payload_is_empty_not_error(spark):
    df = fetch_stock(spark, error_fetcher, {"EMPTY": "1990-01-01"})
    assert df.count() == 0
    assert "close" in df.columns  # schema intact for normalize


def test_fetch_stock_tags_every_ticker(spark):
    """One batch for many tickers: every row arrives tagged with the
    ticker it was fetched for."""
    work = {"AAA": "1990-01-01", "BBB": "1990-01-01", "CCC": "1990-01-01"}
    rows = fetch_stock(spark, error_fetcher, work).collect()
    assert sorted(r["ticker"] for r in rows) == ["AAA", "BBB", "CCC"]
    assert all(r["close"] == 1.5 for r in rows)
