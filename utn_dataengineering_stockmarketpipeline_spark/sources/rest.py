"""REST ingestion source (SURVEY.md §2 S1-S3, E1).

The reference fetches EODHD endpoints with blocking ``requests`` calls in
a single process (``API_manager.py:51-65,119-140``). Here the fetch is a
pluggable callable so tests inject local JSON fixtures (no network).

One ETL cycle is one batch: ``fetch_stock`` calls the fetcher once per
ticker on the driver, validates every payload, and returns a single
frame tagged with ``ticker``; ``fetch_market`` does the same for all
exchanges. That frame enters Spark through ``session.local_df`` as an
Arrow-built ``LocalRelation``: the lake write and both stage writes scan
it without Python-worker tasks. It is one partition, so a cycle writes
one file into each lake leaf it touches. Executor fan-out for large
ticker universes is the Spark 4 DataSource in ``sources/datasource.py``.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import MARKET_RAW, STOCK_RAW_TAGGED
from ..session import local_df

# fetcher(kind, entity, from_date) -> list of JSON row dicts.
Fetcher = Callable[[str, str, str], list[dict[str, Any]]]

# Error sentinels the API returns in-body (API_manager.py:61-65).
_API_ERRORS = ("Exchange Not Found.", "Ticker Not Found.")


class ApiError(RuntimeError):
    """Raised when the API answers with an in-body error sentinel (E1)."""


def _check_payload(payload: Any) -> list[dict[str, Any]]:
    if isinstance(payload, str) and payload in _API_ERRORS:
        raise ApiError(payload)
    if payload is None:
        return []
    return list(payload)


def http_fetcher(base_url: str, api_token: str) -> Fetcher:
    """Production fetcher hitting an EODHD-shaped REST API.

    Mirrors API_manager.py:51-59 (eod/{t}) and :131-140
    (exchange-symbol-list/{m}); the token is never logged (the reference
    redacts it too, API_manager.py:57).
    """

    def fetch(kind: str, entity: str, from_date: str) -> list[dict[str, Any]]:
        import urllib.parse
        import urllib.request

        if kind == "stock":
            path, params = f"eod/{entity}.US", {"from": from_date}
        elif kind == "market":
            path, params = f"exchange-symbol-list/{entity}", {"type": "common_stock"}
        else:
            raise ValueError(f"unknown kind: {kind}")
        params.update({"api_token": api_token, "fmt": "json"})
        url = f"{base_url}/{path}?{urllib.parse.urlencode(params)}"
        with urllib.request.urlopen(url, timeout=60) as resp:  # noqa: S310
            return json.loads(resp.read())

    return fetch


def json_rows_to_df(
    spark: SparkSession, rows: Iterable[dict[str, Any]], schema: T.StructType
) -> DataFrame:
    """S3: materialize a JSON payload as a typed DataFrame.

    Unlike the reference's ``pd.DataFrame.from_dict`` inference
    (API_manager.py:147), the schema is explicit; fields absent from the
    payload surface as nulls (the adjusted_close/warning drift case).
    Like ``from_dict``, a whole-number price (``"open": 100``) or volume
    (``"volume": 12345.0``) is accepted; a lossy or wrong-kind value
    (``1.5`` as a volume, ``"7"`` as a price) raises ``TypeError``
    (both rules are ``session.lossless``, which the DataSource path
    applies too).

    A ``LocalRelation`` scans as ``min(rows, cores)`` partitions, and
    every partition of a lake append writes its own file into each
    ``(year, month)`` leaf it holds rows of: one row per file for a
    few tickers' new day. The narrow ``coalesce(1)`` (no shuffle, no
    extra job) makes it one file per leaf; the rows were fetched in
    this process, so one task loses no parallelism the fetch had.
    """
    names = [f.name for f in schema.fields]
    prepared = [tuple(r.get(n) for n in names) for r in rows]
    return local_df(spark, prepared, schema).coalesce(1)


def fetch_stock(
    spark: SparkSession, fetcher: Fetcher, from_dates: dict[str, str]
) -> DataFrame:
    """S1: incremental EOD prices for every ticker in ``from_dates``
    (ticker -> ``from`` bound), as one ``ticker``-tagged raw frame.

    Payload validation (E1 sentinels, null→empty) happens HERE, not in
    the fetcher, so every fetcher implementation gets it.
    """
    rows = [
        {**r, "ticker": ticker}
        for ticker, from_date in from_dates.items()
        for r in _check_payload(fetcher("stock", ticker, from_date))
    ]
    return json_rows_to_df(spark, rows, STOCK_RAW_TAGGED)


def fetch_market(
    spark: SparkSession, fetcher: Fetcher, exchanges: list[str]
) -> DataFrame:
    """S2: full symbol-list snapshot of every exchange, as one raw frame."""
    rows = [
        r
        for exchange in exchanges
        for r in _check_payload(fetcher("market", exchange, "1990-01-01"))
    ]
    return json_rows_to_df(spark, rows, MARKET_RAW)
