"""Custom PySpark DataSource for the EODHD-shaped REST API (SURVEY.md
§2 S1/S2 scale path: "at scale a PySpark DataSource (Spark 4 Python
data source API)").

``spark.read.format("stock_api")`` with one InputPartition per ticker:
the scheduler spreads fetches across executors, so a 10k-ticker
backfill runs at cluster width — versus the reference's sequential
driver loop (``main.py:65-75``). Each partition fetches its ticker's
daily bars and yields typed rows; downstream is the normal transform
layer.

Fetch modes (options):
- ``fixture_dir``: read ``{dir}/{ticker}.json`` — hermetic tests, no
  network (the pluggable-fetcher design of sources/rest.py).
- ``base_url`` + ``api_token``: real HTTP GET
  ``eod/{ticker}.US?from=...&fmt=json`` through ``rest.http_fetcher``
  (API_manager.py:51-59,125).

Either way the payload passes the E1 checks of ``rest._check_payload``,
and every number passes ``session.lossless``, the rule ``rest.fetch_stock``
applies: a whole value widens (``"open": 100`` → 100.0, ``"volume":
12345.0`` → 12345) and a lossy one (``"volume": 1.5``) fails the read,
naming the column, instead of loading truncated.

Options are plain strings (the DataSource contract), so everything the
executor needs travels in them — never a pickled closure.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from ..schemas import STOCK_RAW, STOCK_RAW_TAGGED
from ..session import lossless
from .rest import Fetcher, _check_payload, http_fetcher


def _fixture_fetcher(fixture_dir: str) -> Fetcher:
    """Serve ``{dir}/{ticker}.json`` bodies, applying the API's ``from``
    bound to row payloads; sentinel and null bodies pass through as-is."""

    def fetch(kind: str, entity: str, from_date: str):
        with open(f"{fixture_dir}/{entity}.json") as fh:
            payload = json.load(fh)
        if isinstance(payload, list):
            payload = [r for r in payload if r.get("date", "") >= from_date]
        return payload

    return fetch


class _TickerPartition(InputPartition):
    def __init__(self, ticker: str, from_date: str):
        self.ticker = ticker
        self.from_date = from_date


class StockApiReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options
        self.tickers = [
            t.strip() for t in options.get("tickers", "").split(",") if t.strip()
        ]
        if not self.tickers:
            raise ValueError("stock_api requires option 'tickers' (csv)")
        self.from_date = options.get("from_date", "1990-01-01")

    def partitions(self) -> Sequence[InputPartition]:
        return [_TickerPartition(t, self.from_date) for t in self.tickers]

    def read(self, partition: _TickerPartition) -> Iterator[tuple]:
        fields = STOCK_RAW.fields
        for r in self._fetch(partition.ticker, partition.from_date):
            yield (partition.ticker,
                   *[lossless(f, r.get(f.name)) for f in fields])

    def _fetch(self, ticker: str, from_date: str) -> list[dict]:
        fixture_dir = self.options.get("fixture_dir")
        base = self.options.get("base_url")
        if fixture_dir:
            fetcher = _fixture_fetcher(fixture_dir)
        elif base:
            fetcher = http_fetcher(base, self.options.get("api_token", ""))
        else:
            raise ValueError("stock_api needs 'fixture_dir' or 'base_url'")
        return _check_payload(fetcher("stock", ticker, from_date))


class StockApiDataSource(DataSource):
    """Register once per session:
    ``spark.dataSource.register(StockApiDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "stock_api"

    def schema(self) -> StructType:
        return STOCK_RAW_TAGGED

    def reader(self, schema) -> StockApiReader:
        return StockApiReader(self.options)
