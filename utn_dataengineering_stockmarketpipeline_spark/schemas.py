"""Explicit StructTypes.

The reference declares its warehouse schema twice — SQL DDL
(``DB_manager.py:43-86``) and a pandas→SQLAlchemy dtype map
(``DB_manager.py:112-135``) — and lets pandas *infer* the raw payload
schema (``API_manager.py:147``). Here every boundary has one explicit
StructType; inference is never used (schema-on-read inference is both a
correctness and a performance hazard at 100 TB: a full-file scan just to
guess types).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference warehouse parity (DB_manager.py:43-86) ---------------------

# datawarehouse.stock_prices — DB_manager.py:66-78. Monetary values are
# FLOAT in the reference DDL; we keep DoubleType for oracle parity
# (SURVEY.md §1.2).
STOCK_PRICES = T.StructType(
    [
        T.StructField("stock_date", T.DateType()),
        T.StructField("stock_open", T.DoubleType()),
        T.StructField("stock_high", T.DoubleType()),
        T.StructField("stock_low", T.DoubleType()),
        T.StructField("stock_close", T.DoubleType()),
        T.StructField("stock_volume", T.LongType()),
        T.StructField("stock_ticker", T.StringType()),
        T.StructField("stock_year", T.IntegerType()),
        T.StructField("stock_month", T.IntegerType()),
        T.StructField("stock_day", T.IntegerType()),
        T.StructField("stock_key", T.StringType()),  # PK, DB_manager.py:54,77
    ]
)

# datawarehouse.markets — DB_manager.py:79-86.
MARKETS = T.StructType(
    [
        T.StructField("market_stockid", T.StringType()),  # PK, DB_manager.py:57,80
        T.StructField("market_companyname", T.StringType()),
        T.StructField("market_country", T.StringType()),
        T.StructField("market_exchange", T.StringType()),
        T.StructField("market_currency", T.StringType()),
        T.StructField("market_stockisin", T.StringType()),
    ]
)

# --- raw API payload shapes (pre-transform, API_manager.py:145-199) -------

# eod/{TICKER} JSON rows. adjusted_close / warning may be absent — the
# schema-drift case the reference handles at API_manager.py:164-167.
STOCK_RAW = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("adjusted_close", T.DoubleType()),
        T.StructField("volume", T.LongType()),
        T.StructField("warning", T.StringType()),
    ]
)

# One multi-ticker fetch batch: each eod row tagged with its ticker.
STOCK_RAW_TAGGED = T.StructType(
    [T.StructField("ticker", T.StringType()), *STOCK_RAW.fields]
)

# exchange-symbol-list/{EXCHANGE} JSON rows (API_manager.py:185-197).
MARKET_RAW = T.StructType(
    [
        T.StructField("Code", T.StringType()),
        T.StructField("Name", T.StringType()),
        T.StructField("Country", T.StringType()),
        T.StructField("Exchange", T.StringType()),
        T.StructField("Currency", T.StringType()),
        T.StructField("Type", T.StringType()),
        T.StructField("Isin", T.StringType()),
    ]
)

# --- extension tables (FIXTURES.md §A) -------------------------------------

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

# Multimodal: opaque payload + typed metadata (SURVEY.md §7 phase 5).
MULTIMODAL = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)
