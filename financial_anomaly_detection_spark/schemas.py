"""Canonical engine schemas.

The reference declares its transaction schema redundantly in four
places (CSV header ``data/train_transactions.csv:1``, pydantic
``python_scoring/app.py:57-79``, and two MySQL table shapes); here it
lives once as an explicit ``StructType``. Production paths never use
``inferSchema``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Reference transaction record (data/train_transactions.csv:1;
# python_scoring/app.py:57-79). Ids stay strings and are validated with
# a digits predicate (app.py:75-79) rather than coerced to ints.
TRANSACTION_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.StringType()),  # parsed via F.try_to_timestamp (coerce->null)
        T.StructField("transaction_id", T.StringType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("merchant_id", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("channel", T.StringType()),
        T.StructField("location", T.StringType()),
    ]
)

# Feature row consumed by the anomaly models — 10 columns
# (python_scoring/train.py:56-57): 8 numeric + 2 categorical.
NUMERIC_FEATURES = [
    "amount",
    "year",
    "month",
    "day_of_week",
    "hour",
    "cust_avg_amount",
    "cust_txn_count",
    "merch_avg_amount",
]
CATEGORICAL_FEATURES = ["channel", "location"]

# Names of the driver's testdata tables.
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
