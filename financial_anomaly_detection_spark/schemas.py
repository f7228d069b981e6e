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

# Scored output row (python_scoring/app.py:90-98 ScoreOut, plus the
# orchestrator's deviation_score, api/app.py:64-73).
SCORE_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType()),
        T.StructField("anomaly_score_iforest", T.DoubleType()),
        T.StructField("anomaly_score_lof", T.DoubleType()),
        T.StructField("anomaly_score_ae", T.DoubleType()),
        T.StructField("rule_score", T.DoubleType()),
        T.StructField("deviation_score", T.DoubleType()),
        T.StructField("aggregated_score", T.DoubleType()),
        T.StructField("risk_level", T.StringType()),
        T.StructField("model_version", T.StringType()),
    ]
)

# Driver testdata: events stream table (TESTDATA.md). This is the
# engine's transaction-stream analog: user_id ~ customer_id,
# event_type ~ channel, value ~ amount, props = JSON payload.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# documents / embeddings tables (multimodal + text-pipeline surface).
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
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
FEATURE_COLS = NUMERIC_FEATURES + CATEGORICAL_FEATURES

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
