"""Profile aggregation + enrichment joins (SURVEY.md §2.3 J1-J3, §2.4 A1-A3).

The reference computes per-customer / per-merchant 90-day profiles
with N+1 per-record SQL point lookups (python_scoring/app.py:116-151
— 3-4 MySQL round-trips per transaction). The engine-native form is a
grouped aggregation over the history table joined back to the fact
rows — one shuffle for the aggregation, then a broadcast hash join
(the profile side is keys × a few columns; tiny relative to facts at
every scale, so it always broadcasts and never reshuffles the facts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.timefn import lookback_filter

# The reference serves COUNT(*)/90.0 as "frequency per day"
# (python_scoring/app.py:122).
PROFILE_WINDOW_DAYS = 90


def customer_profile(history: DataFrame, anchor: str) -> DataFrame:
    """A1 — per-customer avg amount + per-day frequency over the
    ``PROFILE_WINDOW_DAYS`` lookback before ``anchor``
    (python_scoring/app.py:121-128). The anchor stands in for the
    reference's ``NOW()`` and is pinned so replays are deterministic
    (W2)."""
    return (
        history.filter(lookback_filter("timestamp", anchor, PROFILE_WINDOW_DAYS))
        .groupBy("customer_id")
        .agg(
            F.avg("amount").alias("cust_avg_amount"),
            (F.count(F.lit(1)) / F.lit(float(PROFILE_WINDOW_DAYS))).alias("cust_txn_count"),
        )
    )


def merchant_profile(history: DataFrame, anchor: str) -> DataFrame:
    """A2 — per-merchant avg amount over the lookback window
    (python_scoring/app.py:131-137)."""
    return (
        history.filter(lookback_filter("timestamp", anchor, PROFILE_WINDOW_DAYS))
        .groupBy("merchant_id")
        .agg(F.avg("amount").alias("merch_avg_amount"))
    )


def with_profiles(
    tx: DataFrame, cust_profile: DataFrame, merch_profile: DataFrame
) -> DataFrame:
    """J1 + J2 — left-join both profiles onto the fact rows, defaulting
    absent profiles to 0.0 (python_scoring/app.py:127-137 fallback).

    Both profiles are broadcast: they are bounded by key cardinality,
    facts are not, so the fact side is never reshuffled.

    Each side is broadcast from ``coalesce(1)``. A profile out of a
    ``groupBy`` has ``spark.sql.shuffle.partitions`` partitions, and a
    stream re-runs both broadcasts every micro-batch: without the
    coalesce, each batch runs two jobs of one task per partition to
    re-read a few thousand cached rows. The coalesce is narrow, so a
    cached profile is read from its cached blocks; an uncached one would
    compute its final aggregate in one task per batch, so callers cache
    their profiles.
    """
    out = tx.join(F.broadcast(cust_profile.coalesce(1)), on="customer_id", how="left").join(
        F.broadcast(merch_profile.coalesce(1)), on="merchant_id", how="left"
    )
    return out.na.fill(
        0.0, subset=["cust_avg_amount", "cust_txn_count", "merch_avg_amount"]
    )


def with_window_profiles(tx: DataFrame) -> DataFrame:
    """J3/A3 — the training path's pandas
    ``groupby(key)[amount].transform('mean'/'count')`` (train.py:47-53):
    every row annotated with its whole-group aggregate. Window form —
    one shuffle per partition key, no join."""
    cw = Window.partitionBy("customer_id")
    mw = Window.partitionBy("merchant_id")
    return (
        tx.withColumn("cust_avg_amount", F.avg("amount").over(cw))
        .withColumn("cust_txn_count", F.count(F.lit(1)).over(cw).cast("double"))
        .withColumn("merch_avg_amount", F.avg("amount").over(mw))
    )

