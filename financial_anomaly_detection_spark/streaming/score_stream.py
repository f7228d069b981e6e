"""Structured Streaming serving path (SURVEY.md §2.6 W1-W7, §3.1).

The reference serves one transaction per HTTP request with 3 DB
round-trips each (python_scoring/app.py:239-267); ``/score/batch`` is
a sequential Python loop of singles (app.py:272-280). The engine form
is ONE declarative plan applied to a stream:

    readStream(JSON) -> validity split (W7) -> stream-static profile
    join (J1/J2) -> rule/fusion/risk columns (F7-F13) -> foreachBatch
    sink (S4)

The profiles are the 90-day ``customer_profile``/``merchant_profile``
frames (``operators/profiles.py``), joined as static sides; the stream
keeps no operator state of its own.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, functions as F

from ..functions.scoring import (
    deviation_ratio,
    fuse_scores_orchestrator,
    high_amount_override,
    risk_level,
    rule_flags,
    rule_score,
)
from ..functions.timefn import time_features
from ..operators.profiles import with_profiles


def split_valid_invalid(tx: DataFrame) -> Tuple[DataFrame, DataFrame]:
    """W7/P4/P5: the reference rejects records via pydantic validators
    (app.py:69-79) and isolates per-record errors (app.py:272-280).
    Engine form: the rules are one ordered, null-safe list; a row's
    ``error`` is its first broken rule, valid rows are those with no
    error, and invalid rows come back as the second frame, each with its
    ``error``, instead of raising. Every input row lands on exactly one
    side. The batch scoring path (``score_transactions``) and the stream
    both drop the invalid side; no rejects sink exists yet."""
    rules = (
        ("invalid_amount", F.col("amount").isNull() | (F.col("amount") < 0)),
        (
            "invalid_id",
            ~F.coalesce(F.col("transaction_id").cast("string").rlike("^[0-9]+$"), F.lit(False)),
        ),
        ("invalid_timestamp", F.try_to_timestamp("timestamp").isNull()),
    )
    (name, broken), *rest = rules
    error = F.when(broken, name)
    for name, broken in rest:
        error = error.when(broken, name)
    tagged = tx.withColumn("error", error)
    valid = tagged.filter(F.col("error").isNull()).drop("error")
    return valid, tagged.filter(F.col("error").isNotNull())


def build_scoring_stream(
    tx_stream: DataFrame,
    cust_profile: DataFrame,
    merch_profile: DataFrame,
) -> DataFrame:
    """W1: the full scoring tail on a streaming DataFrame.

    ``cust_profile``/``merch_profile`` are static (batch) DataFrames —
    Spark plans a stream-static broadcast join per micro-batch, the
    engine replacement for the per-record profile lookups (J1/J2).
    The model score is the reference's 0.0 placeholder fallback (W6,
    api/utils.py:30-37), served with ``model_version="unavailable"``.
    """
    tf = time_features(F.try_to_timestamp("timestamp"))
    enriched = with_profiles(
        tx_stream.withColumn("hour", tf["hour"]),
        cust_profile,
        merch_profile,
    )
    scored = (
        enriched.withColumn("deviation_score", deviation_ratio("amount", "cust_avg_amount"))
        .withColumn("rule_score", rule_score("amount", "channel", "location", "hour"))
        .withColumn(
            "flags", F.array_join(rule_flags("amount", "channel", "location", "hour"), ",")
        )
        .withColumn(
            "aggregated_score",
            high_amount_override(
                fuse_scores_orchestrator("rule_score", F.lit(0.0), "deviation_score"),
                "amount",
            ),
        )
        .withColumn("risk_level", risk_level("aggregated_score"))
        .withColumn("model_version", F.lit("unavailable"))
    )
    return scored.select(
        "transaction_id",
        "customer_id",
        "merchant_id",
        "amount",
        "deviation_score",
        "rule_score",
        "flags",
        "aggregated_score",
        "risk_level",
        "model_version",
    )
