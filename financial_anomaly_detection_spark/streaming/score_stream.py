"""Structured Streaming serving path (SURVEY.md §2.6 W1-W7, §3.1).

The reference serves one transaction per HTTP request with 3 DB
round-trips each (python_scoring/app.py:239-267); ``/score/batch`` is
a sequential Python loop of singles (app.py:272-280). The engine form
is ONE declarative plan applied to a stream:

    readStream(JSON) -> validity split (W7) -> stream-static profile
    join (J1/J2) -> rule/fusion/risk columns (F7-F13) -> foreachBatch
    sink (S4)

plus ``stateful_user_profiles`` — ``applyInPandasWithState`` keeping
per-user running (sum, count): the incremental form of the 90-day
profile, O(keys) state, no recomputation per batch.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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
    error, and invalid rows flow to a rejects sink instead of raising.
    Every input row lands on exactly one side."""
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
        tx_stream.withColumn("ts", F.try_to_timestamp("timestamp")).withColumn("hour", tf["hour"]),
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


# applyInPandasWithState output/state schemas (module-level so the
# closure stays self-contained — workers never import this package).
_PROFILE_STATE_SCHEMA = "total double, cnt long"
_PROFILE_OUT_SCHEMA = (
    "customer_id string, cust_avg_amount double, cust_txn_count long"
)


def stateful_user_profiles(tx_stream: DataFrame) -> DataFrame:
    """W3 incremental form: per-key running (sum, count) kept in the
    state store via applyInPandasWithState — O(keys) state, each event
    processed once. Emits the updated profile per key per batch.

    The reference recomputes profiles per request with a 90-day SQL
    scan (app.py:121-135); this is the engine-native incremental
    replacement. (Running totals here match the reference's all-history
    fallback when no anchor is given; there is no time-based eviction
    of >90d contributions.)
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, cnt = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            amounts = pd.to_numeric(pdf["amount"], errors="coerce").fillna(0.0)
            total += float(amounts.sum())
            cnt += int(len(pdf))
        state.update((total, cnt))
        yield pd.DataFrame(
            {
                "customer_id": [key[0]],
                "cust_avg_amount": [total / cnt if cnt else 0.0],
                "cust_txn_count": [cnt],
            }
        )

    return tx_stream.groupBy("customer_id").applyInPandasWithState(
        update,
        outputStructType=_PROFILE_OUT_SCHEMA,
        stateStructType=_PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
