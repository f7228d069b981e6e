"""Feature preparation pipeline (SURVEY.md §2.7 M1-M3, M11).

The reference's sklearn ``ColumnTransformer`` (python_scoring/
preprocessing.py:13-23) — StandardScaler on 8 numeric columns +
OneHotEncoder(handle_unknown='ignore') on 2 categoricals — re-expressed
as an MLlib ``Pipeline``. Differences documented in SURVEY.md §2.7:

  * sklearn scales with the biased std (ddof=0), MLlib StandardScaler
    with the sample std (ddof=1). We follow MLlib; parity tests use
    rank checks, not value checks, across this boundary.
  * sklearn's ``handle_unknown='ignore'`` encodes an unseen category as
    the zero vector; this pipeline does not. StringIndexer(
    handleInvalid='keep') indexes the n fitted labels ``frequencyDesc``
    (ties alphabetical) and gives unseen and null values the index n;
    OneHotEncoder(handleInvalid='keep', dropLast=True) keeps that slot,
    so each categorical takes n+1 slots and an unseen or null value sets
    the last one. Changing this would change every bundle's feature
    dimension and every score.
  * Only numeric columns are scaled (the ColumnTransformer scales the
    numeric block only): numerics are assembled and scaled first, then
    concatenated with the one-hot vectors.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.feature import (
    OneHotEncoder,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.timefn import time_features
from ..schemas import CATEGORICAL_FEATURES, NUMERIC_FEATURES


def build_feature_pipeline() -> Pipeline:
    """M1-M3: the 10-feature preprocessing pipeline
    (train.py:56-69), MLlib-native, writing the ``features`` column."""
    indexers = [
        StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
        for c in CATEGORICAL_FEATURES
    ]
    ohe = OneHotEncoder(
        inputCols=[f"{c}_idx" for c in CATEGORICAL_FEATURES],
        outputCols=[f"{c}_vec" for c in CATEGORICAL_FEATURES],
        handleInvalid="keep",
        dropLast=True,  # n+1 slots per column: unseen/null set the last (sklearn gives zeros)
    )
    num_assembler = VectorAssembler(
        inputCols=NUMERIC_FEATURES, outputCol="_numeric_raw", handleInvalid="keep"
    )
    scaler = StandardScaler(
        inputCol="_numeric_raw", outputCol="_numeric_scaled", withMean=True, withStd=True
    )
    final_assembler = VectorAssembler(
        inputCols=["_numeric_scaled"] + [f"{c}_vec" for c in CATEGORICAL_FEATURES],
        outputCol="features",
    )
    return Pipeline(stages=indexers + [ohe, num_assembler, scaler, final_assembler])


def prepare_event_features(ev: DataFrame) -> DataFrame:
    """Build the reference's 10-column feature row (train.py:56-57)
    from the events table: amount/value + 4 time features + 3 profile
    features (as-of running stats — the leakage-free J3 analog) + 2
    categoricals (event_type as channel; a derived location bucket).
    """
    from ..operators.prefix import grouped_prefix_stats

    tf = time_features("ts")
    cw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # The merchant-side running mean groups by event_type — a handful
    # of distinct values, so a plain Window.partitionBy(event_type)
    # would funnel the whole fact table through ~5 tasks at any scale.
    # grouped_prefix_stats computes the same exclusive running sum /
    # count with (groups × time-buckets)-way parallelism (float sum
    # re-association differs only in final ulps; this feeds model
    # features, not an oracle hash). The user_id window keeps the
    # plain form: its key cardinality ~ the user population.
    ev = grouped_prefix_stats(
        ev, "event_type", "ts", "event_id", "value",
        sum_col="_merch_sum", cnt_col="_merch_cnt",
    )
    merch_avg = F.when(
        F.col("_merch_cnt") > 0, F.col("_merch_sum") / F.col("_merch_cnt")
    ).otherwise(F.lit(0.0))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("amount"),
        tf["year"].alias("year"),
        tf["month"].alias("month"),
        tf["day_of_week"].alias("day_of_week"),
        tf["hour"].alias("hour"),
        F.coalesce(F.avg("value").over(cw), F.lit(0.0)).alias("cust_avg_amount"),
        F.count(F.lit(1)).over(cw).cast("double").alias("cust_txn_count"),
        merch_avg.alias("merch_avg_amount"),
        F.col("event_type").alias("channel"),
        (F.get_json_object("props", "$.k").cast("long") % 6).cast("string").alias("location"),
    )
