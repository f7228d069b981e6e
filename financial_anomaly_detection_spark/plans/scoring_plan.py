"""End-to-end batch plans (SURVEY.md §3.2 train, §3.1/§3.3 score).

The reference's ``python train.py --csv …`` pipeline
(python_scoring/train.py:34-103) and its two scoring services
(app.py / api/app.py) re-expressed as two declarative plans over the
canonical transaction schema. Everything before model fit/inference is
pure Catalyst; training collects only bounded samples (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.timefn import time_features
from ..ml.ensemble import AnomalyEnsemble
from ..operators.profiles import with_window_profiles
from ..sources.readers import read_transactions_csv
from ..streaming.score_stream import split_valid_invalid


def prepare_transaction_features(tx: DataFrame) -> DataFrame:
    """§3.2 steps 2-5 (train.py:38-62): coerce-parse timestamp and drop
    failures (P2), drop null amounts (P3), add ``ts`` and the four time
    features (F1-F3), annotate per-customer/merchant whole-group stats
    (J3/A3 window form). Every input column is kept; the ensemble's
    feature pipeline picks its columns by name."""
    # F1, pd.to_datetime(utc=True, errors='coerce'): the session pins UTC,
    # and try_ because Spark 4's ANSI mode makes plain to_timestamp throw
    # on a malformed string.
    ts = F.try_to_timestamp("timestamp")
    tf = time_features(ts)
    parsed = (
        tx.withColumn("ts", ts)
        .na.drop(subset=["ts"])  # P2: errors='coerce' + dropna(ts)
        .na.drop(subset=["amount"])  # P3
        .withColumn("year", tf["year"])
        .withColumn("month", tf["month"])
        .withColumn("day_of_week", tf["day_of_week"])
        .withColumn("hour", tf["hour"])
    )
    return with_window_profiles(parsed)


def train_from_csv(spark: SparkSession, csv_path: str, model_dir: str, seed: int = 42) -> AnomalyEnsemble:
    """§3.2: CSV -> features -> fit the three anomaly models -> save
    bundle. Raises on an empty CSV like the reference (train.py:35-36).
    """
    tx = read_transactions_csv(spark, csv_path)
    if tx.isEmpty():
        raise ValueError(f"no rows in {csv_path}")
    features = prepare_transaction_features(tx)
    ens = AnomalyEnsemble(seed=seed)
    ens.fit(features)
    ens.save(model_dir)
    return ens


def score_transactions(spark: SparkSession, tx: DataFrame, ensemble: AnomalyEnsemble) -> DataFrame:
    """§3.1/§3.3: the POST /score(/batch) plan on a static DataFrame —
    reject, enrich, model-score, fuse, bucket. Rows the reference's
    validators reject (P4/P5, app.py:69-79: negative amounts,
    non-numeric ids) are dropped by the stream's predicate
    (``split_valid_invalid``) before scoring. A saved bundle is loaded
    with ``AnomalyEnsemble.load`` (S6)."""
    valid, _ = split_valid_invalid(tx)
    features = prepare_transaction_features(valid)
    return ensemble.transform(features, id_col="transaction_id")
