"""End-to-end plan tests (§3.1-§3.3) on a synthetic reference-schema
CSV with an injected anomaly block mirroring the reference's training
data shape (FIXTURES.md §1): round-amount, early-morning anomalies
must out-rank normal rows."""

from __future__ import annotations

import csv
import random

import pytest
from pyspark.sql import functions as F

from financial_anomaly_detection_spark.plans.scoring_plan import (
    score_transactions,
    train_from_csv,
)
from financial_anomaly_detection_spark.sources.readers import read_transactions_csv

N_NORMAL, N_ANOM = 2000, 30


@pytest.fixture(scope="module")
def tx_csv(tmp_path_factory):
    """Synthetic transactions in the reference CSV shape: lognormal
    amounts, business-hour timestamps; anomalies at round amounts
    {5000,10000,20000,50000} in the small hours."""
    rng = random.Random(42)
    path = tmp_path_factory.mktemp("data") / "transactions.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            ["timestamp", "transaction_id", "customer_id", "merchant_id", "amount", "channel", "location"]
        )
        for i in range(N_NORMAL):
            day = 1 + rng.randrange(28)
            hour = 6 + rng.randrange(16)
            amount = round(rng.lognormvariate(5.3, 0.5), 2)
            w.writerow(
                [
                    f"2025-05-{day:02d}T{hour:02d}:{rng.randrange(60):02d}:00Z",
                    str(1000 + i),
                    str(100 + rng.randrange(30)),
                    str(501 + rng.randrange(4)),
                    amount,
                    rng.choice(["pos", "mobile_money", "bank_transfer", "card"]),
                    rng.choice(["Harare", "Bulawayo", "Mutare", "Victoria Falls", "Marondera", "Gweru"]),
                ]
            )
        for i in range(N_ANOM):
            day = 1 + rng.randrange(28)
            w.writerow(
                [
                    f"2025-05-{day:02d}T{rng.randrange(4):02d}:30:00Z",
                    str(90000 + i),
                    str(100 + rng.randrange(30)),
                    str(501 + rng.randrange(4)),
                    rng.choice([5000.0, 10000.0, 20000.0, 50000.0]),
                    "card",
                    rng.choice(["Mutare", "Gweru"]),
                ]
            )
        # edge rows: garbage timestamp, null amount (dropped by P2/P3)
        w.writerow(["not-a-ts", "99998", "100", "501", 10.0, "pos", "Harare"])
        w.writerow(["2025-05-02T10:00:00Z", "99999", "100", "501", "", "pos", "Harare"])
    return str(path)


def test_train_score_end_to_end(spark, tx_csv, tmp_path):
    model_dir = str(tmp_path / "bundle")
    ens = train_from_csv(spark, tx_csv, model_dir, seed=42)

    tx = read_transactions_csv(spark, tx_csv)
    scored = score_transactions(spark, tx, ensemble=ens).cache()

    # P2/P3: the two malformed rows are dropped, everything else scored
    assert scored.count() == N_NORMAL + N_ANOM

    # injected anomalies must out-rank normal rows (§5.2 ranking check):
    # all anomaly ids in the top-scoring slice by aggregated_score
    top = scored.orderBy(F.desc("aggregated_score")).limit(N_ANOM * 3).collect()
    top_ids = {r["transaction_id"] for r in top}
    anom_ids = {str(90000 + i) for i in range(N_ANOM)}
    found = anom_ids & top_ids
    assert len(found) >= N_ANOM * 0.9, f"missed anomalies: {anom_ids - top_ids}"

    # every injected anomaly hits the High bucket (amount >= 10000 forces
    # >= 0.85 via F11; 5000-amount rows ride rules + models)
    high = {
        r["transaction_id"]
        for r in scored.filter(F.col("risk_level") == "High").collect()
    }
    big = {str(90000 + i) for i in range(N_ANOM)}
    assert len(big & high) >= N_ANOM * 0.9

    # bundle round-trip scores identically on a fresh load (S6/M12)
    reloaded = score_transactions(spark, tx, model_dir=model_dir)
    a = scored.orderBy("transaction_id").collect()
    b = reloaded.orderBy("transaction_id").collect()
    assert a == b


def test_train_raises_on_empty_csv(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("timestamp,transaction_id,customer_id,merchant_id,amount,channel,location\n")
    with pytest.raises(ValueError, match="no rows"):
        train_from_csv(spark, str(p), str(tmp_path / "m"))


def test_benchmark_reaches_its_product_names(spark, tx_csv, monkeypatch):
    """perfbench/workloads.py imports these names and instruments these
    methods; a refactor that renames one must fail here, not at
    benchmark time."""
    import importlib

    from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble
    from financial_anomaly_detection_spark.ml.iforest import IsolationForestModel
    from financial_anomaly_detection_spark.ml.lof import LOFNoveltyModel
    from financial_anomaly_detection_spark.ml.reconstruction import ReconstructionScorer
    from financial_anomaly_detection_spark.plans import scoring_plan

    pkg = "financial_anomaly_detection_spark"
    for module, names in {
        "session": ["get_spark"],
        "schemas": ["TRANSACTION_SCHEMA"],
        "operators.partitioning": ["spread_narrow"],
        "operators.profiles": ["customer_profile", "merchant_profile"],
        "plans.scoring_plan": [
            "prepare_transaction_features", "score_transactions", "train_from_csv",
            "with_window_profiles",
        ],
        "sources.readers": ["read_transactions_csv", "read_transactions_json_stream"],
        "sources.sinks": ["write_scores_parquet", "foreach_batch_parquet"],
        "streaming.score_stream": ["build_scoring_stream", "split_valid_invalid"],
    }.items():
        mod = importlib.import_module(f"{pkg}.{module}")
        for name in names:
            assert hasattr(mod, name), f"{module}.{name}"
    for cls, method in (
        (AnomalyEnsemble, "_fit_scorers"),
        (AnomalyEnsemble, "save"),
        (AnomalyEnsemble, "load"),
        (AnomalyEnsemble, "transform"),
        (IsolationForestModel, "fit_pool"),
        (LOFNoveltyModel, "fit_pool"),
        (ReconstructionScorer, "fit"),
    ):
        assert callable(getattr(cls, method)), f"{cls.__name__}.{method}"
    ens = AnomalyEnsemble()
    assert hasattr(ens, "feature_model")
    for scorer, method in ((ens.iforest, "decision_col"), (ens.lof, "decision_col"), (ens.recon, "score_col")):
        assert callable(getattr(scorer, method))

    # The traced run times the window stage by patching the module
    # global; prepare_transaction_features must look it up there.
    tx = read_transactions_csv(spark, tx_csv)
    assert "cust_avg_amount" in scoring_plan.prepare_transaction_features(tx).columns
    monkeypatch.setattr(scoring_plan, "with_window_profiles", lambda df: df)
    assert "cust_avg_amount" not in scoring_plan.prepare_transaction_features(tx).columns
