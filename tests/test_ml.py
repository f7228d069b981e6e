"""ML estimator tests (SURVEY.md §5.2 "ML sanity tests"): ranking
quality on planted anomalies, determinism under seed, save/load
roundtrip — not exact-value parity with sklearn (impossible without
cloning its RNG; see SURVEY.md §7)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble
from financial_anomaly_detection_spark.ml.features import build_feature_pipeline, prepare_event_features
from financial_anomaly_detection_spark.ml.iforest import IsolationForestModel
from financial_anomaly_detection_spark.ml.lof import LOFNoveltyModel
from financial_anomaly_detection_spark.ml.reconstruction import ReconstructionScorer
from financial_anomaly_detection_spark.schemas import CATEGORICAL_FEATURES, NUMERIC_FEATURES
from financial_anomaly_detection_spark.sources.readers import load_table

N_NORMAL, N_ANOM, DIM = 600, 6, 8


@pytest.fixture(scope="module")
def planted(spark):
    """Gaussian blob + far-out planted anomalies, as an array column."""
    rng = np.random.default_rng(7)
    normal = rng.normal(0.0, 1.0, size=(N_NORMAL, DIM))
    anom = rng.normal(8.0, 0.5, size=(N_ANOM, DIM))
    rows = [
        (i, [float(x) for x in v], i >= N_NORMAL)
        for i, v in enumerate(np.vstack([normal, anom]))
    ]
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
            T.StructField("is_anomaly", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema).cache()


def _top_ids(df, score_col, n):
    return {r["id"] for r in df.orderBy(F.desc(score_col)).limit(n).collect()}


def test_iforest_ranks_planted_anomalies(spark, planted):
    model = IsolationForestModel(n_estimators=100, seed=42).fit(planted, "vec")
    scored = planted.withColumn("s", model.score_col(planted, "vec"))
    top = _top_ids(scored, "s", N_ANOM)
    assert top == set(range(N_NORMAL, N_NORMAL + N_ANOM))


def test_iforest_deterministic(spark, planted):
    m1 = IsolationForestModel(n_estimators=50, seed=42).fit(planted, "vec")
    m2 = IsolationForestModel(n_estimators=50, seed=42).fit(planted, "vec")
    s1 = [r["s"] for r in planted.withColumn("s", m1.score_col(planted, "vec")).orderBy("id").collect()]
    s2 = [r["s"] for r in planted.withColumn("s", m2.score_col(planted, "vec")).orderBy("id").collect()]
    assert s1 == s2


def test_lof_ranks_planted_anomalies(spark, planted):
    model = LOFNoveltyModel(n_neighbors=20, seed=42).fit(planted, "vec")
    scored = planted.withColumn("s", model.lof_col(planted, "vec"))
    top = _top_ids(scored, "s", N_ANOM)
    assert top == set(range(N_NORMAL, N_NORMAL + N_ANOM))
    # inliers sit near LOF ~= 1
    med = scored.filter(~F.col("is_anomaly")).select(
        F.expr("percentile(s, 0.5)").alias("m")
    ).first()["m"]
    assert 0.9 < med < 1.2


def test_reconstruction_ranks_planted_anomalies(spark, planted):
    # rank-2 structure + off-plane anomalies, at a small and a large d;
    # both run mse_col's one Arrow kernel, which must equal the numpy
    # residual formula
    for dim in (DIM, 64):
        rng = np.random.default_rng(11)
        basis = rng.normal(size=(2, dim))
        coords = rng.normal(size=(N_NORMAL, 2))
        normal = coords @ basis
        anom = rng.normal(size=(N_ANOM, dim)) * 6.0
        rows = [
            (i, [float(x) for x in v]) for i, v in enumerate(np.vstack([normal, anom]))
        ]
        df = spark.createDataFrame(rows, "id long, vec array<double>")
        model = ReconstructionScorer(k=2).fit(df, "vec")
        scored = df.withColumn("s", model.mse_col(df, "vec"))
        top = _top_ids(scored, "s", N_ANOM)
        assert top == set(range(N_NORMAL, N_NORMAL + N_ANOM)), dim
        assert model.threshold is not None and model.threshold >= 0
        got = np.array([r["s"] for r in scored.orderBy("id").collect()])
        C = np.vstack([normal, anom]) - model.mean
        want = np.maximum((C * C).sum(axis=1) - ((C @ model.components) ** 2).sum(axis=1), 0.0) / dim
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-12, err_msg=str(dim))


def test_ensemble_end_to_end_and_roundtrip(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    features = prepare_event_features(ev)
    ens = AnomalyEnsemble(seed=42, rule_large_amount=150.0, high_risk_amount=300.0)
    ens.fit(features)
    out = ens.transform(features).cache()
    n = out.count()
    assert n == ev.count()
    row = out.first()
    assert set(out.columns) == {
        "event_id",
        "anomaly_score_iforest",
        "anomaly_score_lof",
        "anomaly_score_ae",
        "rule_score",
        "aggregated_score",
        "risk_level",
        "model_version",
    }
    levels = {r["risk_level"] for r in out.select("risk_level").distinct().collect()}
    assert levels <= {"Low", "Medium", "High"}
    # ae score is clip01'd (F9)
    mm = out.select(F.min("anomaly_score_ae"), F.max("anomaly_score_ae")).first()
    assert mm[0] >= 0.0 and mm[1] <= 1.0

    # save/load roundtrip reproduces scores exactly (M12/S6/S7)
    path = str(tmp_path / "bundle")
    ens.save(path)
    loaded = AnomalyEnsemble.load(spark, path)
    a = out.orderBy("event_id").collect()
    b = loaded.transform(features).orderBy("event_id").collect()
    assert a == b


def test_feature_encoding_keeps_a_last_slot_for_unseen_and_null_categories(spark):
    """Each categorical encodes to labels+1 slots: known labels in
    ``frequencyDesc`` order (ties alphabetical), then one slot that an
    unseen or null value sets. sklearn's ``handle_unknown='ignore'``
    gives such a value the zero vector instead."""
    channels = ["pos"] * 5 + ["card"] * 3 + ["mobile_money"] * 2 + ["bank_transfer"] * 2
    cities = ["Harare", "Gweru", "Mutare", "Bulawayo", "Marondera", "Victoria Falls"] * 2
    schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in NUMERIC_FEATURES]
        + [T.StructField(c, T.StringType()) for c in CATEGORICAL_FEATURES]
    )

    def frame(pairs):
        rows = [
            (i, float(i), 2024.0, 5.0, float(i % 7), float(i % 24), 10.0 + i, 1.0, 20.0 - i, ch, city)
            for i, (ch, city) in enumerate(pairs)
        ]
        return spark.createDataFrame(rows, schema)

    model = build_feature_pipeline().fit(frame(zip(channels, cities)))
    channel_labels, city_labels = model.stages[0].labels, model.stages[1].labels
    assert channel_labels == ["pos", "card", "bank_transfer", "mobile_money"]
    assert city_labels == sorted(set(cities))

    probe = frame([("card", "Gweru"), ("crypto", "Lusaka"), (None, None)])
    rows = {r["id"]: r["features"].toArray() for r in model.transform(probe).collect()}
    n_num, n_ch, n_city = len(NUMERIC_FEATURES), len(channel_labels) + 1, len(city_labels) + 1
    assert all(len(v) == n_num + n_ch + n_city == 20 for v in rows.values())

    def hot(v):
        ch, city = v[n_num:n_num + n_ch], v[n_num + n_ch:]
        return list(np.flatnonzero(ch)), list(np.flatnonzero(city))

    assert hot(rows[0]) == ([channel_labels.index("card")], [city_labels.index("Gweru")])
    assert hot(rows[1]) == ([n_ch - 1], [n_city - 1])
    assert hot(rows[2]) == ([n_ch - 1], [n_city - 1])


def test_autoencoder_ranks_planted_anomalies(spark):
    """M8 option (b): the faithful nonlinear AE learns low-dim structure
    and flags off-manifold points; deterministic under the seed."""
    from financial_anomaly_detection_spark.ml.autoencoder import AutoencoderScorer

    rng = np.random.default_rng(13)
    basis = rng.normal(size=(2, DIM))
    normal = rng.normal(size=(800, 2)) @ basis
    # constant offset keeps every anomaly decisively off the rank-2
    # plane (which passes through the origin)
    anom = rng.normal(size=(N_ANOM, DIM)) * 2.0 + 10.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([normal, anom]))]
    df = spark.createDataFrame(rows, "id long, vec array<double>").cache()

    model = AutoencoderScorer(hidden=(16, 2, 16), epochs=30, seed=42).fit(df, "vec")
    scored = df.withColumn("s", model.mse_col(df, "vec"))
    top = _top_ids(scored, "s", N_ANOM)
    assert top == set(range(800, 800 + N_ANOM))
    assert model.threshold is not None and model.threshold >= 0

    # deterministic refit
    model2 = AutoencoderScorer(hidden=(16, 2, 16), epochs=30, seed=42).fit(df, "vec")
    s1 = [r["s"] for r in scored.orderBy("id").collect()]
    s2 = [
        r["s"]
        for r in df.withColumn("s", model2.mse_col(df, "vec")).orderBy("id").collect()
    ]
    assert s1 == s2
    # clip01 contract on the serving score (F9)
    mm = df.select(
        F.min(model.score_col(df, "vec")), F.max(model.score_col(df, "vec"))
    ).first()
    assert mm[0] >= 0.0 and mm[1] <= 1.0


def test_load_rejects_unknown_ae_variant(tmp_path):
    """A bundle whose meta.json names another autoencoder variant must
    fail with a ValueError naming it, not a KeyError on a missing blob."""
    import json

    (tmp_path / "meta.json").write_text(json.dumps({"ae_variant": "mlp", "seed": 42}))
    with pytest.raises(ValueError, match="'mlp'"):
        AnomalyEnsemble.load(None, str(tmp_path))


def _seeded_sample(df, col, n, seed):
    """The bounded-sample contract, spelled out in plain Spark."""
    frac = n * 1.2 / df.count()
    rows = df.select(col).sample(fraction=frac, seed=seed).limit(n).collect()
    return np.array([r[col] for r in rows], dtype=np.float64)


def test_collect_sample_matches_seeded_sample_limit(spark, planted):
    from financial_anomaly_detection_spark.ml.sampling import collect_sample

    want = _seeded_sample(planted, "vec", 100, 7)
    got = collect_sample(planted, "vec", 100, 7)
    assert want.shape[0] > 0
    assert np.array_equal(got, want)


def test_lof_fit_equals_fit_pool_on_sample(spark, planted):
    a = LOFNoveltyModel(max_train=200, seed=3).fit(planted, "vec")
    b = LOFNoveltyModel(max_train=200, seed=3).fit_pool(_seeded_sample(planted, "vec", 200, 3))
    assert np.array_equal(a.X_train, b.X_train)
    assert np.array_equal(a.kdist_train, b.kdist_train)
    assert np.array_equal(a.lrd_train, b.lrd_train)


def test_ensemble_fit_transform_equals_fit_then_transform(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    features = prepare_event_features(ev).cache()
    kw = dict(seed=42, rule_large_amount=150.0, high_risk_amount=300.0)
    a = AnomalyEnsemble(**kw).fit_transform(features).orderBy("event_id").collect()
    b = AnomalyEnsemble(**kw).fit(features).transform(features).orderBy("event_id").collect()
    assert len(a) == ev.count()
    assert a == b


@pytest.mark.parametrize(
    "scorer, n_rows",
    [
        (IsolationForestModel, 0),
        (IsolationForestModel, 1),
        (ReconstructionScorer, 0),
        (LOFNoveltyModel, 0),
        (LOFNoveltyModel, 1),
    ],
)
def test_fit_on_too_few_rows_raises(spark, scorer, n_rows):
    """Fitting on too few rows must fail with a ValueError naming the
    scorer, not with an opaque numpy error from inside the fit."""
    df = spark.createDataFrame([([1.0, 2.0],)] * n_rows, "features array<double>")
    with pytest.raises(ValueError, match=f"{scorer.__name__}.fit"):
        scorer().fit(df, "features")


def test_distributed_lof_bounded_fanout_at_10x(spark):
    """10x the original planted-anomaly scale, clustered geometry: the
    sample-estimated distance cutoff must be finite (cross-cluster
    pairs are pruned), and distributed_lof must still surface the
    planted isolated anomalies, which re-attach with lof=+Infinity
    instead of being dropped by the cutoff."""
    import numpy as np

    from financial_anomaly_detection_spark.ml.lof_distributed import (
        distributed_lof,
        estimate_distance_cutoff,
    )

    rng = np.random.default_rng(7)
    n_clusters, per_cluster, dim = 20, 200, 6
    centers = rng.uniform(-50.0, 50.0, size=(n_clusters, dim))
    blobs = [
        c + rng.normal(0.0, 0.5, size=(per_cluster, dim)) for c in centers
    ]
    X = np.vstack(blobs)  # 4000 normal rows
    # 10 isolated anomalies, each verified far from every cluster center
    anom = rng.uniform(-50.0, 50.0, size=(10, dim))
    while True:
        d = np.sqrt(((anom[:, None, :] - centers[None, :, :]) ** 2).sum(-1))
        bad = d.min(axis=1) < 25.0
        if not bad.any():
            break
        anom[bad] = rng.uniform(-50.0, 50.0, size=(int(bad.sum()), dim))
    n = len(X) + len(anom)
    rows = [
        (i, [float(v) for v in x]) for i, x in enumerate(np.vstack([X, anom]))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()

    cutoff = estimate_distance_cutoff(df, "embedding", n_neighbors=15)
    assert np.isfinite(cutoff)

    scored = distributed_lof(df, "vec_id", "embedding", n_neighbors=15, bucket_length=4.0)
    assert scored.count() == n  # nothing silently dropped
    top = {r["vec_id"] for r in scored.orderBy(F.desc("lof")).limit(10).collect()}
    assert top == set(range(len(X), n))


def test_exact_quantized_lof_agrees_with_distributed(spark, sf_dir):
    """The hash-parity verification tier (lof_exact_quantized) and the
    LSH scale tier (distributed_lof) rank the same vectors as most
    outlying — ties the oracle-checked math to the 100 TB path."""
    from financial_anomaly_detection_spark.ml.lof_distributed import distributed_lof
    from financial_anomaly_detection_spark.queries import REGISTRY
    from financial_anomaly_detection_spark.sources.readers import load_table

    exact = REGISTRY["lof_exact_quantized"].fn(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    approx = distributed_lof(emb, "vec_id", "embedding", n_neighbors=20)

    top_exact = {r["vec_id"] for r in exact.orderBy(F.desc("lof")).limit(20).collect()}
    top_approx = {r["vec_id"] for r in approx.orderBy(F.desc("lof")).limit(20).collect()}
    overlap = len(top_exact & top_approx)
    assert overlap >= 8, f"exact vs distributed top-20 overlap only {overlap}"


# ---------------------------------------------------------------------------
# Implementation-independent numpy cross-checks for the r8 evaluation
# family (VERDICT r8 task 3, pattern: the r6 hypothesis cross-check of
# exact-moment correlation vs numpy). The DuckDB oracles restate the
# engine's integer-identity formulas, so a hash match proves
# cross-engine determinism, not that the formula is the textbook one.
# These recompute each metric a DIFFERENT way — row-level numpy over
# the raw parquet (midrank rank-sum for AUC, float binning for ECE,
# boolean-mask counting for P/R) — and would fail if the FORMULA were
# wrong even with both engines agreeing.
# ---------------------------------------------------------------------------


def _events_label_score(sf_dir):
    """The eval fixture's (label, score) pairs derived independently of
    the engine: pandas/numpy straight off the parquet. Mirrors the
    fixture DEFINITION (cents >= 20000 label; graded value + error-type
    + night-hour score), not the engine's aggregation identities."""
    import os

    import pandas as pd

    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["value", "event_type", "ts"],
    )
    cents = np.floor(ev["value"].to_numpy(dtype="float64") * 100 + 0.5).astype(
        "int64"
    )
    # unit-proof epoch micros: normalize to ns first (testdata has
    # shipped both TIMESTAMP(NANOS) and timestamp[us] across rounds)
    epoch_us = ev["ts"].to_numpy().astype("datetime64[ns]").astype("int64") // 1000
    hour = (epoch_us // 3_600_000_000) % 24
    label = (cents >= 20000).astype("int64")
    score = (
        np.minimum(cents // 5000, 8)
        + (ev["event_type"].to_numpy() == "error").astype("int64") * 2
        + (hour < 6).astype("int64")
    )
    return label, score


def _numpy_midrank_auc(label, score):
    """Textbook tie-aware AUC: average ranks via unique+cumsum, then
    the Mann-Whitney U relation — a different computation path from
    the query's score-grid cumulative-window identity."""
    uniq, inv, cnt = np.unique(score, return_inverse=True, return_counts=True)
    start = np.cumsum(cnt) - cnt
    midrank = start + (cnt + 1) / 2.0  # 1-based average rank per group
    ranks = midrank[inv]
    n1 = int(label.sum())
    n0 = len(label) - n1
    return (ranks[label == 1].sum() - n1 * (n1 + 1) / 2.0) / (n1 * n0)


def test_numpy_midrank_auc_hand_computed():
    """Pin the numpy reference itself to a hand-counted 4-point case:
    scores [0,1,1,2], labels [0,0,1,1] -> pairs (1,0)=win, (1,1)=tie,
    (2,0)=win, (2,1)=win -> AUC = (1 + 0.5 + 1 + 1)/4 = 0.875."""
    auc = _numpy_midrank_auc(
        np.array([0, 0, 1, 1]), np.array([0, 1, 1, 2])
    )
    assert abs(auc - 0.875) < 1e-12


def test_roc_auc_exact_matches_numpy_ranksum(spark, sf_dir):
    from financial_anomaly_detection_spark.queries import REGISTRY

    row = REGISTRY["roc_auc_exact"].fn(spark, sf_dir).collect()[0]
    label, score = _events_label_score(sf_dir)
    auc = _numpy_midrank_auc(label, score)
    n1 = int(label.sum())
    assert row["n_pos"] == n1
    assert row["n_neg"] == len(label) - n1
    # sround is floor-based at 6 decimals -> error strictly < 1e-6
    assert abs(row["auc"] - auc) < 1.5e-6, (row["auc"], auc)
    assert abs(row["gini"] - (2 * auc - 1)) < 3e-6, (row["gini"], auc)


def test_calibration_ece_matches_numpy_binning(spark, sf_dir):
    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = REGISTRY["calibration_ece_bins"].fn(spark, sf_dir).collect()
    label, score = _events_label_score(sf_dir)
    n = len(label)
    ece = 0.0
    by_score = {}
    for s in np.unique(score):
        mask = score == s
        cnt = int(mask.sum())
        pos = int(label[mask].sum())
        obs, pred = pos / cnt, s / 11.0
        ece += (cnt / n) * abs(obs - pred)
        by_score[int(s)] = (cnt, pos, obs, pred)
    assert len(rows) == len(by_score)
    for r in rows:
        cnt, pos, obs, pred = by_score[r["score"]]
        assert (r["cnt"], r["pos"]) == (cnt, pos)
        assert abs(r["obs_rate"] - obs) < 1.5e-6
        assert abs(r["pred_rate"] - pred) < 1.5e-6
        assert abs(r["ece"] - ece) < 1.5e-6, (r["ece"], ece)


def test_threshold_sweep_pr_matches_direct_counting(spark, sf_dir):
    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = REGISTRY["threshold_sweep_pr"].fn(spark, sf_dir).collect()
    label, score = _events_label_score(sf_dir)
    assert len(rows) > 0
    seen = set()
    for r in rows:
        t = r["threshold"]
        seen.add(t)
        tp = int(((score >= t) & (label == 1)).sum())
        fp = int(((score >= t) & (label == 0)).sum())
        fn = int(((score < t) & (label == 1)).sum())
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn), (t, r)
        assert abs(r["precision_"] - tp / (tp + fp)) < 1.5e-6
        assert abs(r["recall_"] - tp / (tp + fn)) < 1.5e-6
        assert abs(r["f1"] - 2 * tp / (2 * tp + fp + fn)) < 1.5e-6
    # every distinct score value with a nonzero-denominator row appears
    expect = {
        int(t)
        for t in np.unique(score)
        if ((score >= t) & (label == 1)).sum() + ((score >= t) & (label == 0)).sum() > 0
        and label.sum() > 0
    }
    assert seen == expect, (sorted(seen), sorted(expect))


# --- round-9 additions: numpy cross-checks for the new eval/stats ---------


def test_wasserstein_drift_matches_numpy_ecdf_integral(spark, sf_dir):
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    row = REGISTRY["wasserstein_value_drift"].fn(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"), columns=["value", "ts"]
    )
    cents = np.floor(ev["value"].to_numpy(dtype="float64") * 100 + 0.5).astype(
        "int64"
    )
    cut = np.datetime64("2024-01-16T00:00:00")
    is_ref = ev["ts"].to_numpy().astype("datetime64[ns]") < cut
    ref, cur = np.sort(cents[is_ref]), np.sort(cents[~is_ref])
    # independent path: ECDF-gap integral over the merged support
    grid = np.unique(cents)
    f_ref = np.searchsorted(ref, grid, side="right") / len(ref)
    f_cur = np.searchsorted(cur, grid, side="right") / len(cur)
    w1 = float(np.sum(np.abs(f_ref - f_cur)[:-1] * np.diff(grid)))
    assert row["n_ref"] == len(ref) and row["n_cur"] == len(cur)
    # w1_cents_u = floor(1e6 * W1): integer-floor quantization
    assert abs(row["w1_cents_u"] / 1e6 - w1) < 2e-6, (row["w1_cents_u"], w1)


def test_woe_iv_matches_numpy_log(spark, sf_dir):
    import math
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = REGISTRY["woe_iv_event_types"].fn(spark, sf_dir).collect()
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"), columns=["value", "event_type"]
    )
    cents = np.floor(ev["value"].to_numpy(dtype="float64") * 100 + 0.5).astype(
        "int64"
    )
    label = (cents >= 20000).astype("int64")
    types = ev["event_type"].to_numpy()
    cats = sorted(set(types))
    k = len(cats)
    pos_tot, neg_tot = int(label.sum()), int(len(label) - label.sum())
    iv = 0.0
    by_cat = {}
    for c in cats:
        m = types == c
        pos, neg = int(label[m].sum()), int(m.sum() - label[m].sum())
        woe = math.log(
            ((pos + 1) * (neg_tot + k)) / ((neg + 1) * (pos_tot + k))
        )
        share = (pos + 1) / (pos_tot + k) - (neg + 1) / (neg_tot + k)
        iv += share * woe
        by_cat[c] = (pos, neg, woe)
    assert len(rows) == k
    for r in rows:
        pos, neg, woe = by_cat[r["event_type"]]
        assert (r["pos"], r["neg"]) == (pos, neg)
        # det_ln series truncation < 1e-8 + nano flooring
        assert abs(r["woe"] - woe) < 1e-6, (r["event_type"], r["woe"], woe)
        assert abs(r["iv"] - iv) < 1e-6, (r["iv"], iv)


def test_conformal_threshold_matches_numpy_order_stat(spark, sf_dir):
    import hashlib
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    row = REGISTRY["conformal_split_threshold"].fn(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "value", "event_type", "ts"],
    )
    cents = np.floor(ev["value"].to_numpy(dtype="float64") * 100 + 0.5).astype(
        "int64"
    )
    epoch_us = ev["ts"].to_numpy().astype("datetime64[ns]").astype("int64") // 1000
    hour = (epoch_us // 3_600_000_000) % 24
    score = (
        np.minimum(cents // 5000, 8)
        + (ev["event_type"].to_numpy() == "error").astype("int64") * 2
        + (hour < 6).astype("int64")
    )
    buckets = np.array(
        [
            int(hashlib.md5(f"{e}:conf-v1".encode()).hexdigest()[:8], 16) % 100
            for e in ev["event_id"]
        ]
    )
    cal, test = score[buckets < 50], score[buckets >= 50]
    n_cal = len(cal)
    # the split-conformal order statistic: ceil((n_cal+1)*0.9)-th
    # smallest calibration score (1-indexed)
    r = -((-9 * (n_cal + 1)) // 10)
    thr = int(np.sort(cal)[r - 1])
    assert row["n_cal"] == n_cal and row["n_test"] == len(test)
    assert row["q_rank"] == r
    assert row["threshold"] == thr
    assert row["n_test_covered"] == int((test <= thr).sum())
    assert abs(row["coverage"] - (test <= thr).mean()) < 1.5e-6
    # the guarantee itself on this (exchangeable) split
    assert row["coverage"] >= 0.88


def test_retrieval_metrics_match_numpy_ndcg(spark, sf_dir):
    import math
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = REGISTRY["retrieval_eval_metrics"].fn(spark, sf_dir).collect()
    emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb[emb["vec_id"] < 500].reset_index(drop=True)
    Q = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype("float64") * 1000 + 0.5
    ).astype("int64")
    norms = (Q * Q).sum(axis=1)
    labels = emb["label"].to_numpy()
    ids = emb["vec_id"].to_numpy()
    assert len(rows) == 10
    for r in rows:
        qi = int(np.where(ids == r["query_id"])[0][0])
        mask = ids != r["query_id"]
        cos = (Q[mask] @ Q[qi]) / np.sqrt(
            norms[mask].astype("float64") * norms[qi]
        )
        rel = (labels[mask] == labels[qi]).astype("int64")
        nid = ids[mask]
        order = np.lexsort((nid, -cos))
        rel_sorted = rel[order]
        n_rel = int(rel.sum())
        hits10 = int(rel_sorted[:10].sum())
        dcg = sum(
            rel_sorted[i] / math.log2(i + 2) for i in range(10)
        )
        idcg = sum(1.0 / math.log2(i + 2) for i in range(min(n_rel, 10)))
        ndcg = dcg / idcg if idcg > 0 else 0.0
        first = np.nonzero(rel_sorted)[0]
        mrr = 1.0 / (first[0] + 1) if len(first) else 0.0
        assert r["n_relevant"] == n_rel and r["hits_10"] == hits10
        assert abs(r["ndcg_10"] - ndcg) < 2e-6, (r["query_id"], r["ndcg_10"], ndcg)
        assert abs(r["precision_10"] - hits10 / 10) < 1.5e-6
        assert abs(
            r["recall_10"] - (hits10 / n_rel if n_rel else 0.0)
        ) < 1.5e-6
        assert abs(r["mrr"] - mrr) < 1.5e-6


def test_zipf_slope_matches_numpy_polyfit(spark, sf_dir):
    import os
    from collections import Counter

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    row = REGISTRY["zipf_slope_fit"].fn(spark, sf_dir).collect()[0]
    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["text"]
    )
    cnt = Counter()
    for t in docs["text"]:
        cnt.update(t.strip().split())
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    x = np.log(np.arange(1, len(top) + 1, dtype="float64"))
    y = np.log(np.array([f for _, f in top], dtype="float64"))
    slope, intercept = np.polyfit(x, y, 1)
    assert row["n_points"] == len(top)
    assert row["vocab"] == len(cnt)
    assert row["total_tokens"] == sum(cnt.values())
    # micro-nat quantization + det_ln truncation: ~1e-5 slack
    assert abs(row["zipf_slope"] - slope) < 1e-4, (row["zipf_slope"], slope)
    assert abs(row["intercept_nats"] - intercept) < 1e-3
    # the diagnostic reading: the driver's synthetic corpus draws
    # words near-uniformly, so its head is FLAT (measured ~-0.17,
    # far from natural text's ~-1) — exactly the generated-text
    # signature the dial exists to flag
    assert -0.6 < row["zipf_slope"] < 0.0


def test_source_length_drift_matches_numpy_ecdf(spark, sf_dir):
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = {
        r["source"]: r
        for r in REGISTRY["source_length_drift"].fn(spark, sf_dir).collect()
    }
    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["source", "n_chars"]
    )
    grid = np.unique(docs["n_chars"].to_numpy())
    all_v = np.sort(docs["n_chars"].to_numpy())
    n_glob = len(all_v)
    for src, grp in docs.groupby("source"):
        v = np.sort(grp["n_chars"].to_numpy())
        n_src = len(v)
        # the query's floored-permille ECDF gap, only at the source's
        # own grid points (the join keys)
        own = np.unique(v)
        r_src = np.searchsorted(v, own, side="right")
        r_glob = np.searchsorted(all_v, own, side="right")
        gap = np.abs(
            (r_src * 1000) // n_src - (r_glob * 1000) // n_glob
        ).max()
        assert rows[src]["n_docs"] == n_src
        assert rows[src]["max_abs_skew_permille"] == gap, (src, gap)


def test_k_anonymity_matches_numpy_recount(spark, sf_dir):
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = {
        r["event_type"]: r
        for r in REGISTRY["k_anonymity_audit"].fn(spark, sf_dir).collect()
    }
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"), columns=["event_type", "ts"]
    )
    us = ev["ts"].to_numpy().astype("datetime64[ns]").astype("int64") // 1000
    df = pd.DataFrame(
        {
            "t": ev["event_type"],
            "h": (us // 3_600_000_000) % 24,
            "d": (us // 86_400_000_000 + 4) % 7,
        }
    )
    for t, grp in df.groupby("t"):
        sizes = grp.groupby(["h", "d"]).size()
        r = rows[t]
        assert r["qi_groups"] == len(sizes)
        assert r["groups_below_k"] == int((sizes < 5).sum())
        assert r["min_group_size"] == int(sizes.min())
        assert r["rows_at_risk"] == int(sizes[sizes < 5].sum())
        assert r["rows_total"] == len(grp)
        assert r["risk_permille"] == (int(sizes[sizes < 5].sum()) * 1000) // len(grp)


def test_decision_stump_matches_numpy_scan(spark, sf_dir):
    from financial_anomaly_detection_spark.queries import REGISTRY

    row = REGISTRY["decision_stump_split"].fn(spark, sf_dir).collect()[0]
    label, score = _events_label_score(sf_dir)
    n, pos_tot = len(label), int(label.sum())
    best = None
    for t in sorted(np.unique(score)):
        n_l = int((score < t).sum())
        if n_l == 0 or n_l == n:
            continue
        pos_l = int(label[score < t].sum())
        imp = (
            pos_l * (n_l - pos_l) / n_l
            + (pos_tot - pos_l) * ((n - n_l) - (pos_tot - pos_l)) / (n - n_l)
        )
        if best is None or imp < best[0] - 1e-12:
            best = (imp, int(t), n_l, pos_l)
    imp, t, n_l, pos_l = best
    assert row["threshold"] == t
    assert (row["n"], row["n_l"], row["pos_l"]) == (n, n_l, pos_l)
    assert abs(row["split_impurity"] - imp) < 1.5e-6
    assert abs(row["parent_impurity"] - pos_tot * (n - pos_tot) / n) < 1.5e-6
    assert row["split_impurity"] <= row["parent_impurity"]


def test_ransac_trend_matches_numpy_replication(spark, sf_dir):
    import hashlib
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    row = REGISTRY["ransac_trend_daily"].fn(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"), columns=["value", "ts"]
    )
    us = ev["ts"].to_numpy().astype("datetime64[ns]").astype("int64") // 1000
    day = us // 86_400_000_000
    cents = np.floor(ev["value"].to_numpy(dtype="float64") * 100 + 0.5).astype(
        "int64"
    )
    df = pd.DataFrame({"day": day, "c": cents}).groupby("day")["c"].sum()
    x = (df.index.to_numpy() - df.index.min()).astype("int64")
    y = df.to_numpy()
    mean_c = int(y.sum()) // len(y)
    anch = sorted(
        zip(x, y),
        key=lambda p: (
            hashlib.md5(f"{p[0]}:ransac-v1".encode()).hexdigest(),
            p[0],
        ),
    )[:8]
    best = None
    for i in range(8):
        for j in range(8):
            x1, y1 = anch[i]
            x2, y2 = anch[j]
            if x1 >= x2:
                continue
            dx, dy = int(x2 - x1), int(y2 - y1)
            inl = (
                10 * np.abs((y - y1) * dx - (x - x1) * dy) <= mean_c * dx
            )
            key = (-int(inl.sum()), int(x1), int(x2))
            if best is None or key < best[0]:
                best = (key, (x1, y1, dx, dy), inl)
    (negi, bx1, bx2), (x1, y1, dx, dy), inl = best
    xs, ys = x[inl].astype("float64"), y[inl].astype("float64")
    slope, intercept = np.polyfit(xs, ys, 1)
    assert row["n_days"] == len(y)
    assert (row["best_x1"], row["best_x2"]) == (bx1, bx2)
    assert row["n_inliers"] == -negi
    assert abs(row["slope_cents_per_day"] - slope) < max(1e-5 * abs(slope), 1e-4)
    assert abs(row["intercept_cents"] - intercept) < max(
        1e-5 * abs(intercept), 1e-3
    )


def test_item_cooccurrence_matches_counter(spark, sf_dir):
    import math
    import os
    from collections import Counter
    from itertools import combinations

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = REGISTRY["item_cooccurrence_similarity"].fn(spark, sf_dir).collect()
    li = pd.read_parquet(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_partkey"],
    )
    baskets = li.groupby("l_orderkey")["l_partkey"].apply(
        lambda v: sorted(set(v))
    )
    co: Counter = Counter()
    item: Counter = Counter()
    for ps in baskets:
        item.update(ps)
        co.update(combinations(ps, 2))
    n_orders = len(baskets)
    assert len(rows) > 0
    seen_items = set()
    for r in rows:
        a, b = r["item"], r["other"]
        c_ab = co[(min(a, b), max(a, b))]
        assert r["c_ab"] == c_ab, (a, b)
        cos = c_ab / math.sqrt(item[a] * item[b])
        lift = c_ab * n_orders / (item[a] * item[b])
        assert abs(r["cosine"] - cos) < 1.5e-6
        assert abs(r["lift"] - lift) < 1.5e-6
        assert r["item"] < 300 and 1 <= r["rn"] <= 3
        seen_items.add(a)
    # top-3 ranking correctness for a few items: the returned rn=1
    # neighbor has the max cosine among all neighbors of that item
    import itertools

    for a in list(itertools.islice(sorted(seen_items), 5)):
        got1 = next(r for r in rows if r["item"] == a and r["rn"] == 1)
        neigh = [
            (co[(min(a, o), max(a, o))] / math.sqrt(item[a] * item[o]), o)
            for o in item
            if o != a and co[(min(a, o), max(a, o))] > 0
        ]
        best_cos, best_o = max(neigh, key=lambda t: (t[0], -t[1]))
        ties = sorted(o for c, o in neigh if abs(c - best_cos) < 1e-12)
        assert got1["other"] == ties[0], (a, got1["other"], ties[:3])


def test_group_kfold_balance_matches_recount(spark, sf_dir):
    import hashlib
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = {
        r["fold"]: r
        for r in REGISTRY["group_kfold_balance"].fn(spark, sf_dir).collect()
    }
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["user_id", "event_type"],
    )
    folds = np.array(
        [
            int(hashlib.md5(f"{u}:fold-v1".encode()).hexdigest()[:8], 16) % 5
            for u in ev["user_id"]
        ]
    )
    n_total = len(ev)
    # group property: every user maps to exactly one fold
    per_user = pd.DataFrame({"u": ev["user_id"], "f": folds}).groupby("u")["f"].nunique()
    assert (per_user == 1).all()
    for f in range(5):
        m = folds == f
        r = rows[f]
        n_rows = int(m.sum())
        n_p = int((ev["event_type"].to_numpy()[m] == "purchase").sum())
        assert r["n_rows"] == n_rows
        assert r["n_users"] == ev["user_id"][m].nunique()
        assert r["n_purchases"] == n_p
        assert r["purchase_permille"] == n_p * 1000 // n_rows
        assert r["rows_permille"] == n_rows * 1000 // n_total


def test_attribution_models_match_python_replay(spark, sf_dir):
    import json as _json
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = {
        r["campaign"]: r
        for r in REGISTRY["attribution_models"].fn(spark, sf_dir).collect()
    }
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "user_id", "event_type", "ts", "props"],
    )
    us = ev["ts"].to_numpy().astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(us=us)
    clicks = ev[ev["event_type"] == "click"]
    purchases = ev[ev["event_type"] == "purchase"]
    camp = {
        int(r.event_id): int(_json.loads(r.props)["k"]) % 4
        for r in clicks.itertuples()
    }
    first = {}
    last = {}
    linear = {}
    n_touch_total = 0
    attributed = 0
    clicks_by_user = {u: g for u, g in clicks.groupby("user_id")}
    for p in purchases.itertuples():
        g = clicks_by_user.get(p.user_id)
        if g is None:
            continue
        w = g[(g["us"] < p.us) & (g["us"] >= p.us - 604_800_000_000)]
        if not len(w):
            continue
        attributed += 1
        w = w.sort_values(["us", "event_id"])
        ids = list(w["event_id"])
        n = len(ids)
        n_touch_total += n
        first[camp[ids[0]]] = first.get(camp[ids[0]], 0) + 1
        last[camp[ids[-1]]] = last.get(camp[ids[-1]], 0) + 1
        for i, eid in enumerate(ids):
            c = 1_000_000 // n + (1_000_000 % n if i == n - 1 else 0)
            linear[camp[eid]] = linear.get(camp[eid], 0) + c
    assert set(rows) == set(linear)
    for c in rows:
        assert rows[c]["first_touch"] == first.get(c, 0)
        assert rows[c]["last_touch"] == last.get(c, 0)
        assert rows[c]["linear_micro"] == linear.get(c, 0)
    # the conservation invariant: linear credit sums EXACTLY to 1e6
    # per attributed purchase, and so do the touch-point models
    assert sum(r["linear_micro"] for r in rows.values()) == 1_000_000 * attributed
    assert sum(r["first_touch"] for r in rows.values()) == attributed
    assert sum(r["last_touch"] for r in rows.values()) == attributed
    assert sum(r["n_touches"] for r in rows.values()) == n_touch_total


def test_ab_test_matches_numpy_ztest(spark, sf_dir):
    import hashlib
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    row = REGISTRY["ab_test_proportions"].fn(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["user_id", "event_type", "value"],
    )
    cents = np.floor(ev["value"].to_numpy(dtype="float64") * 100 + 0.5).astype(
        "int64"
    )
    hv = (ev["event_type"].to_numpy() == "purchase") & (cents >= 20000)
    conv = pd.DataFrame({"u": ev["user_id"], "hv": hv}).groupby("u")["hv"].max()
    arms = {
        u: int(hashlib.md5(f"{u}:ab-v1".encode()).hexdigest()[:8], 16) % 2
        for u in conv.index
    }
    n_a = sum(1 for u in conv.index if arms[u] == 0)
    n_b = len(conv) - n_a
    c_a = int(sum(conv[u] for u in conv.index if arms[u] == 0))
    c_b = int(conv.sum()) - c_a
    assert (row["n_a"], row["n_b"], row["conv_a"], row["conv_b"]) == (
        n_a, n_b, c_a, c_b,
    )
    p = (c_a + c_b) / (n_a + n_b)
    z = (c_a / n_a - c_b / n_b) / np.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
    assert abs(row["rate_a"] - c_a / n_a) < 1.5e-6
    assert abs(row["rate_b"] - c_b / n_b) < 1.5e-6
    assert abs(row["z_stat"] - z) < 1.5e-6


def test_anomaly_monitoring_e2e_matches_python_replay(spark, sf_dir):
    import hashlib
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["anomaly_monitoring_e2e"].fn(spark, sf_dir).collect(),
        key=lambda r: r["day_idx"],
    )
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "value", "event_type", "ts"],
    )
    us = ev["ts"].to_numpy().astype("datetime64[ns]").astype("int64") // 1000
    cents = np.floor(ev["value"].to_numpy(dtype="float64") * 100 + 0.5).astype(
        "int64"
    )
    hour = (us // 3_600_000_000) % 24
    day = us // 86_400_000_000
    score = (
        np.minimum(cents // 5000, 8)
        + (ev["event_type"].to_numpy() == "error").astype("int64") * 2
        + (hour < 6).astype("int64")
    )
    bucket = np.array(
        [
            int(hashlib.md5(f"{e}:conf-v1".encode()).hexdigest()[:8], 16) % 100
            for e in ev["event_id"]
        ]
    )
    cal = score[bucket < 50]
    r = -((-9 * (len(cal) + 1)) // 10)
    thr = int(np.sort(cal)[r - 1])
    tm = bucket >= 50
    df = pd.DataFrame(
        {"d": (day[tm] - day.min()), "f": (score[tm] > thr).astype("int64")}
    )
    daily = df.groupby("d").agg(n=("f", "size"), fl=("f", "sum"))
    nt, nf = int(daily["n"].sum()), int(daily["fl"].sum())
    cusum = 0
    assert len(rows) == len(daily)
    for r_ in rows:
        d = r_["day_idx"]
        n, fl = int(daily.loc[d, "n"]), int(daily.loc[d, "fl"])
        cusum += fl * 1000 * nt - n * 1000 * nf
        assert (r_["n_test"], r_["n_flagged"]) == (n, fl)
        assert r_["flag_permille"] == fl * 1000 // n
        assert r_["cusum_dev_num"] == cusum, (d, r_["cusum_dev_num"], cusum)
    # the conformal flag rate on the test half is ~10% by construction
    assert 0 <= nf * 1000 // nt <= 150


def test_kaplan_meier_matches_numpy_product_limit(spark, sf_dir):
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = sorted(
        REGISTRY["kaplan_meier_conversion"].fn(spark, sf_dir).collect(),
        key=lambda r: r["tte_days"],
    )
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["user_id", "event_type", "ts"],
    )
    day = (
        ev["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
        // 1000
        // 86_400_000_000
    )
    ev = ev.assign(day=day)
    max_day = int(day.max())
    tte, event = [], []
    for u, g in ev.groupby("user_id"):
        entry = int(g["day"].min())
        p = g.loc[g["event_type"] == "purchase", "day"]
        if len(p):
            tte.append(int(p.min()) - entry)
            event.append(1)
        else:
            tte.append(max_day - entry)
            event.append(0)
    tte, event = np.array(tte), np.array(event)
    # textbook product-limit over event times (censored-at-t at risk)
    surv = 1.0
    expect = {}
    for t in sorted(np.unique(tte)):
        n_risk = int((tte >= t).sum())
        d = int(event[tte == t].sum())
        c = int((tte == t).sum()) - d
        if n_risk > d:
            surv *= 1 - d / n_risk
        else:
            surv = 0.0
        if d > 0:
            expect[int(t)] = (n_risk, d, c, surv)
    assert len(rows) == len(expect)
    for r in rows:
        n_risk, d, c, sv = expect[r["tte_days"]]
        assert (r["n_risk"], r["n_events"], r["n_censored"]) == (n_risk, d, c)
        # nano-nat term flooring + micro survival quantization
        assert abs(r["survival"] - sv) < 3e-6, (r["tte_days"], r["survival"], sv)
    # survival is monotone non-increasing and inside [0, 1]
    vals = [r["survival"] for r in rows]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert all(a >= b - 1e-12 for a, b in zip(vals, vals[1:]))


def test_pareto_deciles_match_numpy_ranking(spark, sf_dir):
    import os

    import pandas as pd

    from financial_anomaly_detection_spark.queries import REGISTRY

    rows = {
        r["decile"]: r
        for r in REGISTRY["pareto_revenue_deciles"].fn(spark, sf_dir).collect()
    }
    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["user_id", "event_type", "value"],
    )
    pur = ev[ev["event_type"] == "purchase"]
    cents = np.floor(pur["value"].to_numpy(dtype="float64") * 100 + 0.5).astype(
        "int64"
    )
    rev = pd.DataFrame({"u": pur["user_id"], "c": cents}).groupby("u")["c"].sum()
    n = len(rev)
    total = int(rev.sum())
    # replicate the tie rule: a revenue-tie group follows its FIRST
    # rank's decile
    by_val = rev.value_counts().sort_index(ascending=False)
    before = 0
    expect = {}
    for v, c in by_val.items():
        d = before * 10 // n
        nu, rc = expect.get(d, (0, 0))
        expect[d] = (nu + int(c), rc + int(v) * int(c))
        before += int(c)
    assert set(rows) == set(expect)
    for d, (nu, rc) in expect.items():
        assert rows[d]["n_users"] == nu
        assert rows[d]["revenue_cents"] == rc
        assert rows[d]["revenue_permille"] == rc * 1000 // total
    assert sum(r["n_users"] for r in rows.values()) == n
    assert sum(r["revenue_cents"] for r in rows.values()) == total
    # concentration sanity: the top decile out-earns the bottom decile
    top = min(rows)
    bot = max(rows)
    assert rows[top]["revenue_permille"] >= rows[bot]["revenue_permille"]


def test_kernel_twins_match_full_ensemble_columns(spark, sf_dir):
    """VERDICT r9 task 3: the four kernel-split bench twins
    (ml_kernel_{base,iforest,lof,ae}_pretrained, queries.py) were the
    only registered queries with bench-execution-only evidence. Pin:
    (a) each twin emits exactly one row per event with a finite score;
    (b) each kernel twin's score equals the SAME-NAMED column of the
    full pretrained ensemble transform on the shared cached models
    (<=1e-6: the twin uses sround, the ensemble F.round — both over
    bit-identical doubles, so only half-way ties can differ and only
    in the 6th decimal)."""
    import math

    from financial_anomaly_detection_spark import queries as Q
    from financial_anomaly_detection_spark.sources.readers import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    full = {
        r["event_id"]: r
        for r in Q.REGISTRY["ml_ensemble_scores_pretrained"].fn(spark, sf_dir).collect()
    }
    assert len(full) == n_events

    twin_col = {
        "ml_kernel_base_pretrained": "rule_score",
        "ml_kernel_iforest_pretrained": "anomaly_score_iforest",
        "ml_kernel_lof_pretrained": "anomaly_score_lof",
        "ml_kernel_ae_pretrained": "anomaly_score_ae",
    }
    for name, col in twin_col.items():
        rows = Q.REGISTRY[name].fn(spark, sf_dir).collect()
        assert len(rows) == n_events, name
        ids = {r["event_id"] for r in rows}
        assert len(ids) == n_events, f"{name}: duplicate event_ids"
        worst = 0.0
        for r in rows:
            v = r[col]
            assert v is not None and math.isfinite(v), f"{name}: bad score {v}"
            worst = max(worst, abs(v - full[r["event_id"]][col]))
        assert worst <= 1e-6, f"{name}.{col} deviates {worst} from ensemble"


# ---------------------------------------------------------------------------
# Round-11 kernel-math oracle surrogates (queries/ml_eval.py): the
# injected-parameter constructions rest on geometric invariants that a
# hash match alone does not document — pin each invariant directly.
# ---------------------------------------------------------------------------


def test_iforest_exact_surrogate_matches_direct_tree_walk(spark, sf_dir):
    """The inverse transform T = round(-log2(s)·N·c) must recover the
    integer path sum EXACTLY — cross-checked against a direct integer
    walk of the same tree specs, independent of the Arrow kernel."""
    from financial_anomaly_detection_spark.queries.ml_eval import (
        _IF_TREES,
        q_ml_kernel_iforest_exact,
    )

    out = {
        r["vec_id"]: r["path_total"]
        for r in q_ml_kernel_iforest_exact(spark, sf_dir).collect()
    }
    assert len(out) == 400

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    rows = emb.select("vec_id", "embedding").collect()

    def walk(node, q, depth=0):
        if node is None:
            return depth
        f, t, ln, rn = node
        return walk(ln if q[f] < t else rn, q, depth + 1)

    for r in rows:
        q = [float(np.floor(float(x) * 1000 + 0.5)) for x in r["embedding"]]
        expect = sum(walk(t, q) for t in _IF_TREES)
        assert out[r["vec_id"]] == expect, r["vec_id"]


def test_lof_exact_surrogate_geometry_and_guard_band(spark, sf_dir):
    """Three invariants behind ml_kernel_lof_exact: (1) the reference
    set is progression-free and even (tie-free kNN on both sides),
    (2) a pure-python rebuild of the kernel math agrees with the query
    output, (3) every emitted value sits >= 1e-6 scaled units from its
    floor(x+0.5) boundary — two orders of magnitude above the ~1e-8
    cross-engine summation-order drift the 2^24 emission absorbs."""
    from financial_anomaly_detection_spark.queries.ml_eval import (
        _LOF_K,
        _LOF_QMOD,
        _LOF_REFS,
        q_ml_kernel_lof_exact,
    )

    refs = _LOF_REFS
    assert all(p % 2 == 0 for p in refs)
    # no reference point is the midpoint of two others -> per-row kNN
    # distances are distinct; query points 4m+0.5 give odd 2q, which an
    # even+even reference sum can never equal -> query kNN tie-free
    for i, c in enumerate(refs):
        for a in refs:
            for b in refs:
                if a < b and (a != c and b != c):
                    assert a + b != 2 * c, (a, c, b)

    out = {
        r["vec_id"]: r["lof_u"] for r in q_ml_kernel_lof_exact(spark, sf_dir).collect()
    }
    assert len(out) == 400

    X = np.asarray([[float(p)] for p in refs])
    k = _LOF_K
    n = len(X)
    d = np.abs(X - X.T.reshape(1, -1)).reshape(n, n).astype(np.float64)
    np.fill_diagonal(d, np.inf)
    nn = np.argsort(d, axis=1)[:, :k]
    nn_d = np.take_along_axis(d, nn, axis=1)
    kdist = nn_d.max(axis=1)
    reach = np.maximum(kdist[nn], nn_d)
    lrd = k / np.maximum(reach.mean(axis=1), 1e-12)

    for vid, got in out.items():
        pos = (vid % _LOF_QMOD) * 4 + 0.5
        dq = np.abs(pos - X[:, 0])
        qn = np.argsort(dq)[:k]
        qd = dq[qn]
        reach_x = np.maximum(kdist[qn], qd)
        lrd_x = k / np.maximum(reach_x.mean(), 1e-12)
        lof = lrd[qn].mean() / np.maximum(lrd_x, 1e-12)
        scaled = lof * 16777216.0
        assert got == np.floor(scaled + 0.5), vid
        # guard band: distance from the floor boundary
        frac = (scaled + 0.5) % 1.0
        assert min(frac, 1.0 - frac) >= 1e-6, (vid, scaled)


def test_pca_exact_surrogate_residual_is_exact_integer(spark, sf_dir):
    """The disjoint ±1/4-support components are exactly orthonormal, so
    the kernel's residual energy is an exact multiple of 1/16 and the
    emitted sse_q16 equals an all-integer numpy rebuild exactly."""
    from financial_anomaly_detection_spark.queries.ml_eval import (
        _PCA_D,
        _PCA_K,
        _PCA_MU,
        _PCA_SIGN,
        _PCA_SUP,
        q_ml_kernel_pca_exact,
    )

    W = np.zeros((_PCA_D, _PCA_K))
    for c in range(_PCA_K):
        for j in range(_PCA_SUP):
            i = _PCA_SUP * c + j
            W[i, c] = 0.25 * _PCA_SIGN[i]
    assert np.array_equal(W.T @ W, np.eye(_PCA_K))  # exact orthonormality

    out = {
        r["vec_id"]: r["sse_q16"]
        for r in q_ml_kernel_pca_exact(spark, sf_dir).collect()
    }
    assert len(out) == 400

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    mu = np.asarray(_PCA_MU, dtype=np.int64)
    for r in emb.select("vec_id", "embedding").collect():
        q = np.floor(np.asarray(r["embedding"], dtype=np.float64) * 1000 + 0.5)
        c = q.astype(np.int64) - mu
        total16 = int((c * c).sum()) * 16
        cap16 = 0
        for col in range(_PCA_K):
            s = _PCA_SUP * col
            proj4 = int(
                (c[s : s + _PCA_SUP] * np.asarray(_PCA_SIGN[s : s + _PCA_SUP])).sum()
            )  # proj * 4, an integer
            cap16 += proj4 * proj4  # (proj^2) * 16
        assert out[r["vec_id"]] == total16 - cap16, r["vec_id"]
