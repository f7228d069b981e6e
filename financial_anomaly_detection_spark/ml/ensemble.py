"""Anomaly ensemble (SURVEY.md §2.7 M12, §3.1-§3.2).

Bundles the feature pipeline + the three anomaly scorers and produces
the reference's ScoreOut row (python_scoring/app.py:90-98): the three
model scores, rule score, fused aggregate (F8-F11) and risk bucket
(F12). The fusion tail is pure Catalyst column math — only the three
model kernels are (vectorized) pandas_udfs.

Persistence (M12 / S6-S7): the MLlib feature pipeline saves as a
standard ``PipelineModel`` directory; the custom model state
(trees / reference set / components / thresholds) goes to a
``model.npz`` + ``meta.json`` sidecar — the engine-native analog of the
reference's joblib bundle + SavedModel (train.py:91-102).
"""

from __future__ import annotations

import json
import os
import pickle
from contextlib import contextmanager
from typing import Iterator

import numpy as np
from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.scoring import (
    clip01,
    fuse_scores,
    high_amount_override,
    inv_sigmoid,
    risk_level,
    rule_score,
)
from .features import build_feature_pipeline
from .iforest import IsolationForestModel
from .lof import LOFNoveltyModel
from .reconstruction import ReconstructionScorer
from .sampling import MAX_POOL, collect_sample

MODEL_VERSION = "spark-ensemble-v1"
# The reconstruction scorer is the PCA linear-AE analog (SURVEY.md M8
# option (a)); bundles record it under this name.
AE_VARIANT = "pca"


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the default parallelism so the row-wise
    Arrow kernels use every core. Unconditional: the feature frame comes
    out of a window shuffle whose partition count AQE fixes only at run
    time, so asking for it would run the upstream stages at plan-build
    time (operators/partitioning.py)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


class AnomalyEnsemble:
    def __init__(
        self,
        seed: int = 42,
        rule_large_amount: float = 1000.0,
        high_risk_amount: float = 10000.0,
    ):
        self.seed = seed
        self.rule_large_amount = rule_large_amount
        self.high_risk_amount = high_risk_amount
        self.feature_model: PipelineModel | None = None
        self.iforest = IsolationForestModel(seed=seed)
        self.lof = LOFNoveltyModel(seed=seed)
        self.recon = ReconstructionScorer()

    # -- train (§3.2) ------------------------------------------------------

    def fit(self, feature_df: DataFrame) -> "AnomalyEnsemble":
        """feature_df must carry the 10 feature columns
        (schemas.NUMERIC_FEATURES + schemas.CATEGORICAL_FEATURES)."""
        with self._fit_pinned(feature_df):
            return self

    def fit_transform(self, feature_df: DataFrame, id_col: str = "event_id") -> DataFrame:
        """fit() + transform() sharing ONE pinned feature frame.

        ``fit`` alone must release its cache pins when it returns (the
        model state is driver-side), which forces a separate
        ``transform`` call to recompute the feature prep + MLlib
        transform from the raw input. When the caller wants scores for
        the SAME frame it fit on (the reference's train-then-score
        flow, train.py:71-101), this method scores off the still-pinned
        features and materializes the result via an eager
        ``localCheckpoint`` so every pin can be released before
        returning — the caller gets a computed, lineage-free frame
        (bounded: one ScoreOut row per input row).
        """
        with self._fit_pinned(feature_df) as feats:
            return self._score_plan(feats, id_col).localCheckpoint(eager=True)

    @contextmanager
    def _fit_pinned(self, feature_df: DataFrame) -> Iterator[DataFrame]:
        """Fit the pipeline and the scorers; yield the transformed
        features while they are still pinned, then release every pin."""
        # Pin the raw feature frame: the MLlib pipeline fit runs one job
        # per stage (two StringIndexer distincts + the scaler stats
        # pass), each of which would otherwise replay the upstream
        # feature prep. persist (not localCheckpoint) so the blocks are
        # RELEASED when fit returns — all model state lives driver-side
        # after fitting, and leaked pins slowly squeeze execution memory
        # in long sessions.
        feature_df = _spread(feature_df).persist()
        try:
            self.feature_model = build_feature_pipeline().fit(feature_df)
            # Pin the transformed features once too: the scorer fits
            # (the pool collect plus the 80/20 split) would otherwise
            # each replay the full MLlib transform over the corpus.
            feats = self.feature_model.transform(feature_df).persist()
            try:
                self._fit_scorers(feats)
                yield feats
            finally:
                feats.unpersist()
        finally:
            feature_df.unpersist()

    def _fit_scorers(self, feats: DataFrame) -> None:
        # Split discipline mirrors train.py:71-88: IsolationForest
        # and LOF fit on the FULL feature matrix; the autoencoder
        # analog trains with its threshold calibrated on the held-out
        # 20% split (M9/M11, seed=42 ≙ train.py:83).
        #
        # ONE bounded sample pool (O(MAX_POOL) rows, the only fit-time
        # data movement) is collected and shared by all three scorers —
        # the engine analog of the reference loading its training frame
        # once (train.py:40-57): IForest subsamples trees from it, LOF
        # takes a seeded reference subset, the linear-AE estimates its
        # subspace from the pool's covariance. Only the AE threshold
        # still runs distributed (exact percentile on the held-out
        # split).
        pool = collect_sample(feats, "features", MAX_POOL, self.seed)
        self.iforest.fit_pool(pool)
        self.lof.fit_pool(pool)
        train, val = feats.randomSplit([0.8, 0.2], seed=self.seed)
        self.recon.fit(train, val_df=val, pool=pool)

    # -- score (§3.1) ------------------------------------------------------

    def transform(self, feature_df: DataFrame, id_col: str = "event_id") -> DataFrame:
        """Full scoring plan: features -> 3 model scores -> rules ->
        fusion -> risk bucket. Returns the ScoreOut shape."""
        if self.feature_model is None:
            raise RuntimeError("fit() first")
        feats = _spread(self.feature_model.transform(feature_df))
        return self._score_plan(feats, id_col)

    def _score_plan(self, feats: DataFrame, id_col: str) -> DataFrame:
        scored = (
            feats.withColumn("anomaly_score_iforest", self.iforest.decision_col(feats))
            .withColumn("anomaly_score_lof", self.lof.decision_col(feats))
            .withColumn("anomaly_score_ae", self.recon.score_col(feats))
            .withColumn(
                "rule_score",
                rule_score(
                    "amount", "channel", "location", "hour",
                    large_amount_t=self.rule_large_amount,
                ),
            )
        )
        fused = F.round(
            high_amount_override(
                fuse_scores(
                    "anomaly_score_iforest",
                    "anomaly_score_lof",
                    "anomaly_score_ae",
                    "rule_score",
                ),
                "amount",
                threshold=self.high_risk_amount,
            ),
            6,
        )
        return scored.select(
            id_col,
            F.round("anomaly_score_iforest", 6).alias("anomaly_score_iforest"),
            F.round("anomaly_score_lof", 6).alias("anomaly_score_lof"),
            F.round("anomaly_score_ae", 6).alias("anomaly_score_ae"),
            F.round("rule_score", 6).alias("rule_score"),
            fused.alias("aggregated_score"),
            risk_level(fused).alias("risk_level"),
            F.lit(MODEL_VERSION).alias("model_version"),
        )

    # -- persistence (M12) -------------------------------------------------

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        self.feature_model.write().overwrite().save(os.path.join(path, "feature_pipeline"))
        with open(os.path.join(path, "trees.pkl"), "wb") as f:
            pickle.dump(self.iforest.trees, f)
        np.savez_compressed(
            os.path.join(path, "model.npz"),
            lof_X=self.lof.X_train,
            lof_kdist=self.lof.kdist_train,
            lof_lrd=self.lof.lrd_train,
            recon_W=self.recon.components,
            recon_mean=self.recon.mean,
        )
        # Every key stays, ae_variant and ae_n_params included: loaders
        # of older and newer builds read the same meta.json.
        meta = {
            "model_version": MODEL_VERSION,
            "seed": self.seed,
            "rule_large_amount": self.rule_large_amount,
            "high_risk_amount": self.high_risk_amount,
            "ae_variant": AE_VARIANT,
            "iforest": {
                "n_estimators": self.iforest.n_estimators,
                "max_samples": self.iforest.max_samples,
                "c_psi": self.iforest._c_psi,
            },
            "lof_n_neighbors": self.lof.n_neighbors,
            "recon_k": self.recon.k,
            "ae_n_params": 0,
            "recon_threshold": self.recon.threshold,
        }
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f, indent=2)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "AnomalyEnsemble":
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        variant = meta.get("ae_variant", AE_VARIANT)
        if variant != AE_VARIANT:
            raise ValueError(
                f"bundle {path} has ae_variant {variant!r}; only {AE_VARIANT!r} bundles load"
            )
        self = cls(
            seed=meta["seed"],
            rule_large_amount=meta["rule_large_amount"],
            high_risk_amount=meta["high_risk_amount"],
        )
        self.feature_model = PipelineModel.load(os.path.join(path, "feature_pipeline"))
        with open(os.path.join(path, "trees.pkl"), "rb") as f:
            self.iforest.trees = pickle.load(f)
        self.iforest.n_estimators = meta["iforest"]["n_estimators"]
        self.iforest.max_samples = meta["iforest"]["max_samples"]
        self.iforest._c_psi = meta["iforest"]["c_psi"]
        blobs = np.load(os.path.join(path, "model.npz"))
        self.lof.X_train = blobs["lof_X"]
        self.lof.kdist_train = blobs["lof_kdist"]
        self.lof.lrd_train = blobs["lof_lrd"]
        self.lof.n_neighbors = meta["lof_n_neighbors"]
        self.recon.components = blobs["recon_W"]
        self.recon.mean = blobs["recon_mean"]
        self.recon.k = meta["recon_k"]
        self.recon.threshold = meta["recon_threshold"]
        return self
