"""Reconstruction-error anomaly scorer (SURVEY.md §2.7 M8-M10).

The reference's 128-64-32-64-128 TF autoencoder (python_scoring/
train.py:18-28) exists to produce one number per row: reconstruction
MSE, thresholded at the validation 97.5th percentile (train.py:86-88)
and served as ``clip(mse/threshold, 0, 1)`` (model_wrapper.py:44-49,
app.py:193). The engine operator is the linear-autoencoder equivalent
(SURVEY.md §2.7 M8 option (a)): a rank-k PCA fit on a bounded sample's
covariance, with the reconstruction error computed as

    mse(x) = (‖x − μ‖² − ‖Wᵀ(x − μ)‖²) / d

— for an orthonormal component matrix W, the residual of the
rank-k projection. The fit reads one bounded sample (the same
discipline as IForest/LOF); the threshold is an exact distributed
percentile; scoring is one matmul per Arrow batch in the numpy kernel
(``ml/kernel.numpy_kernel``) with the (d × k) component matrix
broadcast, at every d.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .kernel import numpy_kernel
from .sampling import MAX_POOL, collect_sample

# The reference calibrates at the validation P97.5 (train.py:86-88).
THRESHOLD_QUANTILE = 0.975
# Seed of the pool sample when the caller passes no pool.
SAMPLE_SEED = 42


class ReconstructionScorer:
    def __init__(self, k: int = 8):
        self.k = k
        self.components: np.ndarray | None = None  # (d, k)
        self.mean: np.ndarray | None = None  # (d,)
        self.threshold: float | None = None

    def fit(
        self,
        df: DataFrame,
        features_col: str = "features",
        val_df: DataFrame | None = None,
        pool: np.ndarray | None = None,
    ) -> "ReconstructionScorer":
        """Fit the rank-k subspace from the covariance of ``pool`` (a
        bounded sample of feature rows, shared with the other scorers by
        the ensemble; a seeded ``MAX_POOL`` sample of ``df`` when not
        given), driver-side. Calibrate the MSE threshold as the exact
        distributed percentile over ``val_df`` when given (the
        reference's held-out calibration, train.py:83-88) — over ``df``
        itself otherwise (in-sample).
        """
        if pool is None:
            pool = collect_sample(df, features_col, MAX_POOL, SAMPLE_SEED)
        if len(pool) == 0:
            raise ValueError("ReconstructionScorer.fit: no rows to fit (empty sample pool)")
        X = np.asarray(pool, dtype=np.float64)
        k = min(self.k, X.shape[1])
        self.mean = X.mean(axis=0)
        C = X - self.mean
        cov = (C.T @ C) / len(C)
        _, v = np.linalg.eigh(cov)
        self.components = v[:, ::-1][:, :k].copy()  # descending eigenvalue order
        return self._calibrate(df, features_col, val_df)

    def _calibrate(
        self, df: DataFrame, features_col: str, val_df: DataFrame | None
    ) -> "ReconstructionScorer":
        # threshold: exact percentile of MSE (M9/A4), on the held-out
        # split when provided (train.py:86-88), else in-sample
        cal_df = val_df if val_df is not None else df
        scored = cal_df.withColumn("_mse", self.mse_col(cal_df, features_col))
        self.threshold = float(
            scored.select(
                F.expr(f"percentile(_mse, {THRESHOLD_QUANTILE})")
            ).first()[0]
        )
        return self

    def mse_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """Per-row reconstruction MSE (A5): one matmul per Arrow batch in
        the package's numpy kernel, with the (d, k) component matrix
        broadcast. The ensemble plans it in the same Python stage as
        the IForest and LOF kernels.
        """
        if self.components is None:
            raise RuntimeError("fit() first")

        def _mse(X: np.ndarray, W: np.ndarray, mu: np.ndarray) -> np.ndarray:
            X = X - mu
            total = (X * X).sum(axis=1)
            proj = X @ W
            captured = (proj * proj).sum(axis=1)
            return np.maximum(total - captured, 0.0) / X.shape[1]

        return numpy_kernel(df, features_col, (self.components, self.mean), _mse)

    def score_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """Normalized AE-style score: clip(mse / threshold, 0, 1)
        (model_wrapper.py:44-49; app.py:193 F9)."""
        if self.threshold is None:
            raise RuntimeError("fit() first")
        mse = self.mse_col(df, features_col)
        return F.least(F.greatest(mse / F.lit(max(self.threshold, 1e-12)), F.lit(0.0)), F.lit(1.0))
