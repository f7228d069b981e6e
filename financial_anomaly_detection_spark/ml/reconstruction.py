"""Reconstruction-error anomaly scorer (SURVEY.md §2.7 M8-M10).

The reference's 128-64-32-64-128 TF autoencoder (python_scoring/
train.py:18-28) exists to produce one number per row: reconstruction
MSE, thresholded at the validation 97.5th percentile (train.py:86-88)
and served as ``clip(mse/threshold, 0, 1)`` (model_wrapper.py:44-49,
app.py:193). The engine operator is the linear-autoencoder equivalent
(SURVEY.md §2.7 M8 option (a)): distributed MLlib ``PCA`` fit, with the
reconstruction error computed as

    mse(x) = (‖x − μ‖² − ‖Wᵀ(x − μ)‖²) / d

— for an orthonormal component matrix W, the residual of the
rank-k projection. The fit is fully distributed (MLlib RowMatrix SVD);
scoring is one matmul per Arrow batch in a pandas_udf with the (d × k)
component matrix broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.ml.feature import PCA
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .sampling import as_array


class ReconstructionScorer:
    def __init__(self, k: int = 8, threshold_quantile: float = 0.975):
        self.k = k
        self.threshold_quantile = threshold_quantile
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
        """Fit the rank-k model on ``df``; calibrate the MSE threshold on
        ``val_df`` when given (the reference's held-out calibration,
        train.py:83-88) — on ``df`` itself otherwise (in-sample).

        When ``pool`` (an already-collected bounded sample of feature
        rows, shared with the other scorers by the ensemble) is given,
        the rank-k subspace comes from that pool's covariance
        driver-side — zero extra cluster jobs, the same bounded-sample
        fit discipline as IForest/LOF. The threshold is STILL the
        exact distributed percentile over the held-out ``val_df``.
        """
        if pool is not None and len(pool) > 1:
            X = np.asarray(pool, dtype=np.float64)
            d = X.shape[1]
            k = min(self.k, d)
            self.mean = X.mean(axis=0)
            C = X - self.mean
            cov = (C.T @ C) / len(C)
            w, v = np.linalg.eigh(cov)
            self.components = v[:, ::-1][:, :k].copy()
            return self._calibrate(df, features_col, val_df)
        arr = as_array(df, features_col)
        d = len(df.select(arr).first()[0])
        k = min(self.k, d)

        if d <= 32:
            # Small-d fast path: ONE codegen aggregate computes every
            # first and second moment (d + d(d+1)/2 avg expressions),
            # then the (d, d) covariance eigendecomposition runs
            # driver-side. The top-k eigenvectors of the covariance
            # span the same principal subspace as MLlib PCA's top-k
            # components (eigh vs SVD of the same symmetric matrix —
            # signs/degenerate rotations may differ, but the rank-k
            # projection residual, which is all mse_col consumes, is
            # subspace-invariant). Saves the PCA RowMatrix pass and a
            # separate mean pass — 3 jobs down to 2, all codegen.
            cols = [arr[i].alias(f"x{i}") for i in range(d)]
            flat = df.select(*cols)
            aggs = [F.avg(f"x{i}").alias(f"m{i}") for i in range(d)]
            aggs += [
                F.avg(F.col(f"x{i}") * F.col(f"x{j}")).alias(f"c{i}_{j}")
                for i in range(d)
                for j in range(i, d)
            ]
            row = flat.agg(*aggs).first()
            mu = np.array([row[f"m{i}"] for i in range(d)], dtype=np.float64)
            m2 = np.empty((d, d), dtype=np.float64)
            for i in range(d):
                for j in range(i, d):
                    m2[i, j] = m2[j, i] = row[f"c{i}_{j}"]
            cov = m2 - np.outer(mu, mu)
            w, v = np.linalg.eigh(cov)
            self.mean = mu
            self.components = v[:, ::-1][:, :k].copy()  # descending eigenvalue order
        else:
            # Large-d path: MLlib's distributed Gramian (RowMatrix) —
            # the moment aggregate above would need d(d+1)/2 buffers
            # (2080 at d=64), past what one codegen aggregate should
            # carry.
            mean_row = df.select(
                F.array(*[F.avg(arr[i]) for i in range(d)]).alias("m")
            ).first()["m"]
            self.mean = np.array(mean_row, dtype=np.float64)
            centered = df.select(
                F.array(*[(arr[i] - float(self.mean[i])) for i in range(d)]).alias("_c")
            )
            from pyspark.ml.functions import array_to_vector

            vec_df = centered.select(array_to_vector("_c").alias("_v"))
            model = PCA(k=k, inputCol="_v", outputCol="_p").fit(vec_df)
            self.components = model.pc.toArray()  # (d, k)

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
                F.expr(f"percentile(_mse, {self.threshold_quantile})")
            ).first()[0]
        )
        return self

    def mse_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """Per-row reconstruction MSE (A5).

        Small d: a pure-Catalyst expression (centered squares minus the
        rank-k projection energy) — stays inside whole-stage codegen,
        no Python stage at all. Large d: one matmul per Arrow batch in
        a pandas_udf with the (d, k) component matrix broadcast.
        """
        if self.components is None:
            raise RuntimeError("fit() first")
        arr0 = as_array(df, features_col)
        d, k = self.components.shape
        if d <= 32:
            c = [arr0[i] - float(self.mean[i]) for i in range(d)]
            total = None
            for ci in c:
                term = ci * ci
                total = term if total is None else total + term
            captured = None
            for q in range(k):
                proj = None
                for i in range(d):
                    term = c[i] * float(self.components[i, q])
                    proj = term if proj is None else proj + term
                psq = proj * proj
                captured = psq if captured is None else captured + psq
            return F.greatest(total - captured, F.lit(0.0)) / F.lit(float(d))
        sc = df.sparkSession.sparkContext
        b = sc.broadcast((self.components, self.mean))

        @F.pandas_udf(T.DoubleType())
        def _mse(batch: pd.Series) -> pd.Series:
            # allocator preamble (memtune.KERNEL_PREAMBLE rationale)
            import ctypes

            try:
                _lc = ctypes.CDLL(None)
                _lc.mallopt(-3, 1 << 29), _lc.mallopt(-1, 1 << 30), _lc.mallopt(-2, 1 << 28)
            except Exception:
                pass
            W, mu = b.value
            X = np.stack(batch.to_numpy()) - mu
            total = (X * X).sum(axis=1)
            proj = X @ W
            captured = (proj * proj).sum(axis=1)
            return pd.Series(np.maximum(total - captured, 0.0) / X.shape[1])

        return _mse(as_array(df, features_col))

    def score_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """Normalized AE-style score: clip(mse / threshold, 0, 1)
        (model_wrapper.py:44-49; app.py:193 F9)."""
        if self.threshold is None:
            raise RuntimeError("fit() first")
        mse = self.mse_col(df, features_col)
        return F.least(F.greatest(mse / F.lit(max(self.threshold, 1e-12)), F.lit(0.0)), F.lit(1.0))
