"""Nonlinear autoencoder scorer (SURVEY.md §2.7 M8 option (b)).

The reference trains a dense 128-64-32-64-128 TF autoencoder with
Adam(lr=1e-3), MSE loss, 50 epochs, batch 256 on an 80/20 split
(python_scoring/train.py:18-28, 80-84). The engine default is the PCA
analog (``reconstruction.ReconstructionScorer``) because it fits
distributed; this module is the *faithful nonlinear* variant for
parity studies:

  * **fit**: a bounded, seeded sample (same collection pattern as the
    Isolation Forest — O(max_pool) at any data scale) trains a numpy
    MLP autoencoder with a from-scratch Adam loop. Fully deterministic
    under the seed (fixed init, fixed shuffle order).
  * **score**: weights broadcast; reconstruction MSE per Arrow batch
    is a couple of matmuls in the ``kernel.numpy_kernel`` pandas_udf.
  * threshold = P97.5 of validation MSE (M9), serving score =
    ``clip(mse/threshold, 0, 1)`` (model_wrapper.py:44-49).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .kernel import numpy_kernel
from .sampling import collect_sample


def _forward(params: list[np.ndarray], X: np.ndarray) -> tuple[list[np.ndarray], np.ndarray]:
    """ReLU hidden layers, linear output (train.py:18-28 shape)."""
    acts = [X]
    h = X
    n_layers = len(params) // 2
    for i in range(n_layers):
        W, b = params[2 * i], params[2 * i + 1]
        h = h @ W + b
        if i < n_layers - 1:
            h = np.maximum(h, 0.0)
        acts.append(h)
    return acts, h


class AutoencoderScorer:
    def __init__(
        self,
        hidden: tuple[int, ...] = (32, 8, 32),
        epochs: int = 50,
        batch_size: int = 256,
        lr: float = 1e-3,
        threshold_quantile: float = 0.975,
        max_pool: int = 20_000,
        seed: int = 42,
    ):
        self.hidden = hidden
        self.epochs = epochs
        self.batch_size = batch_size
        self.lr = lr
        self.threshold_quantile = threshold_quantile
        self.max_pool = max_pool
        self.seed = seed
        self.params: list[np.ndarray] | None = None
        self.threshold: float | None = None

    # -- fit ---------------------------------------------------------------

    def fit(self, df: DataFrame, features_col: str = "features") -> "AutoencoderScorer":
        X = collect_sample(df, features_col, self.max_pool, self.seed)
        rng = np.random.default_rng(self.seed)
        # 80/20 split (M11, train.py:83)
        idx = rng.permutation(len(X))
        cut = max(1, int(0.8 * len(X)))
        X_train, X_val = X[idx[:cut]], X[idx[cut:]] if cut < len(X) else X[idx[:cut]]

        d = X.shape[1]
        sizes = [d, *self.hidden, d]
        params: list[np.ndarray] = []
        for fan_in, fan_out in zip(sizes, sizes[1:]):
            # He-style init, deterministic under the rng
            params.append(rng.normal(0.0, np.sqrt(2.0 / fan_in), size=(fan_in, fan_out)))
            params.append(np.zeros(fan_out))

        # Adam (Kingma & Ba 2015), from scratch, fixed update order
        m = [np.zeros_like(p) for p in params]
        v = [np.zeros_like(p) for p in params]
        b1, b2, eps = 0.9, 0.999, 1e-8
        t = 0
        for _ in range(self.epochs):
            order = rng.permutation(len(X_train))
            for s in range(0, len(X_train), self.batch_size):
                xb = X_train[order[s : s + self.batch_size]]
                grads = self._grads(params, xb)
                t += 1
                for j, g in enumerate(grads):
                    m[j] = b1 * m[j] + (1 - b1) * g
                    v[j] = b2 * v[j] + (1 - b2) * g * g
                    mh = m[j] / (1 - b1**t)
                    vh = v[j] / (1 - b2**t)
                    params[j] -= self.lr * mh / (np.sqrt(vh) + eps)
        self.params = params

        _, recon = _forward(params, X_val)
        val_mse = ((X_val - recon) ** 2).mean(axis=1)
        self.threshold = float(np.percentile(val_mse, self.threshold_quantile * 100))
        return self

    @staticmethod
    def _grads(params: list[np.ndarray], X: np.ndarray) -> list[np.ndarray]:
        """Backprop of MSE loss through the ReLU MLP."""
        acts, recon = _forward(params, X)
        n_layers = len(params) // 2
        n = X.shape[0]
        grads: list[np.ndarray] = [np.zeros_like(p) for p in params]
        delta = 2.0 * (recon - X) / (n * X.shape[1])
        for i in range(n_layers - 1, -1, -1):
            a_prev = acts[i]
            grads[2 * i] = a_prev.T @ delta
            grads[2 * i + 1] = delta.sum(axis=0)
            if i > 0:
                W = params[2 * i]
                delta = (delta @ W.T) * (acts[i] > 0)
        return grads

    # -- score -------------------------------------------------------------

    def mse_col(self, df: DataFrame, features_col: str = "features") -> Column:
        if self.params is None:
            raise RuntimeError("fit() first")

        def _mse(X: np.ndarray, *params: np.ndarray) -> np.ndarray:
            h = X
            n_layers = len(params) // 2
            for i in range(n_layers):
                h = h @ params[2 * i] + params[2 * i + 1]
                if i < n_layers - 1:
                    h = np.maximum(h, 0.0)
            return ((X - h) ** 2).mean(axis=1)

        return numpy_kernel(df, features_col, tuple(self.params), _mse)

    def score_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """clip(mse/threshold, 0, 1) — M10/F9."""
        if self.threshold is None:
            raise RuntimeError("fit() first")
        mse = self.mse_col(df, features_col)
        return F.least(
            F.greatest(mse / F.lit(max(self.threshold, 1e-12)), F.lit(0.0)), F.lit(1.0)
        )
