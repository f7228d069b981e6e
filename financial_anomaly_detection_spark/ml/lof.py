"""Local Outlier Factor, novelty mode (SURVEY.md §2.7 M6-M7).

The reference fits ``LocalOutlierFactor(n_neighbors=20,
contamination=0.01, novelty=True)`` (python_scoring/train.py:75-77) but
its scoring path has a bug: ``score_lof`` returns the *training-set*
scores regardless of input (model_wrapper.py:33-42). We implement the
**intended** novelty semantics (Breunig et al., "LOF: Identifying
Density-Based Local Outliers", SIGMOD 2000, public):

  * **fit**: a bounded, seeded sample of the training features is
    collected; k-distances and local reachability densities (lrd) of
    the reference set are precomputed in numpy.
  * **score**: the reference set (max_train × d floats) is broadcast;
    each batch computes distances to it in one BLAS matmul inside an
    Arrow ``pandas_udf`` — distributed, no shuffle.
  * The exact-kNN form is O(batch × max_train); the documented 100 TB
    path swaps the reference set for LSH buckets
    (BucketedRandomProjectionLSH) with identical downstream math.

Conventions: ``lof`` ≈ 1 for inliers, > 1 for outliers.
``decision_function`` mirrors sklearn's shape (higher = more normal,
~0 at the boundary): ``1.5 - lof``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .kernel import numpy_kernel
from .sampling import collect_sample


class LOFNoveltyModel:
    def __init__(self, n_neighbors: int = 20, max_train: int = 5000, seed: int = 42):
        self.n_neighbors = n_neighbors
        self.max_train = max_train
        self.seed = seed
        self.X_train: np.ndarray | None = None
        self.kdist_train: np.ndarray | None = None
        self.lrd_train: np.ndarray | None = None

    def fit(self, df: DataFrame, features_col: str = "features") -> "LOFNoveltyModel":
        return self.fit_pool(collect_sample(df, features_col, self.max_train, self.seed))

    def fit_pool(self, pool: np.ndarray) -> "LOFNoveltyModel":
        """Fit from an already-collected sample pool (shared with the
        other scorers by the ensemble): a seeded uniform subset of at
        most ``max_train`` rows becomes the reference set."""
        if len(pool) < 2:
            raise ValueError(
                f"LOFNoveltyModel.fit: needs at least 2 rows to fit, got {len(pool)}"
            )
        if len(pool) > self.max_train:
            rng = np.random.default_rng(self.seed)
            idx = np.sort(rng.choice(len(pool), size=self.max_train, replace=False))
            pool = pool[idx]
        return self._fit_reference(np.asarray(pool, dtype=np.float64))

    def _fit_reference(self, X: np.ndarray) -> "LOFNoveltyModel":
        self.X_train = X
        k = min(self.n_neighbors, len(X) - 1)

        # kNN of the reference set against itself, computed in row
        # chunks with in-place ops: on hosts where first-touch page
        # faults are slow (memtune.py), the naive full-matrix
        # expression's four ~n²-sized temporaries dominated fit time
        # (measured 43 s for n=5000). Chunking keeps the unique
        # first-touch footprint to ONE (step, n) buffer that the tuned
        # allocator serves warm from the second chunk on (<1 s).
        # Chunking is value-identical: each row's kNN is computed from
        # the same full distance row either way.
        n = len(X)
        n2 = np.einsum("ij,ij->i", X, X)
        nn_idx = np.empty((n, k), dtype=np.int64)
        nn_d = np.empty((n, k), dtype=np.float64)
        step = 512
        for i in range(0, n, step):
            xb = X[i : i + step]
            d = xb @ X.T  # (chunk, n) — arena-recycled after chunk 1
            d *= -2.0
            d += n2[i : i + step, None]
            d += n2[None, :]
            d[np.arange(len(xb)), np.arange(i, i + len(xb))] = np.inf
            np.maximum(d, 0.0, out=d)
            np.sqrt(d, out=d)
            idx = np.argpartition(d, k - 1, axis=1)[:, :k]
            nn_idx[i : i + len(xb)] = idx
            nn_d[i : i + len(xb)] = np.take_along_axis(d, idx, axis=1)
        self.kdist_train = nn_d.max(axis=1)
        # reach_dist_k(a, b) = max(kdist(b), d(a, b)); lrd = k / mean reach
        reach = np.maximum(self.kdist_train[nn_idx], nn_d)
        self.lrd_train = k / np.maximum(reach.mean(axis=1), 1e-12)
        return self

    def lof_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """LOF of each row vs the training reference set (novelty)."""
        if self.X_train is None:
            raise RuntimeError("fit() first")
        k = min(self.n_neighbors, len(self.X_train) - 1)

        # kNN selection happens on SQUARED distances (sqrt is monotone,
        # so the neighbor set is identical) and sqrt is applied only to
        # the k selected columns; rows are processed in sub-chunks so
        # the chunk × reference-set distance matrix stays ~80 MB even
        # at the default 10k-row Arrow batch (the full-batch form
        # allocated ~400 MB of temps per batch × one per core).
        def _lof(
            X: np.ndarray, Xt: np.ndarray, kdist: np.ndarray, lrd: np.ndarray, k: int
        ) -> np.ndarray:
            Xt_sq = (Xt * Xt).sum(axis=1)[None, :]
            out = np.empty(len(X), dtype=np.float64)
            # Small chunks on purpose: the (step, |ref|) temporaries are
            # the kernel's entire allocation footprint, and on
            # slow-first-touch hosts (memtune.py) every worker pays the
            # fault cost once per unique buffer size — 256 rows keeps
            # that under ~15 MB/worker while staying BLAS-efficient.
            step = 256
            for i in range(0, len(X), step):
                xb = X[i : i + step]
                d2 = (xb * xb).sum(axis=1)[:, None] + Xt_sq - 2.0 * (xb @ Xt.T)
                nn_idx = np.argpartition(d2, k - 1, axis=1)[:, :k]
                nn_d = np.sqrt(
                    np.maximum(np.take_along_axis(d2, nn_idx, axis=1), 0.0)
                )
                reach = np.maximum(kdist[nn_idx], nn_d)
                lrd_x = k / np.maximum(reach.mean(axis=1), 1e-12)
                out[i : i + step] = lrd[nn_idx].mean(axis=1) / np.maximum(
                    lrd_x, 1e-12
                )
            return out

        state = (self.X_train, self.kdist_train, self.lrd_train, k)
        return numpy_kernel(df, features_col, state, _lof)

    def decision_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """sklearn-shaped decision score (higher = more normal)."""
        return F.lit(1.5) - self.lof_col(df, features_col)
