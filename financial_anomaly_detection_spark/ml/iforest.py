"""Isolation Forest (SURVEY.md §2.7 M4-M5) — Spark-native.

The reference trains ``sklearn.ensemble.IsolationForest(
n_estimators=200, contamination=0.01, random_state=42)``
(python_scoring/train.py:71-73) and scores with ``decision_function``
(model_wrapper.py:26-31). MLlib has no isolation forest, so this is a
from-scratch implementation of Liu, Ting & Zhou, "Isolation Forest"
(ICDM 2008, public):

  * **fit**: each of the ``n_estimators`` trees is built on a ψ-row
    subsample (ψ=256). ψ·trees rows (~51k) are a driver-scale object at
    ANY data scale — the fit collects one bounded sample, never the
    dataset. Trees are plain numpy arrays.
  * **score**: trees are broadcast to executors; scoring is a
    vectorized Arrow ``pandas_udf`` that walks all rows through a tree
    level-synchronously (max depth ceil(log2 ψ)=8), so per-batch cost
    is ~trees × depth numpy ops, not per-row Python.

Scores follow the paper: ``s(x) = 2^(-E[h(x)]/c(ψ))`` in (0, 1], higher
= more anomalous. ``decision_function`` offers the sklearn-like
convention (higher = more normal, ~0 boundary): ``0.5 - s(x)``.
Exact sklearn score parity is impossible without cloning its RNG
(SURVEY.md §7 "what's hard" #2) — parity tests assert rank agreement.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .kernel import numpy_kernel
from .sampling import MAX_POOL, collect_sample


def _c_factor(n: int) -> float:
    """Average unsuccessful-search path length in a BST of n nodes —
    c(n) from the paper, used to normalize path lengths."""
    if n <= 1:
        return 0.0
    h = math.log(n - 1) + 0.5772156649015329
    return 2.0 * h - 2.0 * (n - 1) / n


class _Tree:
    """One isolation tree as flat arrays (feature, threshold, children,
    leaf size); -1 feature marks a leaf."""

    __slots__ = ("feature", "threshold", "left", "right", "size", "depth")

    def __init__(self, X: np.ndarray, rng: np.random.Generator, height_limit: int):
        if len(X) == 0:
            raise ValueError("_Tree: empty sample (no rows to fit)")
        cap = 4 * len(X)  # loose upper bound on node count
        self.feature = np.full(cap, -1, dtype=np.int32)
        self.threshold = np.zeros(cap, dtype=np.float64)
        self.left = np.full(cap, -1, dtype=np.int32)
        self.right = np.full(cap, -1, dtype=np.int32)
        self.size = np.zeros(cap, dtype=np.int32)
        self.depth = np.zeros(cap, dtype=np.int32)
        n_nodes = 0
        # (row_indices, depth, parent_slot, is_left)
        stack: list[tuple[np.ndarray, int, int, bool]] = [
            (np.arange(len(X)), 0, -1, False)
        ]
        while stack:
            idx, d, parent, is_left = stack.pop()
            node = n_nodes
            n_nodes += 1
            if parent >= 0:
                (self.left if is_left else self.right)[parent] = node
            self.size[node] = len(idx)
            self.depth[node] = d
            if d >= height_limit or len(idx) <= 1:
                continue
            Xi = X[idx]
            spans = Xi.max(axis=0) - Xi.min(axis=0)
            nonconst = np.flatnonzero(spans > 0)
            if len(nonconst) == 0:
                continue
            f = int(rng.choice(nonconst))
            lo, hi = Xi[:, f].min(), Xi[:, f].max()
            t = float(rng.uniform(lo, hi))
            mask = Xi[:, f] < t
            self.feature[node] = f
            self.threshold[node] = t
            stack.append((idx[mask], d + 1, node, True))
            stack.append((idx[~mask], d + 1, node, False))
        # trim
        for name in ("feature", "threshold", "left", "right", "size", "depth"):
            setattr(self, name, getattr(self, name)[:n_nodes].copy())

    def as_arrays(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Plain-numpy form for broadcasting: executors unpickle only
        numpy arrays, never this class (the engine package is not
        importable on arbitrary Python workers). ``leaf_value`` folds
        depth + c(leaf_size) so scoring needs no helper functions."""
        leaf_value = self.depth + np.array([_c_factor(s) for s in self.size])
        return (self.feature, self.threshold, self.left, self.right, leaf_value)


class IsolationForestModel:
    """Fit on a DataFrame feature column; score distributed via a
    broadcast-tree pandas_udf."""

    def __init__(
        self,
        n_estimators: int = 200,
        max_samples: int = 256,
        seed: int = 42,
    ):
        self.n_estimators = n_estimators
        self.max_samples = max_samples
        self.seed = seed
        # list of (feature, threshold, left, right, leaf_value) arrays
        self.trees: list[tuple[np.ndarray, ...]] | None = None
        self._c_psi: float = 1.0

    # -- fit ---------------------------------------------------------------

    def fit(self, df: DataFrame, features_col: str = "features") -> "IsolationForestModel":
        return self.fit_pool(collect_sample(df, features_col, MAX_POOL, self.seed))

    def fit_pool(self, pool: np.ndarray) -> "IsolationForestModel":
        """Build the forest from an already-collected sample pool —
        lets the ensemble share one pool collect across scorers. A
        1-row pool would make c(ψ) zero and every score 0/0."""
        if len(pool) < 2:
            raise ValueError(
                f"IsolationForestModel.fit: needs at least 2 rows to fit, got {len(pool)}"
            )
        rng = np.random.default_rng(self.seed)
        psi = min(self.max_samples, len(pool))
        self._c_psi = _c_factor(psi)
        height_limit = math.ceil(math.log2(max(psi, 2)))
        self.trees = []
        for _ in range(self.n_estimators):
            sub = pool[rng.choice(len(pool), size=psi, replace=False)]
            self.trees.append(_Tree(sub, rng, height_limit).as_arrays())
        return self

    # -- score -------------------------------------------------------------

    def score_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """Anomaly score s(x) ∈ (0,1], higher = more anomalous."""
        if self.trees is None:
            raise RuntimeError("fit() first")

        def _score(X: np.ndarray, trees: list, c_psi: float, n_trees: int) -> np.ndarray:
            total = np.zeros(len(X), dtype=np.float64)
            for feature, threshold, left, right, leaf_value in trees:
                node = np.zeros(len(X), dtype=np.int32)
                active = feature[node] >= 0
                while active.any():
                    cur = node[active]
                    f = feature[cur]
                    goes_left = X[active, f] < threshold[cur]
                    node[active] = np.where(goes_left, left[cur], right[cur])
                    active = feature[node] >= 0
                total += leaf_value[node]
            avg_path = total / n_trees
            return np.power(2.0, -avg_path / c_psi)

        return numpy_kernel(
            df, features_col, (self.trees, self._c_psi, self.n_estimators), _score
        )

    def decision_col(self, df: DataFrame, features_col: str = "features") -> Column:
        """sklearn-convention decision score: higher = more normal
        (model_wrapper.py:26-31 consumes this shape)."""
        return F.lit(0.5) - self.score_col(df, features_col)
