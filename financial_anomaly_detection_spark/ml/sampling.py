"""Bounded, seeded training samples — the only fit-time data movement
of the driver-side scorers (IForest, LOF, the reconstruction scorer,
the MLP autoencoder and the ensemble's shared pool): O(n) rows at any
data scale."""

from __future__ import annotations

import numpy as np
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame, functions as F, types as T

# Row bound of the fit pool: the ensemble's shared pool, and the pool
# IsolationForestModel.fit / ReconstructionScorer.fit sample on their own.
MAX_POOL = 100_000


def as_array(df: DataFrame, col: str) -> Column:
    """``col`` (ML vector or numeric array) as ``array<double>`` — the
    form every Arrow kernel and sample collect consumes."""
    if isinstance(df.schema[col].dataType, T.ArrayType):
        return F.col(col).cast("array<double>")
    return vector_to_array(F.col(col)).cast("array<double>")


def collect_sample(df: DataFrame, col: str, n: int, seed: int) -> np.ndarray:
    """At most ``n`` rows of ``col`` as an (rows, d) float64 matrix: a
    seeded ``sample(n·1.2/total)`` capped by ``limit(n)``."""
    total = df.count()
    frac = min(1.0, (n * 1.2) / max(total, 1))
    sample = df.select(as_array(df, col).alias("_x"))
    if frac < 1.0:
        sample = sample.sample(fraction=frac, seed=seed)
    # Arrow batch transfer: same rows in the same order as collect(),
    # minus the per-Row pickle cost (~5x on a 100k-vector pool).
    # toPandas falls back to rows itself when Arrow cannot convert.
    vals = sample.limit(n).toPandas()["_x"].to_numpy()
    return np.stack(vals).astype(np.float64) if len(vals) else np.empty((0, 0))
