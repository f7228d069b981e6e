"""The one Arrow kernel builder behind every numpy scorer (IForest, LOF,
the reconstruction MSE and the MLP autoencoder).

``numpy_kernel`` broadcasts the fitted state once per column build and
wraps the scorer's numpy math in the package's only scorer
``pandas_udf``: each Arrow batch is stacked into an (n, d) float64
matrix and handed to ``fn(X, *state)``.

Python workers may be unable to import this package (a plain
``SparkSession`` with an arbitrary cwd and no executor PYTHONPATH), so
everything that crosses the wire is shipped by value: the UDF below is
nested, ``fn`` must be a function nested inside the scorer method and
reference only numpy and its arguments, and ``state`` holds plain
arrays and scalars. For the same reason the allocator tuning of
``memtune.tune_malloc`` is inlined here (those workers run without the
warm-fork daemon, so this is the only tuning they get).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .sampling import as_array


def numpy_kernel(
    df: DataFrame, col: str, state: tuple, fn: Callable[..., np.ndarray]
) -> Column:
    """Double column ``fn(X, *state)`` over the rows of ``col``, where X
    is one Arrow batch as an (n, d) float64 matrix."""
    b = df.sparkSession.sparkContext.broadcast(state)

    def kernel(batch: pd.Series) -> pd.Series:
        # mallopt(M_MMAP_THRESHOLD 512 MiB, M_TRIM_THRESHOLD 1 GiB,
        # M_TOP_PAD 256 MiB); memtune.py has the measured rationale.
        import ctypes

        try:
            _lc = ctypes.CDLL(None)
            _lc.mallopt(-3, 1 << 29), _lc.mallopt(-1, 1 << 30), _lc.mallopt(-2, 1 << 28)
        except Exception:
            pass
        return pd.Series(fn(np.stack(batch.to_numpy()), *b.value))

    kernel.__name__ = fn.__name__  # EXPLAIN names the UDF after the scorer's math
    return F.pandas_udf(kernel, T.DoubleType())(as_array(df, col))
