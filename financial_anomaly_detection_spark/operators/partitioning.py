"""Partition-layout helpers for Python-kernel stages.

Arrow ``pandas_udf`` / ``mapInPandas`` stages inherit the input's
partitioning, and a small parquet table arrives as ONE file partition —
which silently serializes a decode or scoring kernel onto one core
while the other 31 idle. ``spread_narrow`` widens such inputs to the
cluster's default parallelism before the Python stage; at real scale
the scan is already wide and this is a no-op (no exchange added).

This is the repartition the multimodal module's design notes call for
("decode as a mapInPandas stage after a repartition sized so one Arrow
batch of payloads fits executor memory") — centralized so every
Python-kernel call site applies it consistently.

The probe reads ``df.rdd.getNumPartitions()``. On a scan that is free,
but under AQE a plan with an exchange gets its partition count only at
run time, so probing it runs every upstream stage as a hidden Spark job
while the plan is being built. The scoring core's feature frame comes
out of a window shuffle, so it does not call the probe: ``ml/ensemble``
repartitions that frame unconditionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_narrow(df: DataFrame) -> DataFrame:
    """Repartition a batch DataFrame up to ``defaultParallelism`` if it
    has fewer partitions; pass streaming frames through untouched
    (micro-batch partitioning is the source's concern, and a streaming
    plan cannot be probed via ``.rdd``)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def sorted_group_map(df: DataFrame, keys: list[str], fn, schema) -> DataFrame:
    """``groupBy(*keys).applyInPandas(fn, schema)`` re-expressed as ONE
    sorted ``mapInPandas`` stage for the many-tiny-groups regime.

    ``applyInPandas`` pays a per-GROUP Arrow slice + python call + frame
    construction; with thousands of 2-5-row groups (LSH band buckets,
    entity blocks) that overhead IS the stage — measured on the x10
    near-dup replay drill: 8,397 buckets / 17k rows took 15.1 s as
    applyInPandas and 1.2 s as this operator (identical pair set). At
    100 TB the bucket-count/row-size ratio only grows, so the per-group
    constant is the scaling hazard, not the data.

    Semantics: hash-repartition on ``keys`` (each group lands whole in
    one partition), sort within partitions so each group is contiguous,
    then pandas-groupby INSIDE each Arrow batch. A group may straddle
    two consecutive Arrow batches (spark.sql.execution.arrow.
    maxRecordsPerBatch cuts blindly), so the last group of every batch
    is carried into the next and flushed at partition end — without
    this the straddled group is replayed as two fragments (observed:
    one missing pair at x10). ``fn`` receives exactly one whole group's
    frame per call, same contract as applyInPandas — INCLUDING null-key
    groups: groupby runs with ``dropna=False`` and the carry mask is
    null-safe (``==`` is always False against NaN/None, which would
    otherwise silently fragment a null-keyed group across a batch cut;
    Spark's groupBy().applyInPandas and DuckDB GROUP BY both keep the
    null group, so dropping it would break oracle hash parity)."""
    import pandas as pd

    def gen(batches):
        carry = None

        def flush(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.concat(
                [fn(g) for _, g in pdf.groupby(keys, sort=False, dropna=False)],
                ignore_index=True,
            )

        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last = pdf.iloc[-1]
            tail = None
            for k in keys:
                if pd.isna(last[k]):
                    m = pdf[k].isna()
                else:
                    m = pdf[k] == last[k]
                tail = m if tail is None else (tail & m)
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield flush(head)
        if carry is not None and len(carry):
            yield flush(carry)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(gen, schema=schema)
    )
