"""Result sinks (SURVEY.md §2.1 S4).

The reference persists one row per scored transaction into MySQL
``anomalies_log`` with autocommit single-row INSERTs
(python_scoring/app.py:208-230). Engine-native forms:

  * batch: ``write_scores_parquet`` / ``write_scores_jdbc`` — bulk
    appends; the parquet form is partitioned by ``risk_level``, so a
    read of one risk bucket prunes the others.
  * streaming: ``foreach_batch_parquet`` — a foreachBatch hook doing
    the same bulk write per micro-batch, exactly-once with a replayable
    source: Spark replays a batch whose write finished but whose
    commit-log entry did not, with the same ``batch_id`` and the same
    input, and each batch overwrites its own ``batch_id=<id>``
    directory, so the replay replaces the first write instead of adding
    to it.

``tests/test_storage.py`` runs the JDBC pair against embedded Derby,
whose jars ship on Spark's own classpath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_sink_timestamp(df: DataFrame) -> DataFrame:
    """The reference stamps rows server-side with NOW() at insert
    (app.py:215); engine form is current_timestamp at write."""
    return df.withColumn("timestamp", F.current_timestamp())


def write_scores_parquet(df: DataFrame, path: str, mode: str = "append") -> None:
    """S4, batch: bulk append partitioned by risk level (small, stable
    cardinality - enables partition-pruned reads of High-risk rows)."""
    with_sink_timestamp(df).write.mode(mode).partitionBy("risk_level").parquet(path)


def write_scores_jdbc(
    df: DataFrame,
    url: str,
    table: str = "anomalies_log",
    mode: str = "append",
    properties: dict | None = None,
) -> None:
    """S4, batch JDBC twin of the reference's INSERT loop — one bulk
    append, connections opened per partition by the JDBC writer."""
    with_sink_timestamp(df).write.mode(mode).jdbc(url, table, properties=properties or {})


def foreach_batch_parquet(path: str):
    """S4, streaming: foreachBatch hook writing each micro-batch to a
    parquet log — use as ``writeStream.foreachBatch(...)``.

    Batch ``id`` goes to ``path/batch_id=<id>`` with mode ``overwrite``,
    so a replayed batch replaces its earlier write; reading ``path``
    yields the ``batch_id`` column by partition discovery."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        with_sink_timestamp(batch_df).write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return _write
