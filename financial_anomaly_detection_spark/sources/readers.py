"""Source readers (SURVEY.md §2.1, S1-S3, S5).

All readers return lazy DataFrames with explicit schemas so Catalyst
can prune columns and push predicates into the scan. The parquet
reader handles the driver testdata's TIMESTAMP(NANOS) columns, which
Spark's vectorized reader can't decode natively: with
``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as a long
of epoch-nanos and is converted to a proper TimestampType here
(truncated to micros, which matches DuckDB's microsecond timestamps
bit-for-bit — verified against ``epoch_us``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.partitioning import spread_narrow
from ..schemas import TRANSACTION_SCHEMA
from ..session import configure

# Testdata columns stored as parquet TIMESTAMP(NANOS) → long-of-nanos
# under the legacy conf; converted to TimestampType on read.
_NANO_TS_COLS: dict[str, list[str]] = {
    "events": ["ts"],
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table as a DataFrame.

    ``sf_dir`` is a scale-factor directory like ``/root/testdata/sf0.01``.
    """
    configure(spark)  # the hosting harness may not have set our confs
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, []):
        field = df.schema[col]
        if field.dataType.simpleString() == "bigint":
            # ns -> us truncation via integer division: exact, no
            # double-precision round-trip (ns values exceed 2^53).
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    # Fallback if inferTimestampNTZ couldn't be disabled (session.py):
    # normalize TIMESTAMP_NTZ columns to session-local TIMESTAMP so time
    # arithmetic (unix_micros, RANGE frames) resolves. UTC session zone
    # makes the cast value-preserving vs the oracle's naive timestamps.
    ntz_cols = [
        f.name for f in df.schema.fields
        if f.dataType.simpleString() == "timestamp_ntz"
    ]
    for col in ntz_cols:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    # A small-SF table arrives as ONE parquet file (one row group), so
    # every downstream map side — heavy projections, explodes, partial
    # aggregates — would run on one core while the rest idle. Spread to
    # default parallelism; a no-op once the scan is already wide (the
    # 100 TB case). Oracle-checked queries are partition-layout
    # independent by the integer-aggregation discipline (queries.py
    # docstring), so this changes wall-clock only.
    df = spread_narrow(df)
    return df


def read_transactions_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV transaction source (S1 — reference train.py:34-36).

    Explicit schema (no inference), header row, timestamp kept as a
    string for the coerce-parse step (F1) downstream.
    """
    return (
        spark.read.schema(TRANSACTION_SCHEMA)
        .option("header", True)
        .csv(path)
    )


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 16,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """JDBC source (S2/S3 — the reference's MySQL profile scans,
    python_scoring/app.py:121-135). Engine form reads the table once
    with partitioned parallelism instead of N+1 point queries; filters
    composed on the result push down into the remote query (Catalyst
    JDBC pushdown). A partitioned read needs both ``lower_bound`` and
    ``upper_bound``: Spark splits that range into ``num_partitions``
    strides of ``partition_column``."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        for name, bound in (("lower_bound", lower_bound), ("upper_bound", upper_bound)):
            if bound is None:
                raise ValueError(
                    f"read_jdbc_table: partition_column={partition_column!r} needs {name}"
                )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


# Input admitted per micro-batch: ~375k rows of TRANSACTION_SCHEMA as
# JSON lines, so a restart backlog is still a bounded batch.
MAX_BYTES_PER_TRIGGER = 64 * 1024 * 1024


def read_transactions_json_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming JSON transaction source (S5 — the REST-body analog).

    The reference receives one pydantic-validated JSON record per HTTP
    request (python_scoring/app.py:239-240); the engine-native form is
    a file/Kafka stream of JSON records with the same schema. Each
    micro-batch admits every file that has arrived since the last one,
    up to ``MAX_BYTES_PER_TRIGGER``: a batch's fixed cost (planning, the
    profile broadcasts, the sink's commit) is paid once per backlog, not
    once per file. The cap keeps the batch that follows a restart
    bounded; a single larger file is still admitted whole.
    """
    return (
        spark.readStream.schema(TRANSACTION_SCHEMA)
        .option("maxBytesPerTrigger", MAX_BYTES_PER_TRIGGER)
        .json(path)
    )
