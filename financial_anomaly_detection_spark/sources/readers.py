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
    JDBC pushdown). Exercised only when a database is reachable — the
    test container ships none."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
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


def write_table_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (columnar interchange with Hive/Trino warehouses).

    ORC support is native in Spark (no extra package); predicate
    pushdown and column pruning work the same as parquet, so a table
    exported here remains scan-efficient for downstream engines.
    """
    w = df.write.mode("overwrite").format("orc")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the read side of :func:`write_table_orc`.

    Timestamps round-trip as TimestampType (ORC stores micros), so a
    parquet->ORC->read cycle is value-identical for every testdata
    column type.
    """
    configure(spark)
    return spark.read.orc(path)


def read_binary_assets(
    spark: SparkSession, path: str, pattern: str = "*", recursive: bool = False
) -> DataFrame:
    """Binary-asset source via Spark's built-in ``binaryFile`` format —
    the real ingestion path for multimodal corpora (images / audio /
    video as opaque bytes + typed metadata).

    Returns (path, modificationTime, length, content) rows; ``content``
    is the raw file bytes, ready for the tiered ``mapInPandas`` decode
    stages in ``operators/codecs.py`` / ``operators/multimodal.py``.
    At scale each file becomes at most one task input and small files
    batch together under ``spark.sql.files.maxPartitionBytes``, so the
    decode stage parallelizes by byte volume, not file count. Driver
    testdata ships no binary files, so tests synthesize assets with the
    repo's own encoders and ingest them through this reader.
    """
    configure(spark)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro DataSource actually resolves.

    Avro is an external Spark module (org.apache.spark:spark-avro);
    some distributions carry stray sql.avro CLASSES without the
    META-INF service registration, so a Class.forName probe lies —
    the only honest check is asking the reader to resolve the format
    (a missing PATH proves the source resolved; a missing SOURCE is
    the 'Failed to find data source' analysis error)."""
    try:
        spark.read.format("avro").schema("probe INT").load(
            "/nonexistent-avro-availability-probe"
        )
        return True
    except Exception as e:  # noqa: BLE001 — classify, don't mask
        return "Failed to find data source" not in str(e)


def read_table_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source (row-oriented interchange; Kafka-ecosystem native).

    Raises a clear error when the spark-avro module is absent — the
    test container ships without it, so coverage is an availability-
    gated pytest (the JDBC/Derby pattern)."""
    if not avro_available(spark):
        raise RuntimeError(
            "spark-avro module not on the classpath; add "
            "org.apache.spark:spark-avro to use Avro sources"
        )
    configure(spark)
    return spark.read.format("avro").load(path)


# XML's default timestamp pattern truncates to milliseconds; the
# testdata carries microsecond timestamps, so both sides of the
# round-trip pin a micro-precision pattern.
_XML_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def write_table_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """XML sink via Spark 4's built-in ``xml`` format (the spark-xml
    package donated into core as of 4.0 — no extra jar). XML is the
    interchange format regulators and legacy banking systems still
    mandate; the writer emits one ``row_tag`` element per row."""
    (
        df.write.mode("overwrite")
        .format("xml")
        .option("rowTag", row_tag)
        .option("timestampFormat", _XML_TS_FORMAT)
        .save(path)
    )


def read_table_xml(
    spark: SparkSession, path: str, row_tag: str = "row", schema: str | None = None
) -> DataFrame:
    """XML source — the read side of :func:`write_table_xml`.

    Schema inference samples the documents (an extra pass); production
    readers pass an explicit ``schema`` DDL so the scan is single-pass
    and malformed elements land in Spark's standard PERMISSIVE-mode
    null rows rather than failing the job."""
    configure(spark)
    r = (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("timestampFormat", _XML_TS_FORMAT)
    )
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def read_text_corpus(
    spark: SparkSession,
    path: str,
    whole_files: bool = False,
    pattern: str = "*",
) -> DataFrame:
    """Raw-text corpus source via Spark's built-in ``text`` format —
    the ingestion path for plain-text documents feeding the text
    analysis / dedup / tokenizer operators (operators/textops.py,
    operators/dedup.py).

    ``whole_files=False`` (default) yields one row per LINE (the
    JSONL-adjacent shape: each line is a document); ``whole_files=True``
    yields one row per FILE (``wholetext`` — books, articles), with
    the source path attached so downstream keeps a stable doc id.
    Both shapes scale by bytes under ``maxPartitionBytes``; wholetext
    keeps each file in one task, so shard oversized files upstream.
    """
    configure(spark)
    df = (
        spark.read.format("text")
        .option("wholetext", str(whole_files).lower())
        .option("pathGlobFilter", pattern)
        .load(path)
    )
    return df.select(
        F.input_file_name().alias("source_path"),
        F.col("value").alias("text"),
    )
