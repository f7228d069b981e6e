"""SparkSession factory.

Defaults are chosen for the 100 TB design target (AQE on, skew-join
handling, partition coalescing) while remaining correct on
``local[*]``. Every knob is a plain public Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .memtune import tune_malloc

# Confs that must be in effect for the engine's plans to behave as
# designed. All of these are runtime-settable SQL confs, so they can
# also be applied to a session we didn't create (see ``configure``).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic time semantics: extracts (hour/year/...) follow the
    # session zone; pin UTC so results match the DuckDB oracle and are
    # reproducible across hosts.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning, partition coalescing, skew-join splits.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver's testdata writes TIMESTAMP(NANOS) parquet, which the
    # vectorized reader rejects; read as long and convert in the reader
    # (sources.readers handles the ns -> timestamp conversion).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Testdata timestamps carry no timezone (isAdjustedToUTC=false);
    # Spark 4 would infer TIMESTAMP_NTZ, which time arithmetic
    # (unix_micros, RANGE frames) rejects. Read them as session-local
    # TIMESTAMP instead — with the UTC session zone above this is
    # value-identical to DuckDB's naive-timestamp semantics, and keeps
    # ts predicates pushable into the parquet scan (no cast wrapper).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Arrow for every pandas_udf / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # InferFiltersFromGenerate turns every explode(expr) into
    # Filter(size(expr) > 0) + explode(expr), and filter pushdown then
    # sinks that filter below the repartition exchange. For the
    # engine's generator inputs — gram/shingle arrays built with
    # interpreted higher-order functions — this evaluates the whole
    # array expression TWICE per row, once serially on the unspread
    # scan partition (measured 10x on the shingle explode: 3.3s vs
    # 0.33s at sf0.1). The filter is semantically redundant: explode
    # with outer=false already emits nothing for empty/null arrays.
    # Scale-independent: the cost it removes grows with data size.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session.

    Used when the hosting environment (driver harness, notebook) built
    the session for us.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment; plans fall back gracefully.
            pass
    return spark


def get_spark(
    app_name: str = "financial-anomaly-detection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for tests and the
    bench harness; on a real cluster, pass ``None`` and submit with the
    cluster's own master config.
    """
    # Allocator tuning (memtune.py) for the DRIVER process only —
    # workers get it from the warm-fork daemon or, without it, from the
    # one kernel builder's preamble (ml/kernel.py); the JVM is
    # deliberately left untouched (see memtune.py for the measured
    # reasons).
    tune_malloc()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Generous broadcast threshold: profile/dimension tables are tiny
        # relative to the fact tables at every scale factor.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Warm-fork worker daemon (pydaemon.py): preloads numpy/pandas/
    # pyarrow pre-fork so spawned workers inherit warm imports via COW.
    # On this host class a fresh worker's import storm is the dominant
    # cost of a cold Python-kernel stage (measured: 32-task mapInPandas
    # with 135 s summed task wall vs 2.7 s JVM CPU — all worker spawn).
    # Guarded: only set when the module resolves from the driver, and
    # the package root travels in the executor env so the JVM-launched
    # daemon can import it regardless of cwd.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = builder.config(
        "spark.python.daemon.module", "financial_anomaly_detection_spark.pydaemon"
    ).config("spark.executorEnv.PYTHONPATH", pkg_root)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # Static-conf overrides (e.g. tools that need the UI REST API for
    # stage/shuffle metrics set spark.ui.enabled=true).
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = configure(builder.getOrCreate())
    # getOrCreate() on an ALREADY-RUNNING session ignores static confs
    # — and worse, it still copies the builder options into
    # spark.conf, so conf.get() REPORTS the requested value while the
    # running JVM never applied it (observed: ui.enabled reads 'true',
    # uiWebUrl is None). A tool depending on the conf then fails far
    # from the cause. The truthful source for a STATIC conf is the
    # SparkContext's own conf (fixed at startup); runtime SQL confs
    # (isModifiable) always take effect and need no check. Values are
    # compared as normalized strings (conf.get returns strings, so
    # {'spark.sql.shuffle.partitions': 8} must not trip on '8' != 8).
    for k, v in (extra_confs or {}).items():
        try:
            if spark.conf.isModifiable(k):
                continue
            actual = spark.sparkContext.getConf().get(k, None)
        except Exception:
            continue
        if actual is not None and str(actual).lower() != str(v).lower():
            raise RuntimeError(
                f"get_spark: requested static conf {k}={v!r} but the "
                f"running SparkSession was started with {k}={actual!r} "
                "(static confs cannot change after startup — stop the "
                "session first)"
            )
    return spark
