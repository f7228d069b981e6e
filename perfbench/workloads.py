"""The benchmark's three workloads and what each measures.

Each workload function takes a ``Run``, feeds the system files made by
``datagen`` from the run's seed, times calls into the system's public
functions, checks the outputs and fills ``run.e2e`` (the end-to-end
metrics of BENCHMARK.json), ``run.named`` (the same results under their
workload-specific names) and, in a traced run, ``run.layer``.

Spark and the system are imported inside the functions: ``run.py`` sets
the environment (temp and local dirs inside the checkout) first.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from time import perf_counter

import datagen
import measure
import spans

NCPU = len(os.sched_getaffinity(0))

# -- sizes, rates and thresholds ------------------------------------------------

BACKFILL_ROWS = 12_000
BACKFILL_INVALID_SHARE = 0.01
BACKFILL_INVALID_KINDS = ("invalid_timestamp", "missing_amount")
ONE_CORE_ROWS = 5_000
FIXTURE_SEED = 1_000_003
FIXTURE_ROWS = 20_000
RETRAIN_ROWS = 10_000
PROBE_ROWS = 1_500
HISTORY_ROWS = 8_000
STREAM_INVALID_SHARE = 0.03
# The warm-up files are processed before the schedule starts: the first
# micro-batches of a query pay its cold start, and batches keep getting
# faster for ten to twenty files. The generator then writes the rounds.
BUSY_ROWS = 2_000
WARMUP = datagen.Step("warmup", files=14, rows=BUSY_ROWS, tick_s=0.0)
# A round is a busy stretch, then a saturated burst: four files that land
# almost at once, so a backlog stands from the burst's first batch to its
# last. The rest after the burst lets the backlog drain (four batches of
# ~0.6-0.9 s) before the next busy file is due. Alternating the two
# rates spreads each metric's samples over the whole schedule, so a slow
# phase of the host weighs on both alike.
BUSY = datagen.Step("busy", files=8, rows=BUSY_ROWS, tick_s=1.25)
SATURATED = datagen.Step("saturated", files=4, rows=BUSY_ROWS, tick_s=0.05, rest_s=4.5)
ROUND_S = BUSY.files * BUSY.tick_s + SATURATED.files * SATURATED.tick_s + SATURATED.rest_s
# Three rounds give 24 busy files; fewer than 21 leave no percentile above
# the median with ten files beyond it.
MIN_ROUNDS = 3
PREFIX_REPEATS = 3
PROFILE_ANCHOR = "2024-06-01 00:00:00"
SETUP_REPEATS = 3
AUC_FLOOR = 0.80
RISK_LEVELS = {"Low", "Medium", "High"}
MB = 1024 * 1024


# The end-to-end metrics every run reports (BENCHMARK.json lists the same).
END_TO_END = ("setup_s", "rows_per_s", "latency_p50_ms", "latency_tail_ms", "detect_auc", "peak_rss_mb")

# Every per-layer metric a traced run reports, with its unit (BENCHMARK.json
# lists the same). A layer a workload does not exercise reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "ensemble.load_s": "s",
    "profiles.build_s": "s",
    "readers.csv_scan_s": "s",
    "plans.prepare_features_s": "s",
    "profiles.window_s": "s",
    "profiles.shuffle_bytes": "bytes",
    "features.transform_s": "s",
    "features.fit_s": "s",
    "iforest.kernel_s": "s",
    "lof.kernel_s": "s",
    "recon.kernel_s": "s",
    "scoring.rules_fusion_s": "s",
    "iforest.fit_s": "s",
    "lof.fit_s": "s",
    "recon.fit_s": "s",
    "ensemble.fit_self_s": "s",
    "ensemble.save_s": "s",
    "sinks.parquet_write_s": "s",
    "sinks.foreach_batch_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.rows_per_batch": "rows",
    "stream.empty_batch_ratio": "ratio",
    "readers.backlog_files_max": "files",
    "readers.backlog_growth_busy": "files/s",
    "readers.backlog_growth_saturated": "files/s",
    "loadgen.late_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "pyworkers.new": "count",
    "mem.jvm_rss_mb": "MB",
    "mem.pyworker_rss_mb": "MB",
    "retrain.train_s": "s",
    "scaling.score_rows_per_s_1core": "rows/s",
    "trace.headline_rows_per_s": "rows/s",
}


class CheckFailed(Exception):
    """The system's output was wrong; the run counts every input as failed."""


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, root: str, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.root = root
        self.run_dir = run_dir
        self.cache_dir = os.path.join(os.path.dirname(run_dir), "cache")
        self.tracer = spans.Tracer(traced)
        self.sampler = spans.ProcSampler()
        self.e2e: dict[str, tuple[float, str]] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.started = perf_counter()

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def note(self, text: str) -> None:
        self.notes.append(text)


# -- Spark session --------------------------------------------------------------


def spark_confs(run: Run) -> dict[str, str]:
    """Keep every file Spark and the JVM write inside the run directory."""
    confs = {
        "spark.local.dir": run.path("spark-local"),
        "spark.sql.warehouse.dir": "file:" + run.path("warehouse"),
    }
    if run.traced:
        confs["spark.ui.enabled"] = "true"
        confs["spark.ui.port"] = "0"
    return confs


def start_spark(run: Run, master: str | None = None):
    from financial_anomaly_detection_spark.session import get_spark

    run.spark = get_spark(
        app_name=f"perfbench-{run.workload}",
        master=master or f"local[{NCPU}]",
        extra_confs=spark_confs(run),
    )
    return run.spark


def stop_spark(run: Run) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if run.spark is None:
        return
    run.spark.stop()
    run.spark = None
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def timed_setup(fn, repeats: int = SETUP_REPEATS):
    """Run a set-up step ``repeats`` times; return the last result and
    the median time."""
    times, out = [], None
    for _ in range(repeats):
        t = perf_counter()
        out = fn()
        times.append(perf_counter() - t)
    return out, statistics.median(times)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Rest:
    """Spark REST task metrics for one job group (traced runs only)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.url = sc.uiWebUrl
        self.app = sc.applicationId

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def totals(self, name: str | None = None) -> dict[str, float]:
        spans.wait_listener_idle(self.url, self.app)
        return spans.stage_totals(self.url, self.app, name)


def report_spark_totals(run: Run, tot: dict[str, float]) -> None:
    run.layer["spark.executor_run_s"] = (tot["run_s"], "s")
    run.layer["spark.executor_cpu_s"] = (tot["cpu_s"], "s")
    run.layer["spark.gc_s"] = (tot["gc_s"], "s")
    run.layer["spark.shuffle_bytes"] = (tot["shuffle_bytes"], "bytes")
    run.layer["spark.spill_bytes"] = (tot["spill_bytes"], "bytes")
    run.layer["spark.tasks"] = (tot["tasks"], "count")


def prefix_times(run: Run, spark, csv: str, ens=None, rest: Rest | None = None) -> dict[str, float]:
    """Time the lazy batch layers by forcing cumulative prefixes of the
    scoring plan to a ``noop`` sink; a layer's time is its prefix minus
    the one before. Plans are warm here (the timed pass ran first)."""
    from financial_anomaly_detection_spark.operators.partitioning import spread_narrow
    from financial_anomaly_detection_spark.plans import scoring_plan
    from financial_anomaly_detection_spark.sources.readers import read_transactions_csv

    def force(name: str, df) -> float:
        if rest is not None:
            rest.group(f"prefix:{name}")
        times = []
        for _ in range(PREFIX_REPEATS):
            t = perf_counter()
            noop(df)
            times.append(perf_counter() - t)
        return statistics.median(times)

    tx = read_transactions_csv(spark, csv)
    p = {"read": force("read", tx)}
    window = scoring_plan.with_window_profiles
    scoring_plan.with_window_profiles = lambda df: df  # prefix without the window stage
    try:
        p["parse"] = force("parse", scoring_plan.prepare_transaction_features(tx))
    finally:
        scoring_plan.with_window_profiles = window
    features = scoring_plan.prepare_transaction_features(tx)
    p["prepare"] = force("prepare", features)
    if ens is not None:
        feats = spread_narrow(ens.feature_model.transform(features))
        p["transform"] = force("transform", feats)
        cols = feats
        for name, col in (
            ("iforest", lambda: ens.iforest.decision_col(feats)),
            ("lof", lambda: ens.lof.decision_col(feats)),
            ("recon", lambda: ens.recon.score_col(feats)),
        ):
            cols = cols.withColumn(f"_{name}", col())
            p[name] = force(name, cols)
        p["fusion"] = force("fusion", ens.transform(features, id_col="transaction_id"))
    return p


def report_prefixes(run: Run, p: dict[str, float], rest: Rest) -> None:
    run.layer["readers.csv_scan_s"] = (p["read"], "s")
    run.layer["plans.prepare_features_s"] = (p["parse"] - p["read"], "s")
    run.layer["profiles.window_s"] = (p["prepare"] - p["parse"], "s")
    shuffle = rest.totals("prefix:prepare")["shuffle_bytes"] / PREFIX_REPEATS
    run.layer["profiles.shuffle_bytes"] = (shuffle, "bytes")
    if "transform" in p:
        run.layer["features.transform_s"] = (p["transform"] - p["prepare"], "s")
        run.layer["iforest.kernel_s"] = (p["iforest"] - p["transform"], "s")
        run.layer["lof.kernel_s"] = (p["lof"] - p["iforest"], "s")
        run.layer["recon.kernel_s"] = (p["recon"] - p["lof"], "s")
        run.layer["scoring.rules_fusion_s"] = (p["fusion"] - p["recon"], "s")


def record_memory(run: Run) -> None:
    s = run.sampler
    run.e2e["peak_rss_mb"] = (s.peak_total / MB, "MB")
    run.named["peak_rss_mb"] = run.e2e["peak_rss_mb"]
    run.layer["mem.jvm_rss_mb"] = (s.peak_jvm / MB, "MB")
    run.layer["mem.pyworker_rss_mb"] = (s.peak_workers / MB, "MB")
    run.layer["pyworkers.new"] = (float(len(s.worker_pids)), "count")


# -- fixture bundle for score_backfill -------------------------------------------


def fixture_dir(run: Run) -> str:
    return os.path.join(run.cache_dir, "bundle")


def ensure_fixture(run: Run) -> str:
    """The saved bundle the nightly re-score loads. It is trained once per
    checkout, from a fixed seed, in a process of its own; later runs
    reuse it. Training is set-up the user does not repeat per run."""
    path = fixture_dir(run)
    if os.path.isdir(path):
        return path
    cmd = [sys.executable, os.path.join(run.root, "perfbench", "run.py"), "--build-fixture", path]
    subprocess.run(cmd, check=True, timeout=600, stdout=subprocess.DEVNULL)
    return path


def build_fixture(run: Run, path: str) -> None:
    from financial_anomaly_detection_spark.plans.scoring_plan import train_from_csv

    pop = datagen.population(FIXTURE_SEED)
    csv = run.path("fixture.csv")
    datagen.write_csv(csv, datagen.transactions(FIXTURE_SEED, FIXTURE_ROWS, pop, stream="fixture"))
    spark = start_spark(run)
    tmp = path + f".tmp-{os.getpid()}"
    train_from_csv(spark, csv, tmp)
    os.replace(tmp, path)


# -- score_backfill ---------------------------------------------------------------


def score_backfill(run: Run) -> None:
    from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble
    from financial_anomaly_detection_spark.plans.scoring_plan import score_transactions
    from financial_anomaly_detection_spark.sources.readers import read_transactions_csv
    from financial_anomaly_detection_spark.sources.sinks import write_scores_parquet

    tr = run.tracer
    bundle = ensure_fixture(run)
    pop = datagen.population(FIXTURE_SEED)  # the customers the bundle was trained on
    recs = datagen.transactions(
        run.seed, BACKFILL_ROWS, pop,
        invalid_share=BACKFILL_INVALID_SHARE, invalid_kinds=BACKFILL_INVALID_KINDS, stream="backfill",
    )
    csv = run.path("score.csv")
    datagen.write_csv(csv, recs)
    run.attempted = len(recs)
    valid = {r.tid: r.label for r in recs if r.error is None}

    t = perf_counter()
    with tr.span("session.start"):
        spark = start_spark(run)
    session_s = perf_counter() - t

    def load():
        with tr.span("ensemble.load"):
            return AnomalyEnsemble.load(spark, bundle)

    ens, load_s = timed_setup(load)
    setup_s = session_s + load_s
    rest = Rest(spark) if run.traced else None
    if rest:
        rest.group("timed")

    out = run.path("scores")
    t = perf_counter()
    with tr.span("backfill.pass"):
        scored = score_transactions(spark, read_transactions_csv(spark, csv), ensemble=ens)
        with tr.span("sinks.write_scores_parquet"):
            write_scores_parquet(scored, out, mode="overwrite")
    wall = perf_counter() - t

    got = spark.read.parquet(out).select("transaction_id", "aggregated_score", "risk_level").toPandas()
    run.failed = check_scored(got, valid, {r.tid for r in recs if r.error is not None})
    auc = measure.roc_auc(got["aggregated_score"].tolist(), [valid.get(t, 0) for t in got["transaction_id"]])
    normal_high = ((got["risk_level"] == "High") & (got["transaction_id"].map(valid) == 0)).sum()
    run.note(f"normal rows scored High: {normal_high} of {len(valid) - sum(valid.values())}")
    if auc < AUC_FLOOR:
        raise CheckFailed(f"detect_auc {auc:.4f} below floor {AUC_FLOOR}")

    rows_per_s = len(valid) / wall
    run.e2e.update(
        setup_s=(setup_s, "s"),
        rows_per_s=(rows_per_s, "rows/s"),
        latency_p50_ms=(wall * 1e3, "ms"),
        latency_tail_ms=(wall * 1e3, "ms"),
        detect_auc=(auc, "AUC"),
    )
    run.named.update(setup_s=(setup_s, "s"), score_rows_per_s=(rows_per_s, "rows/s"), detect_auc=(auc, "AUC"))
    if not run.traced:
        return

    run.layer["session.start_s"] = (session_s, "s")
    run.layer["ensemble.load_s"] = (load_s, "s")
    report_spark_totals(run, rest.totals("timed"))
    p = prefix_times(run, spark, csv, ens, rest)
    rest.group("prefix:write")
    writes = []
    for _ in range(PREFIX_REPEATS):
        t = perf_counter()
        write_scores_parquet(score_transactions(spark, read_transactions_csv(spark, csv), ensemble=ens), out, mode="overwrite")
        writes.append(perf_counter() - t)
    p["write"] = statistics.median(writes)
    report_prefixes(run, p, rest)
    run.layer["sinks.parquet_write_s"] = (p["write"] - p["fusion"], "s")
    for name in ("read", "parse", "prepare", "transform", "iforest", "lof", "recon", "fusion", "write"):
        tr.add(f"prefix.{name}", p[name])

    # The training layers, warm, in this session: retraining is the other
    # use of the ml.* and ml.features layers this pass loads.
    instrument_fit(run)
    rest.group("retrain")
    _, train_s, _ = train_and_check(run, spark, run.seed)
    run.layer["retrain.train_s"] = (train_s, "s")
    report_fit_layers(run)

    # Single-threaded baseline: the same pass at local[1] on a slice.
    one = run.path("one-core.csv")
    datagen.write_csv(one, recs[:ONE_CORE_ROWS])
    n_one = sum(1 for r in recs[:ONE_CORE_ROWS] if r.error is None)
    run.spark.stop()
    spark = start_spark(run, master="local[1]")
    ens = AnomalyEnsemble.load(spark, bundle)
    t = perf_counter()
    write_scores_parquet(score_transactions(spark, read_transactions_csv(spark, one), ensemble=ens), run.path("one-core"))
    run.layer["scaling.score_rows_per_s_1core"] = (n_one / (perf_counter() - t), "rows/s")


def check_scored(got, valid: dict[str, int], invalid: set[str]) -> int:
    """Inputs neither correctly scored nor correctly rejected: valid rows
    missing or duplicated, rows with a bad risk level or score, and
    invalid rows that came out scored."""
    counts = got["transaction_id"].value_counts()
    bad = 0
    bad += sum(1 for t in valid if counts.get(t, 0) != 1)
    bad += sum(1 for t in invalid if counts.get(t, 0) != 0)
    bad += int((~got["risk_level"].isin(RISK_LEVELS)).sum())
    bad += int(got["aggregated_score"].isna().sum())
    bad += int((~got["transaction_id"].isin(valid.keys()) & ~got["transaction_id"].isin(invalid)).sum())
    if bad:
        raise CheckFailed(f"{bad} inputs neither correctly scored nor correctly rejected")
    return bad


# -- retrain -------------------------------------------------------------------------


def instrument_fit(run: Run) -> None:
    """Spans around the fit calls of every training layer (traced runs)."""
    from financial_anomaly_detection_spark.ml import iforest, lof, reconstruction
    from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble
    from pyspark.ml import Pipeline

    tr = run.tracer
    spans.instrument(tr, Pipeline, "fit", "features.fit")
    spans.instrument(tr, AnomalyEnsemble, "_fit_scorers", "ensemble.fit_scorers")
    spans.instrument(tr, AnomalyEnsemble, "save", "ensemble.save")
    spans.instrument(tr, iforest.IsolationForestModel, "fit_pool", "iforest.fit")
    spans.instrument(tr, lof.LOFNoveltyModel, "fit_pool", "lof.fit")
    spans.instrument(tr, reconstruction.ReconstructionScorer, "fit", "recon.fit")


def report_fit_layers(run: Run) -> None:
    totals = run.tracer.totals()
    for span_name, metric in (
        ("features.fit", "features.fit_s"),
        ("iforest.fit", "iforest.fit_s"),
        ("lof.fit", "lof.fit_s"),
        ("recon.fit", "recon.fit_s"),
        ("ensemble.save", "ensemble.save_s"),
    ):
        run.layer[metric] = (totals.get(span_name, (0.0, 0.0))[0], "s")
    # Self time of the scorer fit: the shared pool collect and the split.
    run.layer["ensemble.fit_self_s"] = (totals.get("ensemble.fit_scorers", (0.0, 0.0))[1], "s")


def train_and_check(run: Run, spark, seed: int) -> tuple[str, float, float]:
    """``train_from_csv`` over a seeded CSV, timed; then the saved bundle
    must reload and score a fixed probe set exactly as the in-memory
    ensemble does. Returns the training CSV, the training time and the
    probe set's detect AUC."""
    from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble
    from financial_anomaly_detection_spark.plans.scoring_plan import score_transactions, train_from_csv
    from financial_anomaly_detection_spark.sources.readers import read_transactions_csv

    pop = datagen.population(seed)
    probe = datagen.transactions(seed, PROBE_ROWS, pop, first_id=10_000_000, stream="probe")
    csv, probe_csv = run.path("train.csv"), run.path("probe.csv")
    datagen.write_csv(csv, datagen.transactions(seed, RETRAIN_ROWS, pop, stream="train"))
    datagen.write_csv(probe_csv, probe)

    model_dir = run.path("bundle")
    t = perf_counter()
    with run.tracer.span("retrain.train_from_csv"):
        ens = train_from_csv(spark, csv, model_dir)
    train_s = perf_counter() - t

    loaded = AnomalyEnsemble.load(spark, model_dir)
    cols = ["transaction_id", "aggregated_score", "risk_level",
            "anomaly_score_iforest", "anomaly_score_lof", "anomaly_score_ae"]
    a, b = (
        score_transactions(spark, read_transactions_csv(spark, probe_csv), ensemble=e)
        .select(*cols).toPandas().set_index("transaction_id").sort_index()
        for e in (ens, loaded)
    )
    labels = {r.tid: r.label for r in probe}
    check_scored(a.reset_index(), labels, set())
    if not a.index.equals(b.index):
        raise CheckFailed("reloaded bundle scored a different set of probe rows")
    diff = a["risk_level"] != b["risk_level"]
    for c in cols[1:]:
        if c != "risk_level":
            diff |= (a[c] - b[c]).abs() > 1e-9
    if diff.any():
        raise CheckFailed(f"reloaded bundle scores {int(diff.sum())} probe rows differently")
    auc = measure.roc_auc(a["aggregated_score"].tolist(), [labels[t] for t in a.index])
    if auc < AUC_FLOOR:
        raise CheckFailed(f"retrain detect_auc {auc:.4f} below floor {AUC_FLOOR}")
    return csv, train_s, auc


def retrain(run: Run) -> None:
    """Not in BENCHMARK.json (see README.md); its layers are measured in
    the traced ``score_backfill`` run."""
    if run.traced:
        instrument_fit(run)
    t = perf_counter()
    with run.tracer.span("session.start"):
        spark = start_spark(run)
    setup_s = perf_counter() - t
    rest = Rest(spark) if run.traced else None
    if rest:
        rest.group("timed")
    run.attempted = PROBE_ROWS
    csv, train_s, auc = train_and_check(run, spark, run.seed)

    rows_per_s = RETRAIN_ROWS / train_s
    run.e2e.update(
        setup_s=(setup_s, "s"),
        rows_per_s=(rows_per_s, "rows/s"),
        latency_p50_ms=(train_s * 1e3, "ms"),
        latency_tail_ms=(train_s * 1e3, "ms"),
        detect_auc=(auc, "AUC"),
    )
    run.named.update(setup_s=(setup_s, "s"), train_s=(train_s, "s"), detect_auc=(auc, "AUC"))
    if not run.traced:
        return
    run.layer["session.start_s"] = (setup_s, "s")
    run.layer["retrain.train_s"] = (train_s, "s")
    report_spark_totals(run, rest.totals("timed"))
    report_fit_layers(run)
    report_prefixes(run, prefix_times(run, spark, csv, rest=rest), rest)


# -- stream_score ------------------------------------------------------------------------


def stream_score(run: Run) -> None:
    pop = datagen.population(run.seed)
    history = datagen.transactions(run.seed, HISTORY_ROWS, pop, days=(0, 88), anomaly_share=0.0, stream="history")
    hist_csv = run.path("history.csv")
    datagen.write_csv(hist_csv, history)
    rounds = max(MIN_ROUNDS, round(run.seconds / ROUND_S))
    files = datagen.stream_files(run.seed, pop, [WARMUP] + [BUSY, SATURATED] * rounds, STREAM_INVALID_SHARE)
    records = [r for f in files for r in f.records]
    run.attempted = len(records)
    spool, src = run.path("spool"), run.path("source")
    os.makedirs(spool)
    os.makedirs(src)
    for f in files:
        with open(os.path.join(spool if f.step != "warmup" else src, f.name), "wb") as fh:
            fh.write(f.payload())
    schedule = run.path("schedule.json")
    with open(schedule, "w") as fh:
        json.dump([{"name": f.name, "due_s": f.due_s} for f in files if f.step != "warmup"], fh)
    gen_log = run.path("loadgen.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(run.root, "perfbench", "loadgen.py"), spool, schedule, src, gen_log],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        _stream_run(run, gen, files, hist_csv, src, gen_log)
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait(timeout=30)


def _stream_run(run: Run, gen, files, hist_csv: str, src: str, gen_log: str) -> None:
    from pyspark.sql import functions as F

    from financial_anomaly_detection_spark.operators.profiles import customer_profile, merchant_profile
    from financial_anomaly_detection_spark.sources.readers import (
        read_transactions_csv,
        read_transactions_json_stream,
    )
    from financial_anomaly_detection_spark.sources.sinks import foreach_batch_parquet
    from financial_anomaly_detection_spark.streaming.score_stream import (
        build_scoring_stream,
        split_valid_invalid,
    )

    tr = run.tracer
    t = perf_counter()
    with tr.span("session.start"):
        spark = start_spark(run)
    session_s = perf_counter() - t
    if run.traced:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")

    profiles: list = []

    def build_profiles():
        with tr.span("profiles.build"):
            for df in profiles:
                df.unpersist()
            hist = read_transactions_csv(spark, hist_csv).withColumn(
                "timestamp", F.try_to_timestamp("timestamp")
            )
            cust = customer_profile(hist, anchor=PROFILE_ANCHOR).cache()
            merch = merchant_profile(hist, anchor=PROFILE_ANCHOR).cache()
            cust.count()
            merch.count()
            profiles[:] = [cust, merch]
            return cust, merch

    (cust, merch), profile_s = timed_setup(build_profiles)

    out, ckpt = run.path("committed"), run.path("checkpoint")
    sink = foreach_batch_parquet(out)
    commits: list[tuple[int, float, float]] = []

    def timed_sink(batch_df, batch_id):
        t0 = time.time()
        sink(batch_df, batch_id)
        commits.append((batch_id, t0, time.time()))

    t = perf_counter()
    with tr.span("stream.start"):
        valid, _ = split_valid_invalid(read_transactions_json_stream(spark, src))
        query = (
            build_scoring_stream(valid, cust, merch)
            .writeStream.foreachBatch(timed_sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
    start_s = perf_counter() - t
    setup_s = session_s + profile_s + start_s
    t = perf_counter()
    query.processAllAvailable()  # the warm-up files
    run.note(
        f"stream set-up done at {perf_counter() - run.started:.1f} s: session {session_s:.1f} s, "
        f"profile build {profile_s:.1f} s (median of {SETUP_REPEATS}), warm-up {perf_counter() - t:.1f} s"
    )

    if gen.stdout.readline().strip() != "ready":
        raise RuntimeError("load generator failed to start")
    gen.stdin.write(f"{time.time() + 0.2}\n")
    gen.stdin.flush()
    with tr.span("stream.schedule"):
        if gen.wait(timeout=300) != 0:
            raise RuntimeError("load generator failed")
        query.processAllAvailable()
    progress = query.recentProgress if run.traced else []
    query.stop()
    run.note(f"stream schedule done at {perf_counter() - run.started:.1f} s")
    t_check = perf_counter()

    with open(gen_log) as fh:
        log = json.load(fh)
    timed = [f for f in files if f.step != "warmup"]
    t0 = log["t0"]
    written = {f.index: w for f, w in zip(timed, log["written"])}
    late_ms = max(written[f.index] - (t0 + f.due_s) for f in timed) * 1e3

    # Which batch committed which file: file index = id div FILE_ID_STRIDE.
    committed = spark.read.parquet(out)
    per_batch = (
        committed.groupBy("batch_id", (F.col("transaction_id").cast("long") / datagen.FILE_ID_STRIDE).cast("long").alias("file"))
        .count()
        .collect()
    )
    batch_end = {b: end for b, _, end in commits}
    file_commit: dict[int, float] = {}
    file_rows: dict[int, int] = {}
    for row in per_batch:
        file_commit[row["file"]] = max(file_commit.get(row["file"], 0.0), batch_end[row["batch_id"]])
        file_rows[row["file"]] = file_rows.get(row["file"], 0) + row["count"]

    run.failed = check_stream(spark, committed, src, files, cust, merch)

    def step_files(step):
        return [f for f in files if f.step == step]

    latency = {}
    for step in ("busy",):
        lat = [(file_commit[f.index] - (t0 + f.due_s)) * 1e3 for f in step_files(step)]
        p50 = statistics.median(lat)
        pct, tail_v = measure.tail(lat)
        latency[step] = (p50, tail_v, pct, len(lat))
        run.note(f"{step} latencies ms, in file order: {' '.join(str(round(x)) for x in lat)}")

    bursts = step_runs(files, "saturated")
    drain = drain_rate(commits, file_commit, file_rows, bursts, written)
    for burst in bursts:
        ends = sorted({file_commit[f.index] for f in burst})
        run.note("saturated batch gaps ms: " + " ".join(str(round((b - a) * 1e3)) for a, b in zip(ends, ends[1:])))

    run.note(f"stream check took {perf_counter() - t_check:.1f} s")
    scores = committed.select("transaction_id", "aggregated_score").toPandas()
    labels = {r.tid: r.label for f in files for r in f.records}
    auc = measure.roc_auc(scores["aggregated_score"].tolist(), [labels[t] for t in scores["transaction_id"]])
    if auc < AUC_FLOOR:
        raise CheckFailed(f"detect_auc {auc:.4f} below floor {AUC_FLOOR}")

    p50, tail_v, pct, n = latency["busy"]
    run.e2e.update(
        setup_s=(setup_s, "s"),
        rows_per_s=(drain, "rows/s"),
        latency_p50_ms=(p50, "ms"),
        latency_tail_ms=(tail_v, "ms"),
        detect_auc=(auc, "AUC"),
    )
    run.named["setup_s"] = (setup_s, "s")
    for step, (s50, stail, spct, sn) in latency.items():
        run.named[f"stream_p50_ms.{step}"] = (s50, "ms")
        run.named[f"stream_tail_ms.{step}"] = (stail, "ms")
        run.note(f"{step}: {sn} files, tail is p{spct:.1f}")
    run.named["stream_drain_tx_per_s"] = (drain, "tx/s")
    run.named["detect_auc"] = (auc, "AUC")
    if not run.traced:
        return

    run.layer["session.start_s"] = (session_s, "s")
    run.layer["profiles.build_s"] = (profile_s, "s")
    run.layer["loadgen.late_ms"] = (late_ms, "ms")
    run.layer["sinks.foreach_batch_ms"] = (statistics.median((e - s) * 1e3 for _, s, e in commits), "ms")
    data = [p for p in progress if p["numInputRows"] > 0]
    for key, metric in (
        ("latestOffset", "stream.latest_offset_ms"),
        ("queryPlanning", "stream.planning_ms"),
        ("addBatch", "stream.add_batch_ms"),
        ("walCommit", "stream.wal_commit_ms"),
        ("triggerExecution", "stream.trigger_ms"),
    ):
        run.layer[metric] = (statistics.median(p["durationMs"].get(key, 0) for p in data), "ms")
    run.layer["stream.rows_per_batch"] = (statistics.median(p["numInputRows"] for p in data), "rows")
    run.layer["stream.empty_batch_ratio"] = (1 - len(data) / max(1, len(progress)), "ratio")
    done = [file_commit[f.index] for f in timed]
    peak = 0.0
    for step in ("busy", "saturated"):
        slopes, growing = [], 0
        for fs in step_runs(files, step):
            lo, hi = t0 + fs[0].due_s, max(file_commit[f.index] for f in fs)
            times = [lo + i * 0.25 for i in range(int((hi - lo) / 0.25) + 1)]
            series = measure.backlog_series(list(written.values()), done, times)
            peak = max(peak, max(v for _, v in series))
            slopes.append(measure.slope(series))
            growing += measure.backlog_growing(series)
        run.layer[f"readers.backlog_growth_{step}"] = (statistics.median(slopes), "files/s")
        run.note(f"{step}: backlog grows in {growing} of {len(slopes)} rounds")
    run.layer["readers.backlog_files_max"] = (peak, "files")
    report_spark_totals(run, Rest(spark).totals())


def step_runs(files, step: str) -> list[list]:
    """The files of ``step``, split into its rounds (runs of consecutive
    files)."""
    runs: list[list] = []
    prev = None
    for f in files:
        if f.step == step:
            if prev != step:
                runs.append([])
            runs[-1].append(f)
        prev = f.step
    return runs


def drain_rate(commits, file_commit, file_rows, bursts, written) -> float:
    """``stream_drain_tx_per_s``: rows per second of each batch that
    served a saturated burst, from when the burst's backlog began."""
    timed = []
    for burst in bursts:
        per_batch: dict[float, int] = {}
        for f in burst:
            per_batch[file_commit[f.index]] = per_batch.get(file_commit[f.index], 0) + file_rows[f.index]
        first_end = min(per_batch)
        before = [end for _, _, end in commits if end < first_end]
        start = max([min(written[f.index] for f in burst)] + before)
        timed.append((list(per_batch.items()), start))
    return measure.drain_rate(timed)


def check_stream(spark, committed, src: str, files, cust, merch) -> int:
    """The committed rows must equal ``build_scoring_stream`` replayed
    over the same records as a static frame, and every invalid record
    must be rejected with its planted error and never committed."""
    from financial_anomaly_detection_spark.schemas import TRANSACTION_SCHEMA
    from financial_anomaly_detection_spark.streaming.score_stream import (
        build_scoring_stream,
        split_valid_invalid,
    )

    valid, invalid = split_valid_invalid(spark.read.schema(TRANSACTION_SCHEMA).json(src))
    expected = build_scoring_stream(valid, cust, merch)
    got = committed.select(*expected.columns)
    bad = expected.exceptAll(got).count() + got.exceptAll(expected).count()
    planted = {r.tid: r.error for f in files for r in f.records if r.error is not None}
    rejected = {r["transaction_id"]: r["error"] for r in invalid.select("transaction_id", "error").collect()}
    bad += sum(1 for t, e in planted.items() if rejected.get(t) != e)
    bad += sum(1 for t in rejected if t not in planted)
    if bad:
        raise CheckFailed(f"{bad} stream inputs neither correctly scored nor correctly rejected")
    return bad


WORKLOADS = {
    "score_backfill": score_backfill,
    "stream_score": stream_score,
    "retrain": retrain,
}
