"""Benchmark of the fraud-scoring system: one command, three workloads.

    python3 perfbench/run.py --workload score_backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its per-layer
metrics). Lines before it give every metric under its workload-specific
name, with its unit, and notes. Exit code 0 on a correct run, 1 when the
system's output was wrong (the JSON then reports every input failed and
no metrics), 2 when the checkout holds no system to run.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the per-run directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "financial_anomaly_detection_spark"
WORK = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=["score_backfill", "stream_score", "retrain"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--build-fixture", metavar="DIR", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not args.workload and not args.build_fixture:
        p.error("--workload is required")
    return args


def isolate(run_dir: str) -> None:
    """Point every temp and scratch directory at the run directory, before
    Spark starts."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # JVM temp files too; -XX:-UsePerfData keeps the JVMs (the launcher's
    # and the driver's) from writing /tmp/hsperfdata_*.
    jvm = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm}".strip()
    # A 2 GB cap on the Spark driver's heap. With the package's default of 8 GB the heap
    # grew lazily and differently in every run: peak RSS and stream latency
    # then varied by a quarter between runs of the same code.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path.insert(0, ROOT)


def history_path(workload: str) -> str:
    return os.path.join(WORK, f"untraced-{workload}.jsonl")


def tracing_overhead(run) -> str:
    """The traced run's headline against the untraced runs of this
    workload recorded in this checkout."""
    path = history_path(run.workload)
    if not os.path.exists(path):
        return "tracing overhead: no untraced run of this workload recorded in this checkout yet"
    with open(path) as f:
        base = statistics.median(json.loads(line)["rows_per_s"] for line in f)
    traced = run.e2e["rows_per_s"][0]
    return (
        f"tracing overhead: rows_per_s {traced:.1f} traced vs {base:.1f} untraced median "
        f"({100 * (base - traced) / base:+.1f}% slower)"
    )


def reap(sampler) -> None:
    """Wait for every process the run started to end; stop any that
    outlive their owner (Spark's worker daemon can lag the JVM)."""
    deadline = time.time() + 10
    while sampler.live_descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in sampler.live_descendants():
        print(f"perfbench: stopping leftover process {pid}", file=sys.stderr)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while sampler.live_descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2

    import workloads  # after the package check: imports nothing of the system

    name = args.workload or "fixture"
    run_dir = os.path.join(WORK, f"run-{name}-{args.seed}-{os.getpid()}")
    isolate(run_dir)
    run = workloads.Run(name, args.seed, args.seconds, bool(args.trace), ROOT, run_dir)
    try:
        if args.build_fixture:
            workloads.build_fixture(run, args.build_fixture)
            return 0
        return execute(run)
    finally:
        try:
            workloads.stop_spark(run)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def execute(run) -> int:
    import workloads

    error = None
    with run.sampler:
        try:
            workloads.WORKLOADS[run.workload](run)
        except workloads.CheckFailed as e:
            error = f"correctness check failed: {e}"
        except Exception:  # the system failed: the run reports it as failed
            error = "run failed:\n" + traceback.format_exc()
        finally:
            workloads.stop_spark(run)
    reap(run.sampler)

    if error:
        print(error, file=sys.stderr)
        print("failed_ratio 1.0 ratio")
        print(json.dumps({"correct": False, "attempted": max(1, run.attempted),
                          "failed": max(1, run.attempted), "metrics": {}}))
        return 1

    workloads.record_memory(run)
    assert set(run.e2e) == set(workloads.END_TO_END), sorted(run.e2e)
    run.named["failed_ratio"] = (run.failed / run.attempted, "ratio")
    for key, (value, unit) in sorted(run.named.items()):
        print(f"{key} {value!r} {unit}")
    for text in run.notes:
        print(f"note: {text}")
    if run.traced:
        run.layer["trace.headline_rows_per_s"] = run.e2e["rows_per_s"]
        metrics = {}
        for key, unit in workloads.PER_LAYER.items():
            if key not in run.layer:
                print(f"absent: {key} (layer not exercised by {run.workload}; reported as 0)")
            metrics[key] = run.layer.get(key, (0.0, unit))
        print(tracing_overhead(run))
        for key, (total, self_time) in sorted(run.tracer.totals().items()):
            print(f"span {key} total {total:.6f} s self {self_time:.6f} s")
    else:
        metrics = run.e2e
        os.makedirs(WORK, exist_ok=True)
        with open(history_path(run.workload), "a") as f:
            f.write(json.dumps({"seed": run.seed, "rows_per_s": run.e2e["rows_per_s"][0]}) + "\n")
    print(json.dumps({
        "correct": True,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
