"""Tracing and resource sampling, all from the benchmark's side.

* ``Tracer`` keeps spans (name, start, end, parent) in memory; a layer's
  self time is its span time minus the time its child spans cover.
* ``instrument`` wraps a method of the system so every call becomes a
  span, without touching the system's files.
* ``ProcSampler`` sums the RSS of this process and all its descendants
  (the JVM and its Python workers) from ``/proc``.
* ``stage_totals`` reads task metrics from Spark's REST API (traced runs
  only: end-to-end runs keep the UI off).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """In-memory spans. A disabled tracer records nothing and costs one
    attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, seconds: float) -> None:
        """Record a duration measured elsewhere (prefix subtraction) as a
        root span of that length."""
        if self.enabled:
            now = time.perf_counter()
            self.spans.append(Span(name, now - seconds, now))

    def totals(self) -> dict[str, tuple[float, float]]:
        """Per span name: (total duration, total self time) in seconds."""
        out: dict[str, tuple[float, float]] = {}
        for s in self.spans:
            dur = s.end - s.start
            covered = _union_length([(self.spans[c].start, self.spans[c].end) for c in s.children])
            tot, self_t = out.get(s.name, (0.0, 0.0))
            out[s.name] = (tot + dur, self_t + dur - covered)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def instrument(tracer: Tracer, owner, attr: str, name: str) -> bool:
    """Replace ``owner.attr`` (a function or method) by a wrapper that
    records a span per call. Returns False when the attribute does not
    exist, so the caller can report the layer as absent."""
    if not tracer.enabled or not hasattr(owner, attr):
        return False
    raw = owner.__dict__.get(attr, getattr(owner, attr))
    is_classmethod = isinstance(raw, classmethod)
    fn = raw.__func__ if is_classmethod else raw

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, classmethod(wrapper) if is_classmethod else wrapper)
    return True


# -- /proc sampling -----------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        lp, rp = stat.find("("), stat.rfind(")")
        comm = stat[lp + 1 : rp]
        ppid = int(stat[rp + 2 :].split()[1])
        out[int(d)] = (ppid, comm, rss)
    return out


def descendants(root: int, table: dict[int, tuple[int, str, int]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class ProcSampler:
    """Samples summed RSS of this process tree every ``interval_s``.

    Python workers are the python processes below the JVM; every distinct
    worker pid seen counts as one spawn (a worker that lives shorter than
    one interval can be missed)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_total = 0
        self.peak_jvm = 0
        self.peak_workers = 0
        self.worker_pids: set[int] = set()
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        tree = [me] + descendants(me, table)
        total = sum(table[p][2] for p in tree if p in table)
        jvm = [p for p in tree if table.get(p, (0, ""))[1] == "java"]
        workers = []
        for j in jvm:
            workers += [p for p in descendants(j, table) if table[p][1].startswith("python")]
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, sum(table[p][2] for p in jvm))
        self.peak_workers = max(self.peak_workers, sum(table[p][2] for p in workers))
        self.worker_pids.update(workers)
        self.samples += 1

    def live_descendants(self) -> list[int]:
        return descendants(os.getpid(), _proc_table())


# -- Spark REST API -----------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def stage_totals(ui_url: str, app_id: str, job_group: str | None = None) -> dict[str, float]:
    """Summed task metrics over completed stages, optionally only those of
    one job group (``SparkContext.setJobGroup``)."""
    base = f"{ui_url}/api/v1/applications/{app_id}"
    stages = _get(f"{base}/stages?status=complete")
    if job_group is not None:
        wanted: set[int] = set()
        for job in _get(f"{base}/jobs"):
            if job.get("jobGroup") == job_group:
                wanted.update(job.get("stageIds", []))
        stages = [s for s in stages if s["stageId"] in wanted]
    tot = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "tasks": 0.0}
    for s in stages:
        tot["run_s"] += s.get("executorRunTime", 0) / 1e3
        tot["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        tot["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        tot["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
        tot["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        tot["tasks"] += s.get("numCompleteTasks", 0)
    return tot


def wait_listener_idle(ui_url: str, app_id: str, timeout_s: float = 10.0) -> None:
    """The UI's listener lags the scheduler; wait until no job is running."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        jobs = _get(f"{ui_url}/api/v1/applications/{app_id}/jobs")
        if not any(j.get("status") == "RUNNING" for j in jobs):
            return
        time.sleep(0.2)
