"""Statistics the benchmark reports: latency percentiles, ROC AUC and the
backlog-growth test. Pure Python, so the benchmark's tests check them
without Spark."""

from __future__ import annotations

import statistics

# A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    strictly beyond it, as ``(percentile, value)``; None when there are
    too few samples for any. With n samples that is the sample of rank
    n - 10 (1-based), the ``100 * (n - 10) / n`` percentile."""
    n = len(samples)
    k = n - TAIL_BEYOND
    if k < 1:
        return None
    return 100.0 * k / n, sorted(samples)[k - 1]


def roc_auc(scores: list[float], labels: list[int]) -> float:
    """Area under the ROC curve: the chance that a random positive
    scores above a random negative, ties counting one half (the
    Mann-Whitney form, with average ranks for ties)."""
    pairs = sorted(zip(scores, labels))
    n_pos = sum(labels)
    n_neg = len(labels) - n_pos
    if n_pos == 0 or n_neg == 0:
        raise ValueError("AUC needs both positive and negative labels")
    rank_sum = 0.0
    i = 0
    while i < len(pairs):
        j = i
        while j < len(pairs) and pairs[j][0] == pairs[i][0]:
            j += 1
        avg_rank = (i + 1 + j) / 2.0  # ranks i+1 .. j share their mean
        rank_sum += avg_rank * sum(lab for _, lab in pairs[i:j])
        i = j
    return (rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)


def drain_rate(bursts: list[tuple[list[tuple[float, int]], float]]) -> float:
    """Rows per second while a backlog stands. In each burst, each batch
    that served it drains its rows over the time since the previous batch
    ended (the burst's ``start`` for its first batch: when its backlog
    began). The result is the upper quartile of those rates over all
    bursts, the pace the system holds when it is not held up. A burst is
    ``(batches, start)``, with ``batches`` as ``(end_time, rows)``."""
    rates = []
    for batches, start in bursts:
        prev = start
        for end, rows in sorted(batches):
            rates.append(rows / (end - prev))
            prev = end
    return statistics.quantiles(rates, n=4)[2] if len(rates) > 1 else rates[0]


def slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of y over x."""
    n = len(points)
    if n < 2:
        return 0.0
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


def backlog_series(written: list[float], committed: list[float], times: list[float]) -> list[tuple[float, float]]:
    """Files written but not yet committed, at each of ``times``."""
    w = sorted(written)
    c = sorted(committed)
    out = []
    for t in times:
        out.append((t, float(sum(1 for x in w if x <= t) - sum(1 for x in c if x <= t))))
    return out


def backlog_growing(series: list[tuple[float, float]], min_rise: float = 2.0) -> bool:
    """True when the queue grows over the window: a positive trend that
    adds at least ``min_rise`` files across it. A queue that only
    fluctuates by a file or two around a level is not growing."""
    if len(series) < 3:
        return False
    span = series[-1][0] - series[0][0]
    return slope(series) * span >= min_rise


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as the benchmark's acceptance check computes it."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
