"""Tests of the benchmark's own generator and statistics (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import measure  # noqa: E402


def _inputs_digest(seed: int, tmp_path) -> str:
    """Digest of every file a run would feed the system for ``seed``."""
    pop = datagen.population(seed, n_customers=200)
    h = hashlib.sha256()
    csv = tmp_path / f"score-{seed}.csv"
    datagen.write_csv(str(csv), datagen.transactions(seed, 3_000, pop, invalid_share=0.02, stream="backfill"))
    h.update(csv.read_bytes())
    steps = [datagen.Step("busy", 3, 200, 1.5), datagen.Step("saturated", 2, 200, 0.05)]
    for f in datagen.stream_files(seed, pop, steps, 0.03):
        h.update(f.name.encode())
        h.update(f.payload())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _inputs_digest(7, tmp_path) == _inputs_digest(7, tmp_path)
    assert _inputs_digest(7, tmp_path) != _inputs_digest(8, tmp_path)


def test_generator_plants_anomalies_and_invalid_records():
    pop = datagen.population(3)
    recs = datagen.transactions(3, 20_000, pop, invalid_share=0.03)
    anomalies = sum(r.label for r in recs)
    invalid = [r for r in recs if r.error is not None]
    assert abs(anomalies / len(recs) - datagen.ANOMALY_SHARE) < 0.005
    assert abs(len(invalid) / len(recs) - 0.03) < 0.005
    assert not any(r.label for r in invalid)
    assert {r.error for r in invalid} == set(datagen.INVALID_KINDS)


def test_stream_schedule_ticks_rests_and_file_ids():
    pop = datagen.population(1, n_customers=50)
    busy, burst = datagen.Step("busy", 3, 10, 1.5), datagen.Step("saturated", 2, 10, 0.05, rest_s=5.0)
    files = datagen.stream_files(1, pop, [busy, burst, busy], 0.0)
    assert [f.due_s for f in files] == [0.0, 1.5, 3.0, 4.5, 4.55, 9.6, 11.1, 12.6]
    for f in files:
        assert {int(r.tid) // datagen.FILE_ID_STRIDE for r in f.records} == {f.index}


def test_tail_needs_ten_files_beyond_it():
    assert measure.tail(list(range(10))) is None
    pct, value = measure.tail([float(x) for x in range(11)])
    assert (pct, value) == (100.0 / 11, 0.0)  # ten samples lie beyond the lowest
    samples = [float(x) for x in range(1, 31)]  # 30 files: rank 20 is the tail
    pct, value = measure.tail(list(reversed(samples)))
    assert value == 20.0
    assert pct == pytest.approx(200.0 / 3)
    assert sum(1 for s in samples if s > value) == measure.TAIL_BEYOND


def test_auc_matches_hand_computed_case():
    # Positives score 0.9 and 0.4; negatives 0.8, 0.4 and 0.1. Of the six
    # positive-negative pairs, 0.9 wins 3, 0.4 wins 1 and ties 1: 4.5 / 6.
    scores = [0.9, 0.8, 0.4, 0.4, 0.1]
    labels = [1, 0, 1, 0, 0]
    assert measure.roc_auc(scores, labels) == pytest.approx(0.75)
    assert measure.roc_auc([1.0, 0.0], [1, 0]) == 1.0
    assert measure.roc_auc([0.5, 0.5], [1, 0]) == 0.5
    with pytest.raises(ValueError):
        measure.roc_auc([0.1, 0.2], [0, 0])


def test_backlog_detector_flags_a_growing_queue_and_passes_a_flat_one():
    times = [i * 0.25 for i in range(41)]
    # Growing: a file lands every 0.25 s, one commits every 0.5 s.
    written = [t for t in times]
    committed = [t + 0.2 for t in times[::2]]
    growing = measure.backlog_series(written, committed, times)
    assert measure.backlog_growing(growing)
    assert measure.slope(growing) == pytest.approx(2.0, rel=0.1)
    # Flat: every file commits 0.3 s after it lands.
    flat = measure.backlog_series(written, [t + 0.3 for t in written], times)
    assert not measure.backlog_growing(flat)
    assert max(v for _, v in flat) <= 2


def test_drain_rate_is_the_upper_quartile_batch_rate():
    # Backlog from t=10; batches end 1 s apart, two slow ones at 2 s and 4 s.
    batches = [(11.0, 2000), (13.0, 2000), (14.0, 2000), (18.0, 2000), (19.0, 2000)]
    assert measure.drain_rate([(batches, 10.0)]) == 2000.0
    # Two bursts; rates 1000 three times, then 2000 four times.
    first = [(10.0, 2000), (12.0, 2000), (14.0, 2000)]
    second = [(31.0, 2000), (32.0, 2000), (33.0, 2000), (34.0, 2000)]
    assert measure.drain_rate([(first, 8.0), (second, 30.0)]) == 2000.0
    assert measure.drain_rate([(first, 8.0)]) == 1000.0
    # One batch that serves the whole backlog.
    assert measure.drain_rate([([(12.0, 10_000)], 10.0)]) == 5000.0


def test_quartile_spread():
    assert measure.quartile_spread([10.0] * 10) == 0.0
    assert measure.quartile_spread([9.0, 10.0, 10.0, 11.0]) > 0
