"""Near-dup replay and decontamination gate tests.

The near-dup bucket replay must keep its ordering, dedup and cap
rules; the streaming decontamination gate must agree with its batch
form.
"""

from __future__ import annotations

import json


# --- MinHash near-dup bucket replay (streaming/neardup.py) --------------


def test_neardup_replay_bucket_pure_kernel():
    """replay_bucket unit pins: ordering, dedup, cap, overflow count."""
    from financial_anomaly_detection_spark.streaming.neardup import replay_bucket

    pairs, stored, over = replay_bucket([], [3, 1, 2], cap=10)
    assert stored == [3, 1, 2] and over == 0
    assert pairs == [(1, 3), (2, 3), (1, 2)]
    # redelivery: no emission, no state change
    pairs2, stored2, over2 = replay_bucket(stored, [2], cap=10)
    assert pairs2 == [] and stored2 == stored and over2 == 0
    # cap binds: new doc emits vs all stored but is not kept
    pairs3, stored3, over3 = replay_bucket([1, 2, 3], [9], cap=3)
    assert pairs3 == [(1, 9), (2, 9), (3, 9)]
    assert stored3 == [1, 2, 3] and over3 == 1


# --- streaming decontamination gate (streaming/decontam.py) ---------------


def test_streaming_decontam_gate_matches_batch(spark, tmp_path):
    """The gate applied to a real stream (micro-batches) must flag
    exactly the docs the batch form flags — stateless, so parity is
    per-doc equality of (n_fps, n_hits, contaminated)."""
    import os

    from financial_anomaly_detection_spark.streaming.decontam import (
        benchmark_fingerprint_set,
        flag_contaminated,
    )

    span = " ".join(f"w{i}" for i in range(15))
    docs = {
        0: f"benchmark question start {span} benchmark answer end here",
        1: f"training doc containing {span} copied verbatim from the benchmark",
        2: "a clean training document with plenty of its own words "
        "that never overlap the benchmark suite at all beyond chance",
        3: "short doc",  # no full window -> n_fps 0, never flagged
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    bench_fps = benchmark_fingerprint_set(df.filter("doc_id = 0"))
    assert bench_fps  # the benchmark doc is long enough to fingerprint

    train = df.filter("doc_id <> 0")
    batch = {r["doc_id"]: r for r in flag_contaminated(train, bench_fps).collect()}
    assert batch[1]["contaminated"] and batch[1]["n_hits"] >= 1
    assert not batch[2]["contaminated"]
    assert batch[3]["n_fps"] == 0 and not batch[3]["contaminated"]

    src = tmp_path / "dc_src"
    src.mkdir()
    for i, d in enumerate([1, 2, 3]):
        p = src / f"b{i}.json"
        with open(p, "w") as f:
            f.write(json.dumps({"doc_id": d, "text": docs[d]}) + "\n")
        os.utime(p, (1_700_000_000 + i * 10,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        flag_contaminated(stream, bench_fps)
        .writeStream.format("memory")
        .queryName("dc_gate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dc_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r["doc_id"]: r for r in spark.sql("select * from dc_gate").collect()}
    assert set(streamed) == set(batch)
    for d in batch:
        for col in ("n_fps", "n_hits", "contaminated"):
            assert streamed[d][col] == batch[d][col], (d, col)


def test_decontam_gate_recall_covers_span_pairs(spark, sf_dir):
    """The winnowing recall contract end-to-end on real data: every
    train_doc that decontam_shared_span reports (span >= 12 = n+w-1+1)
    must be flagged by the gate (n_hits >= 1)."""
    from financial_anomaly_detection_spark.queries import REGISTRY

    spans = REGISTRY["decontam_shared_span"].fn(spark, sf_dir).collect()
    if not spans:
        import pytest as _pytest

        _pytest.skip("no span pairs at this SF")
    gate = {
        r["doc_id"]: r
        for r in REGISTRY["stream_decontam_replay"].fn(spark, sf_dir).collect()
    }
    for r in spans:
        g = gate[r["train_doc"]]
        assert g["n_hits"] >= 1 and g["contaminated"] == 1, r
