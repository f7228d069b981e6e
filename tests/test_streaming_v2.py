"""Python DataSource and stateful-streaming operator tests.

The Python DataSource must be deterministic and partition-parallel;
the streaming near-dup and decontamination operators must agree with
their batch forms.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F


def test_python_datasource_synthetic_transactions(spark):
    from financial_anomaly_detection_spark.sources.pysource import (
        SyntheticTransactions,
        synth_row,
    )
    from financial_anomaly_detection_spark.streaming.score_stream import (
        split_valid_invalid,
    )

    spark.dataSource.register(SyntheticTransactions)
    reader = (
        spark.read.format("fad_synth")
        .option("rows", 1000)
        .option("partitions", 8)
        .option("seed", 7)
    )
    df = reader.load()
    assert df.rdd.getNumPartitions() == 8
    rows = df.collect()
    assert len(rows) == 1000
    # deterministic: a second scan yields identical content
    again = sorted(tuple(r) for r in reader.load().collect())
    assert sorted(tuple(r) for r in rows) == again
    # row content matches the pure-python generator (retry-safety: a
    # re-executed task regenerates the same rows)
    by_id = {r["transaction_id"]: tuple(r) for r in rows}
    assert by_id["0"] == synth_row(7, 0)
    assert by_id["999"] == synth_row(7, 999)

    # generated data flows through the scoring path: all rows valid by
    # construction (digit ids, ISO timestamps, non-negative amounts)
    valid, invalid = split_valid_invalid(df)
    assert invalid.count() == 0
    assert valid.count() == 1000


# --- streaming MinHash near-dup band index (streaming/neardup.py) --------

# Deliberately collide-heavy corpus: near-identical docs share all/most
# bands, distinct docs share none. Replayed doc 1 in batch 3 pins the
# redelivery rule.
_NEARDUP_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup
    (4, "completely different text about spark engines here"),
    (5, "another unrelated document with its own words entirely"),
    (6, "the quick brown fox jumps over the lazy dog today"),  # near dup
    (7, "short text"),  # <3 tokens -> fallback shingle
    (8, "short text"),  # exact dup of 7 via fallback
]
_NEARDUP_BATCHES = [
    [1, 2, 3],
    [4, 5, 6, 7],
    [1, 8],  # 1 is a redelivery: must emit nothing new
]


_ND_RUN = [0]


def _run_neardup_stream(spark, tmp_path, cap):
    from financial_anomaly_detection_spark.streaming.neardup import (
        stateful_band_collisions,
    )

    src = tmp_path / "nd_src"
    src.mkdir(parents=True)
    docs = dict(_NEARDUP_DOCS)
    for i, ids in enumerate(_NEARDUP_BATCHES):
        p = src / f"b{i}.json"
        with open(p, "w") as f:
            for d in ids:
                f.write(json.dumps({"doc_id": d, "text": docs[d]}) + "\n")
        # the file source orders micro-batches by MODIFICATION TIME,
        # not name — burst-written files share an mtime and arrive in
        # arbitrary order (observed: b1 before b0). Space them out so
        # the batch order is the list order.
        import os

        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    _ND_RUN[0] += 1
    sink = f"neardup_pairs_{_ND_RUN[0]}_cap{cap}"  # unique per run:
    # memory tables outlive the query in the shared test session
    q = (
        stateful_band_collisions(stream, cap=cap)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "nd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"select * from {sink}").collect()


def test_streaming_neardup_matches_batch_banding(spark, tmp_path):
    """Stream == batch parity, the KMV pattern: the union of streamed
    band-collision emissions over the full corpus equals the batch
    banding construction (same md5 signature family the DuckDB oracle
    hash-verifies via stream_neardup_replay), and redelivered docs
    emit nothing."""
    from financial_anomaly_detection_spark.streaming.neardup import (
        band_keys,
        minhash_sigs,
    )

    rows = _run_neardup_stream(spark, tmp_path, cap=256)
    streamed = {(r["id_a"], r["id_b"], r["band_idx"]) for r in rows}
    # each (pair, band) collision at most once despite doc 1 replay
    assert len(rows) == len(streamed)

    # ground truth: brute-force banding over the static corpus
    bands: dict[tuple[int, str], list[int]] = {}
    for doc_id, text in _NEARDUP_DOCS:
        for b, k in enumerate(band_keys(minhash_sigs(text))):
            bands.setdefault((b, k), []).append(doc_id)
    expect = set()
    for (b, _k), members in bands.items():
        for i, a in enumerate(members):
            for c in members[i + 1 :]:
                expect.add((min(a, c), max(a, c), b))
    assert streamed == expect
    # the fixture is collide-heavy by construction: exact dups share
    # all 4 bands, near dups at least one
    n_bands_shared: dict[tuple[int, int], int] = {}
    for a, c, b in streamed:
        n_bands_shared[(a, c)] = n_bands_shared.get((a, c), 0) + 1
    assert n_bands_shared[(1, 2)] == 4
    assert n_bands_shared[(7, 8)] == 4
    assert (1, 3) in n_bands_shared or (1, 6) in n_bands_shared


def test_streaming_neardup_cap_bounds_state(spark, tmp_path):
    """cap=1: every bucket stores at most ONE doc_id no matter how many
    collide. The streamed emissions must equal a driver-side replay of
    the SAME pure kernel (replay_bucket) over the same micro-batch
    order — end-to-end state plumbing vs the kernel, under capping and
    a redelivery."""
    from financial_anomaly_detection_spark.streaming.neardup import (
        band_keys,
        minhash_sigs,
        replay_bucket,
    )

    rows = _run_neardup_stream(spark, tmp_path, cap=1)
    streamed = sorted((r["id_a"], r["id_b"], r["band_idx"]) for r in rows)

    docs = dict(_NEARDUP_DOCS)
    keys = {d: band_keys(minhash_sigs(t)) for d, t in docs.items()}
    state: dict[tuple[int, str], list[int]] = {}
    expect = []
    for ids in _NEARDUP_BATCHES:
        per_bucket: dict[tuple[int, str], list[int]] = {}
        for d in sorted(ids):
            for b, k in enumerate(keys[d]):
                per_bucket.setdefault((b, k), []).append(d)
        for bk, arriving in per_bucket.items():
            pairs, new_stored, _ = replay_bucket(state.get(bk, []), arriving, cap=1)
            state[bk] = new_stored
            expect.extend((a, c, bk[0]) for a, c in pairs)
    assert streamed == sorted(expect)
    # and the cap really binds: strictly fewer emissions than uncapped
    uncapped = _run_neardup_stream(spark, tmp_path / "u", cap=256)
    assert len(rows) < len(uncapped)
    assert any(p[:2] == (1, 2) for p in streamed)


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


def test_streaming_neardup_state_survives_restart(spark, tmp_path):
    """Two availableNow runs over ONE checkpoint: the band-bucket state
    written by run 1 must be what run 2 resumes from — the redelivered
    doc 1 emits nothing (it is stored state, not a fresh doc) and the
    new doc 8 pairs with 7 across all 4 fallback-shingle bands."""
    import os
    import time as _time

    from financial_anomaly_detection_spark.streaming.neardup import (
        stateful_band_collisions,
    )

    src = tmp_path / "nd_restart"
    src.mkdir()
    docs = dict(_NEARDUP_DOCS)
    ckpt = str(tmp_path / "nd_restart_ck")

    def write_batch(i, ids):
        p = src / f"b{i}.json"
        with open(p, "w") as f:
            for d in ids:
                f.write(json.dumps({"doc_id": d, "text": docs[d]}) + "\n")
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    out = str(tmp_path / "nd_restart_out")

    def run_once(run_id):
        # foreachBatch sink: the memory sink does not support
        # checkpoint RECOVERY ("This query does not support recovering
        # from checkpoint location") — same sink shape as the RocksDB
        # restart test
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

        def sink(batch_df, batch_id):
            batch_df.withColumn("run_id", F.lit(run_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            stateful_band_collisions(stream, cap=256)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r["id_a"], r["id_b"], r["band_idx"])
            for r in spark.read.parquet(out)
            .filter(F.col("run_id") == run_id)
            .collect()
        }

    write_batch(0, [1, 2, 3])
    write_batch(1, [4, 5, 6, 7])
    first = run_once(1)
    assert (1, 2, 0) in first  # exact dups collided in run 1

    # restart: new files, SAME checkpoint — a fresh query object must
    # resume from the stored band-bucket state
    _time.sleep(1.1)
    write_batch(2, [1, 8])
    second = run_once(2)
    # doc 1 is a redelivery against surviving state: nothing re-emitted
    assert not any(1 in (a, b) for a, b, _ in second), second
    # doc 8 == doc 7 (fallback shingle): pairs in all 4 bands, which is
    # only possible if run 1's state for 7 survived the restart
    assert {(7, 8, b) for b in range(4)} == second


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
