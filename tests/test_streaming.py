"""Streaming serving-path tests (SURVEY.md §5.2): micro-batches
through the scoring plan match the batch plan; stateful profiles
accumulate across batches; watermark drops late rows (W4, asserted
divergence from the reference's unbounded lateness)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from financial_anomaly_detection_spark.schemas import TRANSACTION_SCHEMA
from financial_anomaly_detection_spark.sources.readers import read_transactions_json_stream
from financial_anomaly_detection_spark.sources.sinks import foreach_batch_parquet
from financial_anomaly_detection_spark.streaming.score_stream import (
    build_scoring_stream,
    split_valid_invalid,
    stateful_user_profiles,
)

TX = [
    # tx_id, ts, cust, merch, amount, channel, location
    ("1001", "2025-05-01T02:10:00Z", "100", "501", 12000.0, "card", "Mutare"),
    ("1002", "2025-05-01T08:00:00Z", "100", "501", 150.0, "pos", "Harare"),
    ("1003", "2025-05-01T09:00:00Z", "101", "502", 800.0, "mobile_money", "Gweru"),
    ("bad!", "2025-05-01T09:30:00Z", "101", "502", 50.0, "pos", "Harare"),
    ("1004", "garbage-ts", "102", "503", 70.0, "card", "Bulawayo"),
    ("1005", "2025-05-02T01:00:00Z", "102", "503", -5.0, "pos", "Harare"),
]


def _tx_df(spark, rows):
    return spark.createDataFrame(
        [
            {
                "timestamp": r[1],
                "transaction_id": r[0],
                "customer_id": r[2],
                "merchant_id": r[3],
                "amount": r[4],
                "channel": r[5],
                "location": r[6],
            }
            for r in rows
        ],
        TRANSACTION_SCHEMA,
    )


@pytest.fixture()
def profiles(spark):
    cust = spark.createDataFrame(
        [("100", 200.0, 1.5), ("101", 500.0, 0.2)],
        "customer_id string, cust_avg_amount double, cust_txn_count double",
    )
    merch = spark.createDataFrame(
        [("501", 300.0)], "merchant_id string, merch_avg_amount double"
    )
    return cust, merch


def test_validity_split(spark):
    """Each input lands on exactly one side. A null id is rejected as
    ``invalid_id``: rlike on null is null, which neither a filter nor
    its negation keeps."""
    rows = TX + [(None, "2025-05-02T03:00:00Z", "103", "504", 60.0, "pos", "Harare")]
    valid, invalid = split_valid_invalid(_tx_df(spark, rows))
    valid, invalid = valid.collect(), invalid.collect()
    assert {r["transaction_id"] for r in valid} == {"1001", "1002", "1003"}
    errs = {r["transaction_id"]: r["error"] for r in invalid}
    assert errs == {
        "bad!": "invalid_id",
        "1004": "invalid_timestamp",
        "1005": "invalid_amount",
        None: "invalid_id",
    }
    assert sorted(r["timestamp"] for r in valid + invalid) == sorted(r[1] for r in rows)


def _land_json(path, rows) -> None:
    """Write ``rows`` as one JSON-lines file (the REST-body analog, S5)."""
    with open(path, "w") as f:
        for r in rows:
            f.write(
                json.dumps(
                    {
                        "timestamp": r[1],
                        "transaction_id": r[0],
                        "customer_id": r[2],
                        "merchant_id": r[3],
                        "amount": r[4],
                        "channel": r[5],
                        "location": r[6],
                    }
                )
                + "\n"
            )


def test_stream_scores_match_batch(spark, tmp_path, profiles):
    """A standing backlog is served as one micro-batch, and its rows
    equal the same plan on a static frame: a row's score does not
    depend on its batch-mates."""
    cust, merch = profiles
    src = tmp_path / "txs"
    src.mkdir()
    for i, r in enumerate(TX[:3]):
        _land_json(src / f"{i}.json", [r])

    scored_stream = build_scoring_stream(read_transactions_json_stream(spark, str(src)), cust, merch)
    q = (
        scored_stream.writeStream.format("memory")
        .queryName("scored")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [3]

    stream_rows = {
        r["transaction_id"]: r for r in spark.sql("select * from scored").collect()
    }
    batch_rows = {
        r["transaction_id"]: r
        for r in build_scoring_stream(_tx_df(spark, TX[:3]), cust, merch).collect()
    }
    assert stream_rows.keys() == batch_rows.keys() == {"1001", "1002", "1003"}
    for k in batch_rows:
        assert stream_rows[k] == batch_rows[k]
    # semantic spot checks: high amount override + risk bucket (F11/F12)
    assert stream_rows["1001"]["aggregated_score"] >= 0.85
    assert stream_rows["1001"]["risk_level"] == "High"
    assert stream_rows["1001"]["model_version"] == "unavailable"  # W6 fallback


def test_sink_replay_after_crash_writes_each_row_once(spark, tmp_path, profiles):
    """A crash after a batch's write but before its commit-log entry
    makes the restarted query replay that batch. The replay must
    replace the batch's rows, not add to them: every input comes out
    exactly once, across the replayed batch and the next one."""
    cust, merch = profiles
    src, out, ckpt = tmp_path / "txs", str(tmp_path / "out"), str(tmp_path / "ckpt")
    src.mkdir()
    ids = [str(2000 + i) for i in range(10)]
    rows = [(t, "2025-05-01T08:00:00Z", "100", "501", 10.0 + i, "pos", "Harare") for i, t in enumerate(ids)]
    for i in range(5):
        _land_json(src / f"{i}.json", [rows[i]])
    sink = foreach_batch_parquet(out)

    def crash_after_write(batch_df, batch_id):
        sink(batch_df, batch_id)
        raise RuntimeError("crash after the write, before the commit")

    def run(hook):
        valid, _ = split_valid_invalid(read_transactions_json_stream(spark, str(src)))
        return (
            build_scoring_stream(valid, cust, merch)
            .writeStream.foreachBatch(hook)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = run(crash_after_write)
    with pytest.raises(Exception, match="crash after the write"):
        q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 5  # batch 0 was written
    for i in range(5, 10):
        _land_json(src / f"{i}.json", [rows[i]])
    q = run(sink)
    q.awaitTermination(120)
    assert q.exception() is None

    got = spark.read.parquet(out).groupBy("transaction_id").agg(
        F.count(F.lit(1)).alias("n"), F.collect_set("batch_id").alias("batches")
    )
    by_id = {r["transaction_id"]: (r["n"], sorted(r["batches"])) for r in got.collect()}
    assert by_id == {t: (1, [0] if i < 5 else [1]) for i, t in enumerate(ids)}


def test_stateful_profiles_accumulate_across_batches(spark, tmp_path):
    src = tmp_path / "txs2"
    src.mkdir()
    # batch 1: two tx for customer 100; batch 2: one more
    batches = [TX[:2], [("1009", "2025-05-03T04:00:00Z", "100", "501", 300.0, "pos", "Harare")]]
    for i, rows in enumerate(batches):
        _land_json(src / f"b{i}.json", rows)

    stream = (
        spark.readStream.schema(TRANSACTION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    profiles = stateful_user_profiles(stream)
    q = (
        profiles.writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from profiles").collect()
    # the LAST emitted row per key carries the accumulated state
    final = {}
    for r in rows:
        final[r["customer_id"]] = r
    c100 = final["100"]
    assert c100["cust_txn_count"] == 3
    assert abs(c100["cust_avg_amount"] - (12000.0 + 150.0 + 300.0) / 3) < 1e-9


def test_watermark_drops_late_rows(spark, tmp_path):
    """W4: an event arriving after the (checkpointed) watermark has
    advanced past it is dropped — the documented divergence from the
    reference's unbounded-lateness DB lookups. Two availableNow runs
    over the same checkpoint make the batch boundary deterministic:
    run 1 advances the watermark to 11:00, run 2 delivers a 01:00 row.
    """
    src = tmp_path / "txs3"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt3")

    out_dir = str(tmp_path / "win_out")

    def run_once():
        stream = (
            spark.readStream.schema(TRANSACTION_SCHEMA)
            .json(str(src))
            .withColumn("ts", F.try_to_timestamp("timestamp"))
        )
        counts = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "customer_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # parquet sink (not memory): supports checkpoint recovery, so
        # the watermark survives across the two availableNow runs
        q = (
            counts.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def write(fname, rows):
        with open(src / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    base = {"customer_id": "c", "merchant_id": "m", "amount": 10.0,
            "channel": "pos", "location": "Harare"}
    write("a.json", [
        {**base, "timestamp": "2025-05-01T10:00:00Z", "transaction_id": "1"},
        {**base, "timestamp": "2025-05-01T12:00:00Z", "transaction_id": "2"},
    ])
    run_once()  # watermark -> 12:00 - 1h = 11:00 (checkpointed)

    write("b.json", [{**base, "timestamp": "2025-05-01T01:00:00Z", "transaction_id": "3"}])
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    # After run 2 the watermark is >= 11:00, so ANY state for the late
    # row's window [01:00, 02:00) would have been finalized and emitted.
    # Its absence proves the 01:00 row was dropped at input.
    emitted = {(r["win"].start.hour, r["n"]) for r in rows}
    assert all(h != 1 for h, _ in emitted), f"late window emitted: {emitted}"
    # the on-time 10:00 window IS finalized and emitted with its count
    assert (10, 1) in emitted


def test_session_window_matches_gap_sessionization(spark, sf_dir):
    """F.session_window (the built-in session operator, batch form) must
    agree with the lag+cumsum sessionization query on session counts
    (identical 30-min gap semantics; ties at exactly 1800s are
    measure-zero with microsecond timestamps)."""
    from financial_anomaly_detection_spark.queries import REGISTRY
    from financial_anomaly_detection_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    native = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n_sessions")
    )
    manual = (
        REGISTRY["sessionize_events"].fn(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    a = {r["user_id"]: r["n_sessions"] for r in native.collect()}
    b = {r["user_id"]: r["n_sessions"] for r in manual.collect()}
    assert a == b


def test_stream_scoring_with_real_ensemble(spark, sf_dir, tmp_path):
    """§3.1 full integration: the MLlib feature pipeline + all three
    model pandas_udfs run per micro-batch on a stream, and the stream's
    scores are identical to the batch plan's on the same rows."""
    from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble
    from financial_anomaly_detection_spark.ml.features import prepare_event_features
    from financial_anomaly_detection_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    features = prepare_event_features(ev).cache()
    ens = AnomalyEnsemble(seed=42, rule_large_amount=150.0, high_risk_amount=300.0)
    ens.fit(features)

    # stream the PRE-COMPUTED feature rows (profile features need batch
    # history; the streaming form of those is stateful_user_profiles)
    src = str(tmp_path / "feat_stream")
    features.limit(200).write.parquet(src)
    stream = spark.readStream.schema(features.schema).parquet(src)
    scored_stream = ens.transform(stream, id_col="event_id")
    q = (
        scored_stream.writeStream.format("memory")
        .queryName("ml_scored")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stream_rows = {r["event_id"]: r for r in spark.sql("select * from ml_scored").collect()}
    batch_rows = {
        r["event_id"]: r
        for r in ens.transform(spark.read.parquet(src), id_col="event_id").collect()
    }
    assert stream_rows.keys() == batch_rows.keys()
    assert len(stream_rows) == 200
    for k in batch_rows:
        assert stream_rows[k] == batch_rows[k]


def test_session_window_on_stream(spark, tmp_path):
    """W5: F.session_window in an actual streaming aggregation — two
    bursts separated by > gap produce two session rows after the
    watermark closes them."""
    src = tmp_path / "sess_src"
    src.mkdir()
    rows = (
        # burst 1: 10:00-10:05; burst 2: 12:00 (gap 115 min > 30 min)
        [{"timestamp": f"2025-05-01T10:0{i}:00Z", "transaction_id": str(i),
          "customer_id": "c", "merchant_id": "m", "amount": 10.0,
          "channel": "pos", "location": "Harare"} for i in range(5)]
        + [{"timestamp": "2025-05-01T12:00:00Z", "transaction_id": "9",
            "customer_id": "c", "merchant_id": "m", "amount": 10.0,
            "channel": "pos", "location": "Harare"}]
        # watermark pusher far in the future so both sessions finalize
        + [{"timestamp": "2025-05-02T00:00:00Z", "transaction_id": "99",
            "customer_id": "z", "merchant_id": "m", "amount": 1.0,
            "channel": "pos", "location": "Harare"}]
    )
    with open(src / "a.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema(TRANSACTION_SCHEMA)
        .json(str(src))
        .withColumn("ts", F.try_to_timestamp("timestamp"))
    )
    sessions = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "customer_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_dir = str(tmp_path / "sess_out")
    q = (
        sessions.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["customer_id"], r["sw"].start.hour, r["n"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert ("c", 10, 5) in got  # burst 1: one session of 5 events
    assert ("c", 12, 1) in got  # burst 2: separate session


def test_dedup_stream_exactly_once(spark, tmp_path):
    """W7 extension: at-least-once redelivery within the watermark
    horizon is suppressed by dropDuplicatesWithinWatermark — each
    transaction_id survives exactly once across micro-batches."""
    from financial_anomaly_detection_spark.streaming.relational import dedup_stream

    src = tmp_path / "dup_src"
    src.mkdir()
    out_dir = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")

    base = {"customer_id": "c", "merchant_id": "m", "amount": 10.0,
            "channel": "pos", "location": "Harare"}

    def write(fname, rows):
        with open(src / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run_once():
        stream = (
            spark.readStream.schema(TRANSACTION_SCHEMA)
            .json(str(src))
            .withColumn("ts", F.try_to_timestamp("timestamp"))
        )
        q = (
            dedup_stream(stream, keys=["transaction_id"], watermark="1 hour")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: one record + an in-batch duplicate
    write("a.json", [
        {**base, "timestamp": "2025-05-01T10:00:00Z", "transaction_id": "1"},
        {**base, "timestamp": "2025-05-01T10:00:00Z", "transaction_id": "1"},
        {**base, "timestamp": "2025-05-01T10:05:00Z", "transaction_id": "2"},
    ])
    run_once()
    # batch 2: cross-batch redelivery of tx 1 (within horizon) + new tx 3
    write("b.json", [
        {**base, "timestamp": "2025-05-01T10:00:00Z", "transaction_id": "1"},
        {**base, "timestamp": "2025-05-01T10:20:00Z", "transaction_id": "3"},
    ])
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    ids = sorted(r["transaction_id"] for r in rows)
    assert ids == ["1", "2", "3"], f"expected exactly-once ids, got {ids}"


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join: each purchase matches
    the same user's clicks within the 30-minute look-back, across
    micro-batches, and never outside the interval."""
    from financial_anomaly_detection_spark.streaming.relational import (
        stream_stream_purchase_click,
    )

    psrc = tmp_path / "p_src"
    csrc = tmp_path / "c_src"
    psrc.mkdir()
    csrc.mkdir()
    out_dir = str(tmp_path / "ssj_out")
    ckpt = str(tmp_path / "ssj_ckpt")

    def write(d, fname, rows):
        with open(d / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run_once():
        p = (
            spark.readStream.schema("user_id STRING, p_id STRING, p_time STRING")
            .json(str(psrc))
            .withColumn("p_ts", F.try_to_timestamp("p_time"))
            .drop("p_time")
        )
        c = (
            spark.readStream.schema("user_id STRING, c_id STRING, c_time STRING")
            .json(str(csrc))
            .withColumn("c_ts", F.try_to_timestamp("c_time"))
            .drop("c_time")
        )
        joined = stream_stream_purchase_click(
            p, c, watermark="1 hour", lookback="30 minutes"
        )
        q = (
            joined.select("user_id", "p_id", "c_id")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # clicks arrive first (one in-interval, one too old, one other user)
    write(csrc, "c1.json", [
        {"user_id": "u1", "c_id": "k1", "c_time": "2025-05-01T09:50:00Z"},
        {"user_id": "u1", "c_id": "k_old", "c_time": "2025-05-01T08:00:00Z"},
        {"user_id": "u2", "c_id": "k2", "c_time": "2025-05-01T09:55:00Z"},
    ])
    write(psrc, "p0.json", [])  # both sources must exist for the join
    run_once()
    # purchases arrive in a later micro-batch — the u1 purchase at
    # 10:00 must still find the 09:50 click from state
    write(psrc, "p1.json", [
        {"user_id": "u1", "p_id": "b1", "p_time": "2025-05-01T10:00:00Z"},
        {"user_id": "u3", "p_id": "b3", "p_time": "2025-05-01T10:00:00Z"},
    ])
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    matches = sorted((r["p_id"], r["c_id"]) for r in rows)
    assert matches == [("b1", "k1")], (
        f"expected only the in-interval same-user match, got {matches}"
    )


def test_streaming_drift_matches_batch_chisq(spark, tmp_path):
    """The streaming drift monitor's per-batch statistic must agree
    bit-for-bit with the pure-function chi-square over the same final
    counts — and the running counts themselves must equal the batch
    groupBy of all data seen."""
    from financial_anomaly_detection_spark.streaming.drift import (
        chisq_quantized,
        drift_sink,
        stateful_channel_counts,
    )

    src = tmp_path / "drift_src"
    src.mkdir()
    batches = [
        [("card", 6), ("pos", 2)],
        [("card", 2), ("mobile_money", 4)],
    ]
    for i, spec in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            k = 0
            for channel, n in spec:
                for _ in range(n):
                    f.write(
                        json.dumps(
                            {
                                "timestamp": "2025-05-03T04:00:00Z",
                                "transaction_id": f"{i}-{k}",
                                "customer_id": "1",
                                "merchant_id": "2",
                                "amount": 1.0,
                                "channel": channel,
                                "location": "Harare",
                            }
                        )
                        + "\n"
                    )
                    k += 1

    ref = {"card": 50, "pos": 30, "mobile_money": 20}
    results: dict[int, int] = {}
    stream = (
        spark.readStream.schema(TRANSACTION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    counts = stateful_channel_counts(stream)
    q = (
        counts.writeStream.foreachBatch(
            drift_sink(ref, lambda bid, x: results.__setitem__(bid, x))
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "drift_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert len(results) >= 1
    # final statistic == pure function over the full data's counts
    final_counts = {"card": 8, "pos": 2, "mobile_money": 4}
    assert list(results.values())[-1] == chisq_quantized(ref, final_counts)
    # sanity: a perfectly matching mix scores 0, a shifted one doesn't
    assert chisq_quantized(ref, {"card": 5, "pos": 3, "mobile_money": 2}) == 0
    assert chisq_quantized(ref, final_counts) > 0


def test_drift_sink_rehydrates_after_restart(spark, tmp_path):
    """outputMode=update only re-emits channels seen per batch, so a
    restarted sink must reload its running table from the snapshot —
    otherwise missing channels read as 0 and the statistic is wrong
    until every channel re-emits."""
    from financial_anomaly_detection_spark.streaming.drift import (
        chisq_quantized,
        drift_sink,
    )

    ref = {"card": 50, "pos": 30, "mobile_money": 20}
    state = str(tmp_path / "drift_state")

    def frame(rows):
        return spark.createDataFrame(rows, "channel string, cur_count long")

    run1: dict[int, int] = {}
    sink1 = drift_sink(ref, lambda b, x: run1.__setitem__(b, x), state_dir=state)
    sink1(frame([("card", 8), ("pos", 2), ("mobile_money", 4)]), 0)

    # "restart": a NEW sink instance, first batch touches only one channel
    run2: dict[int, int] = {}
    sink2 = drift_sink(ref, lambda b, x: run2.__setitem__(b, x), state_dir=state)
    sink2(frame([("card", 9)]), 1)
    assert run2[1] == chisq_quantized(ref, {"card": 9, "pos": 2, "mobile_money": 4})

    # without state_dir the same restart silently drops pos/mobile_money
    run3: dict[int, int] = {}
    sink3 = drift_sink(ref, lambda b, x: run3.__setitem__(b, x))
    sink3(frame([("card", 9)]), 1)
    assert run3[1] == chisq_quantized(ref, {"card": 9})
    assert run3[1] != run2[1]

    # at-least-once replay of the same batch is idempotent
    sink2(frame([("card", 9)]), 1)
    assert run2[1] == chisq_quantized(ref, {"card": 9, "pos": 2, "mobile_money": 4})


def test_chisq_quantized_order_invariance_and_edges():
    from financial_anomaly_detection_spark.streaming.drift import chisq_quantized

    ref = {"a": 10, "b": 30, "c": 60}
    cur = {"c": 10, "a": 55, "b": 35}
    # mapping iteration order can't matter (quantize-then-sum)
    assert chisq_quantized(ref, cur) == chisq_quantized(dict(reversed(list(ref.items()))), cur)
    # unseen-in-stream channel contributes its full expected mass
    assert chisq_quantized(ref, {"a": 100}) > 0
    # channels unknown to the reference are ignored
    assert chisq_quantized(ref, {"a": 10, "b": 30, "c": 60, "zz": 5}) == 0
    # degenerate inputs
    assert chisq_quantized({}, {"a": 1}) == 0
    assert chisq_quantized(ref, {}) == 0


def test_stateful_profiles_on_rocksdb_state_store(spark, tmp_path):
    """The 90-day profile state path on the RocksDB state store — the
    provider a real cluster runs for large state (HDFSBackedStateStore
    keeps every key on the JVM heap; RocksDB spills to local disk and
    is the only credible shape for 100 TB keyspaces). Two availableNow
    runs over one checkpoint prove state SURVIVES a query restart
    through RocksDB files, not just executor memory."""
    src = tmp_path / "txs_rocks"
    src.mkdir()
    batches = [
        TX[:2],
        [("1009", "2025-05-03T04:00:00Z", "100", "501", 300.0, "pos", "Harare")],
    ]
    for i, rows in enumerate(batches):
        _land_json(src / f"b{i}.json", rows)

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocksdb)
    try:
        ckpt = str(tmp_path / "ckpt_rocks")
        out = str(tmp_path / "out_rocks")

        def run_once():
            stream = (
                spark.readStream.schema(TRANSACTION_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .json(str(src))
            )

            def sink(batch_df, batch_id):
                batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                    "append"
                ).parquet(out)

            q = (
                stateful_user_profiles(stream)
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        # run 1 sees only batch file b0 (two tx); then b1 arrives and a
        # RESTARTED query must resume from RocksDB-checkpointed state
        os.rename(src / "b1.json", tmp_path / "b1.json")
        run_once()
        os.rename(tmp_path / "b1.json", src / "b1.json")
        run_once()

        rows = spark.read.parquet(out).collect()
        final = {}
        for r in sorted(rows, key=lambda r: r["batch_id"]):
            final[r["customer_id"]] = r
        c100 = final["100"]
        assert c100["cust_txn_count"] == 3
        assert abs(c100["cust_avg_amount"] - (12000.0 + 150.0 + 300.0) / 3) < 1e-9
        # the checkpoint really used RocksDB (its SST/log layout exists)
        import pathlib

        state_files = list(pathlib.Path(ckpt).rglob("*.zip")) + list(
            pathlib.Path(ckpt).rglob("*.sst")
        ) + list(pathlib.Path(ckpt).rglob("*.changelog"))
        assert state_files, "no RocksDB state artifacts under the checkpoint"
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def test_streaming_moments_match_batch_mahalanobis_state(spark, tmp_path):
    """The moment monitor's running state must equal a batch groupBy
    over all data seen integer-for-integer, and the per-batch
    correlation signal must equal the pure function over those
    moments — the streaming twin of the batch mahalanobis_outliers
    screen prices the same covariance ellipse."""
    from financial_anomaly_detection_spark.streaming.drift import (
        corr_quantized,
        moments_sink,
        stateful_channel_moments,
    )

    src = tmp_path / "mom_src"
    src.mkdir()
    # two channels: "card" strongly correlated (y tracks x), "pos"
    # anti-correlated — split across two micro-batches
    rows = []
    for i in range(40):
        hr = i % 24
        rows.append(("card", 100 + 3 * hr + (1 if i % 2 else -1), hr))
        rows.append(("pos", 500 - 2 * hr + (1 if i % 3 == 0 else 0), hr))
    for b, chunk in enumerate((rows[:40], rows[40:])):
        with open(src / f"b{b}.json", "w") as f:
            for k, (ch, cents, hr) in enumerate(chunk):
                f.write(
                    json.dumps(
                        {
                            "timestamp": f"2025-05-03T{hr:02d}:00:00Z",
                            "transaction_id": f"{b}-{k}",
                            "customer_id": "1",
                            "merchant_id": "2",
                            "amount": cents / 100.0,
                            "channel": ch,
                            "location": "Harare",
                        }
                    )
                    + "\n"
                )

    # a malformed record (missing amount -> NULL x under schema-on-
    # read) must be DROPPED by the state kernel, not crash the task —
    # astype('int64') on NaN raises, and a failed stateful task
    # replays the same poisoned micro-batch from the checkpoint on
    # every restart (W7 per-record isolation)
    with open(src / "b0.json", "a") as f:
        f.write(
            json.dumps(
                {
                    "timestamp": "2025-05-03T05:00:00Z",
                    "transaction_id": "bad-1",
                    "customer_id": "1",
                    "merchant_id": "2",
                    "channel": "card",
                    "location": "Harare",
                }
            )
            + "\n"
        )

    stream = (
        spark.readStream.schema(TRANSACTION_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    proj = stream.select(
        "channel",
        F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long").alias("x"),
        F.hour(F.to_timestamp("timestamp")).cast("long").alias("y"),
    )
    results: dict[int, dict] = {}
    q = (
        stateful_channel_moments(proj)
        .writeStream.foreachBatch(
            moments_sink(lambda bid, r: results.__setitem__(bid, r))
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mom_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(results) >= 1

    # batch ground truth over the SAME projection of all files
    batch = (
        spark.read.schema(TRANSACTION_SCHEMA)
        .json(str(src))
        .select(
            "channel",
            F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long").alias("x"),
            F.hour(F.to_timestamp("timestamp")).cast("long").alias("y"),
        )
        # mirrors the kernel's dropna: incomplete rows contribute nothing
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
        .collect()
    )
    want = {
        r["channel"]: {k: r[k] for k in ("n", "sx", "sy", "sxx", "syy", "sxy")}
        for r in batch
    }
    final = results[max(results)]
    assert set(final) == set(want)
    for ch, m in want.items():
        assert final[ch] == corr_quantized(m)
    # the signal means what it claims: card correlates up, pos down
    assert final["card"] > 500_000 and final["pos"] < -500_000


def test_moments_sink_rehydrates_after_restart(spark, tmp_path):
    """Same restart contract as the drift sink: a restarted moments
    sink must reload the running table from its snapshot, or channels
    not yet re-emitted vanish from the signal; replay of the same
    batch is idempotent (REPLACE folding)."""
    from financial_anomaly_detection_spark.streaming.drift import (
        corr_quantized,
        moments_sink,
    )

    state = str(tmp_path / "mom_state")
    schema = "channel string, n long, sx long, sy long, sxx long, syy long, sxy long"

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    card = ("card", 4, 10, 6, 30, 14, 17)
    pos = ("pos", 3, 9, 9, 29, 35, 25)
    m_card = dict(zip(("n", "sx", "sy", "sxx", "syy", "sxy"), card[1:]))
    m_pos = dict(zip(("n", "sx", "sy", "sxx", "syy", "sxy"), pos[1:]))

    run1: dict[int, dict] = {}
    sink1 = moments_sink(lambda b, r: run1.__setitem__(b, r), state_dir=state)
    sink1(frame([card, pos]), 0)
    assert set(run1[0]) == {"card", "pos"}

    # restart: new sink, first batch re-emits only card (updated)
    card2 = ("card", 5, 14, 8, 50, 20, 25)
    m_card2 = dict(zip(("n", "sx", "sy", "sxx", "syy", "sxy"), card2[1:]))
    run2: dict[int, dict] = {}
    sink2 = moments_sink(lambda b, r: run2.__setitem__(b, r), state_dir=state)
    sink2(frame([card2]), 1)
    assert run2[1] == {
        "card": corr_quantized(m_card2),
        "pos": corr_quantized(m_pos),
    }

    # without state_dir, pos silently vanishes after the restart
    run3: dict[int, dict] = {}
    sink3 = moments_sink(lambda b, r: run3.__setitem__(b, r))
    sink3(frame([card2]), 1)
    assert set(run3[1]) == {"card"}

    # at-least-once replay is idempotent
    sink2(frame([card2]), 1)
    assert run2[1]["card"] == corr_quantized(m_card2)


# --- streaming entity resolution (round 8, VERDICT r7 task 8) ------------
#
# The batch entity_resolution_e2e query proves blocking + clustering
# against a recursive-CTE oracle; this is its SERVING-path twin — the
# reference's record-at-a-time shape (api/app.py:91-265) — resolving
# incoming records in foreachBatch via a broadcast stream-static join
# against the batch-built canonical map.


def test_stream_entity_resolution_against_canonical_map(spark, tmp_path):
    from financial_anomaly_detection_spark.streaming.entity_resolution import (
        build_canonical_index,
        resolve_names,
    )

    # batch leg: a curated name catalog with two fuzzy clusters
    # {alice, alyce, alice!} (pairwise-or-transitively ed1) and
    # {robert, roberta}, plus a singleton
    known = spark.createDataFrame(
        [("alice",), ("alyce",), ("alicee",), ("robert",), ("roberta",),
         ("zanele",)],
        "name string",
    )
    index = build_canonical_index(known, "name").localCheckpoint(eager=True)
    batch_canon = {
        r["name"]: r["canonical"]
        for r in index.select("name", "canonical").distinct().collect()
    }
    # CC ground truth: min-name canonical per cluster
    assert batch_canon == {
        "alice": "alice", "alyce": "alice", "alicee": "alice",
        "robert": "robert", "roberta": "robert",
        "zanele": "zanele",
    }

    # stream leg: new records arrive one per micro-batch — a known
    # name, an UNSEEN typo of a known name, and a novel name
    src = tmp_path / "records"
    src.mkdir()
    incoming = [
        ("r1", "alyce"),    # known -> cluster canonical
        ("r2", "alice "),   # unseen trailing-space typo -> ed1 match
        ("r3", "xolani"),   # novel -> itself, matched=false
    ]
    for rid, name in incoming:
        with open(src / f"{rid}.json", "w") as f:
            json.dump({"record_id": rid, "name": name}, f)

    stream = (
        spark.readStream.schema("record_id string, name string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    seen: list = []
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _bid: seen.extend(
                resolve_names(bdf, index, "name").collect()
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["record_id"]: (r["canonical"], r["matched"]) for r in seen}
    assert got == {
        "r1": ("alice", True),
        "r2": ("alice", True),
        "r3": ("xolani", False),
    }

    # stream == batch parity: the same records through the static plan
    static = resolve_names(
        spark.createDataFrame(
            [{"record_id": rid, "name": n} for rid, n in incoming],
            "record_id string, name string",
        ),
        index,
        "name",
    ).collect()
    assert {r["record_id"]: (r["canonical"], r["matched"]) for r in static} == got


# --- streaming heavy hitters (round 8): Misra-Gries in stream state ------


def test_mg_update_guarantees_hold_on_adversarial_sequence():
    from financial_anomaly_detection_spark.streaming.topk import mg_update

    # deterministic skewed sequence: two heavy items + a long tail
    seq = (["hot1"] * 400 + ["hot2"] * 250
           + [f"tail{i % 37}" for i in range(350)])
    k = 8
    summary: dict[str, int] = {}
    truth: dict[str, int] = {}
    for it in seq:
        truth[it] = truth.get(it, 0) + 1
        mg_update(summary, it, 1, k)
    n = len(seq)
    bound = n // (k + 1)
    assert len(summary) <= k
    for item, true_cnt in truth.items():
        if true_cnt > bound:
            assert item in summary, (item, true_cnt, bound)
    for item, cnt in summary.items():
        assert truth[item] - bound <= cnt <= truth[item]


def test_stateful_heavy_hitters_stream_matches_guarantees(spark, tmp_path):
    from financial_anomaly_detection_spark.streaming.topk import (
        stateful_heavy_hitters,
    )

    src = tmp_path / "hh"
    src.mkdir()
    # 3 micro-batches, one file each; channel A skewed to 'x',
    # channel B uniform-ish
    batches = [
        [("A", "x")] * 30 + [("A", "y")] * 5 + [("B", f"b{i}") for i in range(10)],
        [("A", "x")] * 25 + [("A", "z")] * 8 + [("B", "b1")] * 12,
        [("A", "x")] * 20 + [("A", "y")] * 9 + [("B", "b2")] * 6,
    ]
    truth: dict[tuple, int] = {}
    for i, rows in enumerate(batches):
        with open(src / f"{i}.json", "w") as f:
            for g, it in rows:
                f.write(json.dumps({"grp_in": g, "item_in": it}) + "\n")
                truth[(g, it)] = truth.get((g, it), 0) + 1

    stream = (
        spark.readStream.schema("grp_in string, item_in string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    k = 4
    out = stateful_heavy_hitters(stream, "grp_in", "item_in", k=k)
    q = (
        out.writeStream.format("memory")
        .queryName("hh")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from hh").collect()
    # keep only each group's LAST emission (largest n_total)
    last_n: dict[str, int] = {}
    for r in rows:
        last_n[r["grp"]] = max(last_n.get(r["grp"], 0), r["n_total"])
    final = {
        (r["grp"], r["item"]): r
        for r in rows
        if r["n_total"] == last_n[r["grp"]]
    }
    n_by_grp = {g: sum(c for (gg, _), c in truth.items() if gg == g)
                for g in last_n}
    assert last_n == n_by_grp  # state accumulated across all batches
    for (g, it), true_cnt in truth.items():
        bound = n_by_grp[g] // (k + 1)
        if true_cnt > bound:
            assert (g, it) in final, (g, it, true_cnt, bound)
            r = final[(g, it)]
            assert true_cnt - bound <= r["mg_count"] <= true_cnt
            assert r["floor_bound"] == bound
    # the skewed channel's top item is ranked first by mg_count
    a_rows = [r for (g, _), r in final.items() if g == "A"]
    assert max(a_rows, key=lambda r: r["mg_count"])["item"] == "x"


# --- streaming HLL registers (round 8): stream state == batch sketch -----


def test_hll_j_rho_matches_batch_sql_math(spark):
    """The python register math must be bit-identical to the batch
    hll_exact_md5 SQL (md5 prefix -> j = top 6 bits, rho = strpos of
    '1' in the zero-padded low 26 bits)."""
    from financial_anomaly_detection_spark.streaming.cardinality import (
        hll_j_rho,
    )

    keys = [str(i) for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    rows = df.selectExpr(
        "k",
        "cast(conv(substr(md5(k), 1, 8), 16, 10) as bigint) as h",
    ).selectExpr(
        "k",
        "h div 67108864 as j",
        "CASE WHEN instr(lpad(bin(h % 67108864), 26, '0'), '1') = 0 "
        "THEN 27 ELSE instr(lpad(bin(h % 67108864), 26, '0'), '1') END as rho",
    ).collect()
    for r in rows:
        assert hll_j_rho(r["k"]) == (r["j"], r["rho"]), r["k"]


def test_stateful_hll_stream_equals_batch_registers(spark, tmp_path):
    from financial_anomaly_detection_spark.streaming.cardinality import (
        HLL_M,
        hll_estimate,
        hll_j_rho,
        merge_registers,
        stateful_hll_registers,
    )

    src = tmp_path / "hll"
    src.mkdir()
    # 3 micro-batches with overlapping keys (replay-safety: max is
    # idempotent) across two groups
    batches = [
        [("A", f"u{i}") for i in range(0, 400)] + [("B", f"v{i}") for i in range(50)],
        # null keys must be DROPPED (md5(NULL) is NULL in the batch
        # SQL) — folding them into a register breaks stream==batch
        [("A", f"u{i}") for i in range(200, 700)] + [("A", None), ("B", None)],
        [("A", f"u{i}") for i in range(600, 900)] + [("B", f"v{i}") for i in range(30, 80)],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"{i}.json", "w") as f:
            for g, k in rows:
                f.write(json.dumps({"grp_in": g, "key_in": k}) + "\n")

    stream = (
        spark.readStream.schema("grp_in string, key_in string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stateful_hll_registers(stream, "grp_in", "key_in")
        .writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # final state per group = the emission with the largest estimate
    # coverage — take the LAST micro-batch's rows (max registers are
    # monotone, so elementwise-max over all emissions equals the last)
    rows = spark.sql("select * from hll_regs").collect()
    final: dict[str, list] = {}
    for r in rows:
        cur = final.get(r["grp"], [0] * HLL_M)
        final[r["grp"]] = merge_registers(cur, list(r["registers"]))

    # batch ground truth: same register math over the full static data
    truth: dict[str, list] = {}
    distinct: dict[str, set] = {}
    for rows_b in batches:
        for g, k in rows_b:
            regs = truth.setdefault(g, [0] * HLL_M)
            if k is None:  # the batch SQL's md5(NULL)-is-NULL drop
                continue
            j, rho = hll_j_rho(k)
            regs[j] = max(regs[j], rho)
            distinct.setdefault(g, set()).add(k)
    assert final == truth  # EXACT register equality, not a bound
    for g, regs in truth.items():
        est, true_n = hll_estimate(regs), len(distinct[g])
        # raw estimator at m=64: ~13% rsd — generous 3-sigma check
        assert abs(est - true_n) <= max(0.4 * true_n, 20), (g, est, true_n)

    # mergeability: two half-streams' registers merge to the full ones
    half_a, half_b = [0] * HLL_M, [0] * HLL_M
    all_a = [k for rows_b in batches for g, k in rows_b if g == "A" and k is not None]
    for i, k in enumerate(all_a):
        regs = half_a if i % 2 == 0 else half_b
        j, rho = hll_j_rho(k)
        regs[j] = max(regs[j], rho)
    assert merge_registers(half_a, half_b) == truth["A"]


def test_stateful_bottomk_stream_equals_batch_kmv(spark, tmp_path):
    from financial_anomaly_detection_spark.streaming.bottomk import (
        KMV_K,
        kmv_estimate,
        kmv_hash,
        merge_states,
        stateful_bottomk,
    )

    src = tmp_path / "kmv"
    src.mkdir()
    # overlapping keys across 3 micro-batches (replay-safe: min-k is
    # idempotent), group B stays UNDER k to pin the exact-count rule,
    # null keys must be dropped (md5(NULL) is NULL in the batch SQL)
    batches = [
        [("A", f"u{i}") for i in range(0, 300)] + [("B", f"v{i}") for i in range(10)],
        [("A", f"u{i}") for i in range(150, 500)] + [("A", None)],
        [("A", f"u{i}") for i in range(450, 700)] + [("B", f"v{i}") for i in range(5, 20)],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"{i}.json", "w") as f:
            for g, k in rows:
                f.write(json.dumps({"grp_in": g, "key_in": k}) + "\n")

    stream = (
        spark.readStream.schema("grp_in string, key_in string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stateful_bottomk(stream, "grp_in", "key_in")
        .writeStream.format("memory")
        .queryName("kmv_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_kmv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = spark.sql("select * from kmv_state").collect()
    final: dict[str, list] = {}
    for r in rows:  # min-k is monotone: merging all emissions == last
        final[r["grp"]] = merge_states(
            final.get(r["grp"], []), list(r["hashes"])
        )

    # batch ground truth: the SAME hash math over the full static data
    truth: dict[str, set] = {}
    distinct: dict[str, set] = {}
    for rows_b in batches:
        for g, k in rows_b:
            if k is None:
                continue
            truth.setdefault(g, set()).add(kmv_hash(k))
            distinct.setdefault(g, set()).add(k)
    for g, hashes in truth.items():
        expect = sorted(hashes)[:KMV_K]
        assert final[g] == expect, g  # EXACT state equality
        est, true_n = kmv_estimate(final[g]), len(distinct[g])
        if true_n < KMV_K:
            assert est == true_n  # degradation rule: exact below k
        else:
            # k=32 KMV: ~18% rsd — generous 3-sigma band
            assert abs(est - true_n) <= max(0.6 * true_n, 20), (g, est, true_n)

    # set-algebra mergeability: two half-streams re-truncate to the
    # full sketch (the property HLL registers cannot offer)
    half_a, half_b = set(), set()
    all_a = [k for rows_b in batches for g, k in rows_b if g == "A" and k is not None]
    for i, k in enumerate(all_a):
        (half_a if i % 2 == 0 else half_b).add(kmv_hash(k))
    merged = merge_states(sorted(half_a)[:KMV_K], sorted(half_b)[:KMV_K])
    assert merged == final["A"]


def test_stateful_conformal_stream_equals_batch_order_stat(spark, tmp_path):
    from financial_anomaly_detection_spark.streaming.conformal import (
        conformal_from_counts,
        merge_counts,
        stateful_conformal_threshold,
    )

    src = tmp_path / "conf"
    src.mkdir()
    # integer scores 0..11 (the risk-score domain); 12 buckets over
    # [0, 12) make bucket == score, so stream must equal the batch
    # order statistic EXACTLY. Nulls must be dropped. Group B stays
    # tiny so rank > n -> +inf threshold (not enough evidence yet).
    rng_scores = [(i * 7 + 3) % 12 for i in range(400)]
    batches = [
        [("A", s) for s in rng_scores[:150]] + [("B", 5)],
        [("A", s) for s in rng_scores[150:300]] + [("A", None)],
        [("A", s) for s in rng_scores[300:]] + [("B", 7)],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"{i}.json", "w") as f:
            for g, s in rows:
                f.write(json.dumps({"grp_in": g, "score_in": s}) + "\n")

    stream = (
        spark.readStream.schema("grp_in string, score_in double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stateful_conformal_threshold(
            stream, "grp_in", "score_in", lo=0.0, hi=12.0, n_buckets=12
        )
        .writeStream.format("memory")
        .queryName("conf_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_conf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = spark.sql("select * from conf_state").collect()
    # last emission per group carries the full-stream state
    final = {}
    for r in rows:
        if final.get(r["grp"]) is None or r["n_cal"] >= final[r["grp"]]["n_cal"]:
            final[r["grp"]] = r

    # batch ground truth: exact order statistic on the raw scores
    all_a = sorted(s for rows_b in batches for g, s in rows_b
                   if g == "A" and s is not None)
    n = len(all_a)
    rank = -((-9 * (n + 1)) // 10)
    thr = all_a[rank - 1]
    a = final["A"]
    assert a["n_cal"] == n and a["q_rank"] == rank
    assert a["threshold_bucket"] == thr  # bucket == integer score
    assert a["threshold_upper"] == thr + 1.0
    # coverage guarantee on the calibration set itself (conservative)
    covered = sum(1 for s in all_a if s <= a["threshold_upper"])
    assert covered / n >= 0.9
    # group B: n=2 -> rank 3 > n -> +inf (no evidence yet)
    b = final["B"]
    assert b["n_cal"] == 2 and b["threshold_upper"] == float("inf")

    # mergeability: two half-histograms add to the full state, and the
    # threshold read from the merged state equals the streamed one
    h1, h2 = [0] * 13, [0] * 13
    for i, s in enumerate(all_a):
        (h1 if i % 2 == 0 else h2)[int(s)] += 1
    merged = merge_counts(h1, h2)
    n2, r2, tb2, up2 = conformal_from_counts(merged, 0.0, 12.0, 0.1)
    assert (n2, r2, tb2, up2) == (n, rank, a["threshold_bucket"], a["threshold_upper"])
