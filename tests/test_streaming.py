"""Streaming serving-path tests (SURVEY.md §5.2): micro-batches
through the scoring plan match the batch plan; the sink writes each
row once across a replay; watermark drops late rows (W4, asserted
divergence from the reference's unbounded lateness)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from financial_anomaly_detection_spark.schemas import TRANSACTION_SCHEMA
from financial_anomaly_detection_spark.sources.readers import read_transactions_json_stream
from financial_anomaly_detection_spark.sources.sinks import foreach_batch_parquet
from financial_anomaly_detection_spark.streaming.score_stream import (
    build_scoring_stream,
    split_valid_invalid,
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
    # history, which the stream joins as static profile frames)
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
