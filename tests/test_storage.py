"""Storage-layout tests backing the SCALING.md claims: date-partitioned
writes give partition-pruned reads, and bucketed tables delete the
join shuffle (the 100 TB co-location strategy)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_anomaly_detection_spark.sources.readers import load_table


def test_date_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_day")
    ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
        "day"
    ).parquet(out)

    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the day filter must be a partition filter on the scan, not a data filter
    assert "PartitionFilters" in plan
    assert "2024-01-05" in plan.split("PartitionFilters")[1].split("]")[0]
    # and it returns exactly that day's rows
    days = {str(r["day"]) for r in back.select("day").distinct().collect()}
    assert days == {"2024-01-05"}  # read back as DATE (partition type inference)


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key removes the Exchange:
    SortMergeJoin reads pre-bucketed data directly (SCALING.md 'bucket
    both fact tables on orderkey to delete that shuffle')."""
    # (warehouse dir is a static conf — tables land in the default
    # spark-warehouse and are dropped in the finally block)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
            "li_bucketed"
        )
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
            "o_bucketed"
        )
        joined = spark.table("li_bucketed").join(
            spark.table("o_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # no shuffle on either side: bucketed scans are pre-partitioned
        assert "Exchange hashpartitioning" not in plan
        # sanity: result matches the unbucketed join
        expected = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_salted_aggregation_matches_unsalted(spark, sf_dir):
    """SCALING.md skew strategy: two-phase salted aggregation (partial
    per (key, salt), re-aggregated per key) must reproduce the plain
    groupBy exactly — integer-cents partials compose without float
    drift."""
    from financial_anomaly_detection_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    plain = ev.groupBy("event_type").agg(
        F.sum(cents).alias("total_cents"), F.count(F.lit(1)).alias("n")
    )
    salted = (
        ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("event_type", "_salt")
        .agg(F.sum(cents).alias("_pc"), F.count(F.lit(1)).alias("_pn"))
        .groupBy("event_type")
        .agg(F.sum("_pc").alias("total_cents"), F.sum("_pn").alias("n"))
    )
    a = {r["event_type"]: (r["total_cents"], r["n"]) for r in plain.collect()}
    b = {r["event_type"]: (r["total_cents"], r["n"]) for r in salted.collect()}
    assert a == b


def test_jdbc_derby_roundtrip(spark, tmp_path):
    """S2-S4 JDBC form (reference python_scoring/app.py:121-137 read,
    208-230 insert): round-trip through an embedded Derby database —
    the Derby jars ship inside Spark's own classpath, so this runs the
    REAL JDBC code path (DriverRegistry, JdbcRelationProvider,
    partitioned write) with no external server."""
    from financial_anomaly_detection_spark.sources.readers import read_jdbc_table
    from financial_anomaly_detection_spark.sources.sinks import write_scores_jdbc

    url = f"jdbc:derby:{tmp_path}/scoresdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    scores = spark.createDataFrame(
        [
            (1001, 0.82, "High"),
            (1002, 0.11, "Low"),
            (1003, 0.46, "Medium"),
        ],
        "transaction_id long, risk_score double, risk_level string",
    )
    write_scores_jdbc(scores, url, table="anomalies_log", properties=props)

    back = read_jdbc_table(spark, url, "anomalies_log", properties=props)
    # sink stamps a server-side timestamp column (app.py:215 NOW())
    assert "timestamp" in back.columns
    got = {
        (r["TRANSACTION_ID"] if "TRANSACTION_ID" in back.columns else r["transaction_id"],
         r["risk_level"] if "risk_level" in back.columns else r["RISK_LEVEL"])
        for r in back.collect()
    }
    assert got == {(1001, "High"), (1002, "Low"), (1003, "Medium")}

    # partitioned parallel read path (S2's partitionColumn form)
    part = read_jdbc_table(
        spark,
        url,
        "anomalies_log",
        partition_column="transaction_id",
        num_partitions=2,
        lower_bound=1001,
        upper_bound=1004,
        properties=props,
    )
    assert part.rdd.getNumPartitions() == 2
    assert part.count() == 3


def _plan_nodes(node):
    """Every node of a physical plan tree (a py4j ``SparkPlan``)."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_with_profiles_broadcast_valve(spark, sf_dir):
    """The profile-enrichment join broadcasts both profiles (they are
    key-bounded) even when size-based auto-broadcast is off, and each
    broadcast side reads its cached profile through ``Coalesce 1``: one
    task per broadcast, not one per shuffle partition, with no
    exchange between the broadcast and the cache."""
    from financial_anomaly_detection_spark.operators.profiles import (
        customer_profile,
        merchant_profile,
        with_profiles,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("customer_id"),
        (F.col("user_id") % 5).alias("merchant_id"),
        F.col("value").alias("amount"),
        F.col("ts").alias("timestamp"),
    )
    anchor = "2024-04-01 00:00:00"
    cp = customer_profile(ev, anchor=anchor).cache()
    mp = merchant_profile(ev, anchor=anchor).cache()

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bcast = with_profiles(ev, cp, mp)
        executed = bcast._jdf.queryExecution().executedPlan()
        plan_b = executed.toString()
        assert "BroadcastHashJoin" in plan_b
        assert "SortMergeJoin" not in plan_b and "ShuffledHashJoin" not in plan_b
        if executed.nodeName() == "AdaptiveSparkPlan":
            executed = executed.executedPlan()
        sides = [n.child() for n in _plan_nodes(executed) if n.nodeName() == "BroadcastExchange"]
        assert len(sides) == 2
        for side in sides:
            assert side.nodeName() == "Coalesce" and side.numPartitions() == 1, side.toString()
            below = [n.nodeName() for n in _plan_nodes(side)]
            assert "InMemoryTableScan" in below, side.toString()
            assert not [n for n in below if "Exchange" in n], side.toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        cp.unpersist()
        mp.unpersist()


def test_ngram_jaccard_broadcast_valve(spark, sf_dir):
    """ngram_jaccard_pairs broadcasts the per-doc sizes table by
    default; broadcast_sizes=False must produce the same pairs via
    shuffle joins (the web-corpus-cardinality escape hatch)."""
    from financial_anomaly_detection_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").limit(200)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
        b = ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, broadcast_sizes=False
        )
        plan_a = a._jdf.queryExecution().executedPlan().toString()
        plan_b = b._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_a
        assert "BroadcastHashJoin" not in plan_b
        assert sorted(map(repr, a.collect())) == sorted(map(repr, b.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_orc_roundtrip_events(spark, sf_dir, tmp_path):
    """parquet -> ORC -> read must be value-identical for every events
    column (ORC stores micro-second timestamps, the same resolution
    load_table normalizes to), and the ORC scan must prune columns
    like parquet does."""
    from financial_anomaly_detection_spark.sources.readers import (
        load_table,
        read_table_orc,
        write_table_orc,
    )

    src = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_orc")
    write_table_orc(src, path)
    back = read_table_orc(spark, path)

    assert back.count() == src.count()
    cols = sorted(src.columns)
    a = [tuple(r) for r in src.select(*cols).orderBy("event_id").collect()]
    b = [tuple(r) for r in back.select(*cols).orderBy("event_id").collect()]
    assert a == b

    # column pruning reaches the ORC reader: the scan's ReadSchema
    # must carry only the projected column
    explained = (
        back.select("event_type")._jdf.queryExecution().executedPlan().toString()
    )
    scan_lines = [ln for ln in explained.splitlines() if "ReadSchema" in ln]
    assert scan_lines and all(
        "event_id" not in ln.split("ReadSchema")[1] for ln in scan_lines
    )


def test_xml_roundtrip_events(spark, sf_dir, tmp_path):
    """parquet -> XML -> read must be value-identical for the events
    table (Spark 4 ships the xml format natively). The read uses an
    explicit schema — single-pass, no inference sampling — and
    timestamps round-trip through XML's ISO text form."""
    from financial_anomaly_detection_spark.sources.readers import (
        load_table,
        read_table_xml,
        write_table_xml,
    )

    src = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_xml")
    write_table_xml(src, path, row_tag="event")
    ddl = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    back = read_table_xml(spark, path, row_tag="event", schema=ddl)

    assert back.count() == src.count()
    cols = sorted(src.columns)
    a = [tuple(r) for r in src.select(*cols).orderBy("event_id").collect()]
    b = [tuple(r) for r in back.select(*cols).orderBy("event_id").collect()]
    assert a == b


def test_binaryfile_ingest_feeds_codec_decode(spark, tmp_path):
    """binaryFile is the real multimodal ingestion path: synthesize
    PNG and WAV assets with the repo's own encoders, ingest the
    directory, and decode the ingested bytes — content, length, and
    glob filtering must all be faithful."""
    import numpy as np

    from financial_anomaly_detection_spark.operators.codecs import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )
    from financial_anomaly_detection_spark.sources.readers import read_binary_assets

    rng = np.random.default_rng(42)
    pngs = {}
    for i in range(3):
        img = rng.integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
        raw = encode_png(img)
        (tmp_path / f"img_{i}.png").write_bytes(raw)
        pngs[f"img_{i}.png"] = (raw, img)
    wav_samples = (rng.normal(0, 0.1, size=64) * 32767).astype(np.int16)
    wav_raw = encode_wav(wav_samples, sample_rate=8000)
    (tmp_path / "clip.wav").write_bytes(wav_raw)

    imgs = read_binary_assets(spark, str(tmp_path), pattern="*.png")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in imgs.collect()}
    assert set(rows) == set(pngs)
    for name, (raw, img) in pngs.items():
        r = rows[name]
        assert r["length"] == len(raw)
        assert bytes(r["content"]) == raw
        assert np.array_equal(decode_png(bytes(r["content"])), img)

    audio = read_binary_assets(spark, str(tmp_path), pattern="*.wav")
    (a,) = audio.collect()
    sr, samples = decode_wav(bytes(a["content"]))
    assert sr == 8000
    # decode returns (n_samples, n_channels); mono flattens back
    assert np.array_equal(samples.reshape(-1), wav_samples)


def test_avro_reader_availability_gate(spark, tmp_path):
    """spark-avro is an external module; the container ships without
    it. The gate must answer honestly, and the reader must fail with
    the actionable message instead of a raw provider error. If the
    environment ever gains the module, the same test proves a real
    round-trip (the JDBC/Derby availability pattern)."""
    import pytest

    from financial_anomaly_detection_spark.sources.readers import (
        avro_available,
        load_table,
        read_table_avro,
    )

    if not avro_available(spark):
        with pytest.raises(RuntimeError, match="spark-avro"):
            read_table_avro(spark, str(tmp_path / "nothing.avro"))
        return
    src = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "nation_avro")
    src.write.format("avro").save(path)
    back = read_table_avro(spark, path)
    assert back.count() == src.count()


def test_text_corpus_reader_lines_and_wholetext(spark, tmp_path):
    """text-format ingestion: per-line rows for JSONL-adjacent corpora
    and one-row-per-file wholetext for long documents — and the
    ingested rows flow straight into a text operator."""
    from financial_anomaly_detection_spark.operators.textops import (
        quality_score,
        token_count,
    )
    from financial_anomaly_detection_spark.sources.readers import read_text_corpus

    (tmp_path / "a.txt").write_text("the cat sat\non the mat\n")
    (tmp_path / "b.txt").write_text("one single document body here\n")

    lines = read_text_corpus(spark, str(tmp_path), pattern="*.txt")
    got = sorted(r["text"] for r in lines.collect())
    assert got == sorted(
        ["the cat sat", "on the mat", "one single document body here"]
    )

    docs = read_text_corpus(spark, str(tmp_path), whole_files=True)
    by_file = {
        r["source_path"].rsplit("/", 1)[-1]: r["text"] for r in docs.collect()
    }
    assert by_file["a.txt"] == "the cat sat\non the mat\n"
    assert by_file["b.txt"] == "one single document body here\n"

    # ingested text feeds the quality operators unchanged
    q = {
        r["source_path"].rsplit("/", 1)[-1]: r
        for r in docs.select(
            "source_path",
            token_count("text").alias("tokens"),
            quality_score("text").alias("quality"),
        ).collect()
    }
    assert q["a.txt"]["tokens"] > 0 and q["b.txt"]["tokens"] > 0
    assert all(r["quality"] is not None for r in q.values())
