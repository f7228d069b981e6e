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

    # a partitioned read missing a bound is refused by name, not sent
    # to Spark as the string "None" (a NumberFormatException at load)
    for missing in ("lower_bound", "upper_bound"):
        bounds = {"lower_bound": 1001, "upper_bound": 1004}
        del bounds[missing]
        with pytest.raises(ValueError, match=f"read_jdbc_table.*{missing}"):
            read_jdbc_table(
                spark, url, "anomalies_log", partition_column="transaction_id",
                properties=props, **bounds,
            )


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
