"""Unit tests: stream-stream attribution join and the custom Python
DataSource."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.pyds import (
    register_weather_api,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
    attribution_join_once,
)


def test_attribution_join_matches_batch_interval_join(spark, sf_dir):
    events = os.path.join(sf_dir, "events.parquet")
    out = attribution_join_once(spark, events)
    got = out.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("left_id").alias("sl"),
        F.sum("right_id").alias("sr"),
    ).first()

    e = spark.read.parquet(events)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("k"), F.col("event_id").alias("left_id"),
        F.col("ts").alias("left_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k2"), F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    )
    batch = c.join(
        p,
        (F.col("k") == F.col("k2"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr("INTERVAL 30 minutes")),
    )
    want = batch.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("left_id").alias("sl"),
        F.sum("right_id").alias("sr"),
    ).first()
    assert (got["n"], got["sl"], got["sr"]) == (want["n"], want["sl"], want["sr"])
    assert got["n"] > 0  # the fixture actually exercises the join


def test_attribution_join_restores_shuffle_conf(spark, sf_dir):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    attribution_join_once(spark, os.path.join(sf_dir, "events.parquet"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_python_datasource_partitions_and_determinism(spark):
    register_weather_api(spark)
    df = (
        spark.read.format("weather_api")
        .option("places", 6).option("hours", 4).option("shards", 3)
        .load()
    )
    rows = df.collect()
    assert len(rows) == 24  # 6 places x 4 hours, no shard overlap/loss
    assert df.rdd.getNumPartitions() == 3
    by_id = {r["obs_id"]: r for r in rows}
    assert sorted(by_id) == list(range(24))
    # deterministic payload: same id -> same measurement on re-read
    again = {
        r["obs_id"]: r
        for r in spark.read.format("weather_api")
        .option("places", 6).option("hours", 4).option("shards", 3)
        .load().collect()
    }
    assert {k: (v["temp_c"], v["humidity"]) for k, v in by_id.items()} == {
        k: (v["temp_c"], v["humidity"]) for k, v in again.items()
    }


def test_python_datasource_streams_hourly_microbatches(spark):
    """The same custom source streams: one synthetic API poll (hour)
    per micro-batch through SimpleDataSourceStreamReader, draining to
    exactly the batch-read row set — offset bookkeeping proven by
    replaying all hours."""
    register_weather_api(spark)
    s = (
        spark.readStream.format("weather_api")
        .option("places", 5).option("hours", 3).load()
    )
    q = (
        s.writeStream.format("memory").queryName("wapi_stream_sink")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("wapi_stream_sink").collect()))
    want = sorted(
        map(
            tuple,
            spark.read.format("weather_api")
            .option("places", 5).option("hours", 3).load().collect(),
        )
    )
    assert got == want and len(got) == 15


def test_python_datasource_stream_query_drops_its_memory_view(spark, sf_dir):
    """The registry's python-datasource stream query reads its memory
    sink through ``phasing.read_memory``: the session's tables are the
    same after the call, and the pinned result still holds all 30
    places."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.registry import (
        q_python_datasource_stream,
    )

    before = spark.catalog.listTables()
    out = q_python_datasource_stream(spark, sf_dir)
    assert spark.catalog.listTables() == before
    assert out.count() == 30


def test_stream_session_windows_match_batch_islands(spark, sf_dir):
    """Streaming session_window (append, watermarked) == batch
    gap-sessionization restricted to watermark-closed sessions."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        session_windows_once,
    )

    events = os.path.join(sf_dir, "events.parquet")
    out = session_windows_once(
        spark, events, gap="30 minutes", lateness="5 minutes",
        group_cols=["user_id"],
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in out.collect()
    }
    assert got, "no sessions emitted"

    # batch twin: lag/cumsum island algorithm + the ms-truncated
    # watermark cut (Spark tracks event-time stats in milliseconds)
    from pyspark.sql import Window

    b = spark.read.parquet(events).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        b.withColumn("pts", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("pts").isNull()
                | (F.col("ts") >= F.col("pts") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    max_us = b.agg(F.unix_micros(F.max("ts"))).collect()[0][0]
    wm_us = (max_us // 1000) * 1000 - 300_000_000
    closed = sess.filter(F.unix_micros("session_end") <= wm_us)
    want = {
        (
            r.user_id,
            r.session_start.replace(tzinfo=None),
            r.session_end.replace(tzinfo=None),
            r.n_events,
        )
        for r in closed.collect()
    }
    got_naive = {
        (u, s.replace(tzinfo=None), e.replace(tzinfo=None), n)
        for u, s, e, n in got
    }
    assert got_naive == want


def test_pyds_stream_source_to_pyds_stream_sink(spark, tmp_path):
    """End-to-end custom-Python plumbing: the weather_api stream source
    (one synthetic hour per micro-batch) lands in the jsonl_audit
    stream SINK — per-batch two-phase commit, per-batch manifest. The
    manifest-trusting reader must see exactly places × hours rows and
    one manifest per data batch."""
    import os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.pyds import (
        read_jsonl_audit,
        register_jsonl_audit,
        register_weather_api,
    )

    register_weather_api(spark)
    register_jsonl_audit(spark)
    out_dir = str(tmp_path / "sink")
    os.makedirs(out_dir)
    q = (
        spark.readStream.format("weather_api")
        .option("places", 5)
        .option("hours", 6)
        .load()
        .writeStream.format("jsonl_audit")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = read_jsonl_audit(
        spark,
        out_dir,
        "obs_id long, place_key long, obs_hour long, temp_c double, humidity long",
    )
    assert back.count() == 5 * 6
    assert back.select("obs_hour").distinct().count() == 6
    manifests = [f for f in os.listdir(out_dir) if f.startswith("_MANIFEST")]
    assert len(manifests) >= 1
    # no staged orphans survive a clean run
    assert not [f for f in os.listdir(out_dir) if f.startswith("_staged")]


def test_pyds_writer_append_and_overwrite_modes(spark, tmp_path):
    """Second append-mode save must ADD to the sink (own manifest +
    parts, first commit untouched); overwrite mode must clear prior
    commits. Regression: commit() once clobbered part-00000.jsonl and
    _MANIFEST.json on every save."""
    import os

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.pyds import (
        read_jsonl_audit,
        register_jsonl_audit,
    )

    register_jsonl_audit(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(3, "z")], "id long, v string")
    a.write.format("jsonl_audit").option("path", out).mode("append").save()
    b.write.format("jsonl_audit").option("path", out).mode("append").save()
    back = read_jsonl_audit(spark, out, "id long, v string")
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]
    b.write.format("jsonl_audit").option("path", out).mode("overwrite").save()
    back2 = read_jsonl_audit(spark, out, "id long, v string")
    assert sorted(r["id"] for r in back2.collect()) == [3]
