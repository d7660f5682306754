"""End-to-end Structured Streaming CDC tests (SURVEY §2.7 T1-T3, §5).

Drives the file-based CDC source through foreachBatch merge with the
exact event mix FIXTURES.md A4 prescribes: fresh inserts, duplicate
re-insert, FK-orphan insert, update-to-existing, update-to-missing
(upsert), delete (no-op), unknown op (poison → DLQ).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import schemas
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.flatten import (
    flatten_weather,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.integrity import (
    fk_filter,
    fk_violations,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.merge import (
    last_write_wins,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.cdc_merge import (
    N_BUCKETS,
    ORPHAN,
    PART_COL,
    apply_cdc_batch,
    cdc_merge_replay,
    classify_batch,
    read_target,
    split_by_operation,
    start_cdc_stream,
    with_bucket,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
    windowed_counts,
)


def _doc(_id, place_id, temp_c=20.0, last_updated="2023-11-14 15:00"):
    return {
        "_id": _id,
        "place_id": place_id,
        "location": None,
        "current": {
            "last_updated_epoch": 1700000000,
            "last_updated": last_updated,
            "temp_c": temp_c, "temp_f": temp_c * 1.8 + 32,
            "is_day": 1,
            "condition": {"text": "Sunny", "icon": "i", "code": 1000},
            "wind_mph": 5.0, "wind_kph": 8.0, "wind_degree": 90,
            "wind_dir": "E", "pressure_mb": 1010.0, "pressure_in": 29.8,
            "precip_mm": 0.0, "precip_in": 0.0, "humidity": 60, "cloud": 10,
            "feelslike_c": 21.0, "feelslike_f": 70.0, "vis_km": 10.0,
            "vis_miles": 6.0, "uv": 5.0, "gust_mph": 7.0, "gust_kph": 11.0,
        },
    }


def _event(op, doc=None, key=None, ts="2023-11-14T15:00:00.000Z"):
    return {
        "operation_type": op,
        "ns_db": "lake",
        "ns_coll": "weather",
        "full_document": doc,
        "document_key": key,
        "ts": ts,
    }


PLACES = [
    ("hanoi", None, None, "VN", "21.0N", "105.8E", "Hanoi", None, None),
    ("hue", None, None, "VN", "16.4N", "107.5E", "Hue", None, None),
]


@pytest.fixture()
def places_dim(spark):
    return spark.createDataFrame(PLACES, schemas.PLACES_DIM)


def _write_events(path, events, name="batch0.json"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _run(spark, events_dir, target, dim, dlq, ckpt):
    q = start_cdc_stream(spark, events_dir, target, dim, dlq, ckpt)
    q.awaitTermination(120)


def test_cdc_merge_full_event_mix(spark, places_dim, tmp_path):
    events_dir = str(tmp_path / "events")
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    events = [
        _event("insert", doc=_doc("w1", "hanoi", 20.0)),
        _event("insert", doc=_doc("w2", "hue", 25.0)),
        _event("insert", doc=_doc("w2", "hue", 25.0)),          # duplicate PK
        _event("insert", doc=_doc("w3", "nowhere", 30.0)),       # FK orphan
        _event("update", doc=_doc("w1", "hanoi", 99.0), key="w1"),
        _event("update", doc=_doc("w9", "hue", 12.0), key="w9"), # upsert-missing
        _event("delete", key="w2"),                               # no-op
        _event("drop_collection"),                                # poison
    ]
    _write_events(events_dir, events)
    _run(spark, events_dir, target, places_dim, dlq, str(tmp_path / "ckpt"))

    fact = read_target(spark, target)
    rows = {r.id: r for r in fact.collect()}
    # w1 inserted then updated; w2 inserted once despite dup; w3 rejected;
    # w9 upserted via update-to-missing; delete left w2 alone.
    assert set(rows) == {"w1", "w2", "w9"}
    assert rows["w1"].temp_c == 99.0
    assert rows["w2"].temp_c == 25.0
    assert rows["w9"].temp_c == 12.0
    assert len(fact.columns) == 25  # warehouse DDL shape preserved

    fk_dlq = spark.read.json(os.path.join(dlq, "fk_violations"))
    assert [r._id for r in fk_dlq.collect()] == ["w3"]
    poison = spark.read.json(os.path.join(dlq, "unknown_ops"))
    assert [r.operation_type for r in poison.collect()] == ["drop_collection"]


def test_cdc_merge_is_idempotent_across_redelivery(spark, places_dim, tmp_path):
    """At-least-once delivery: replaying the same events (fresh
    checkpoint) must not change the target — reference T3 semantics."""
    events_dir = str(tmp_path / "events")
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    events = [
        _event("insert", doc=_doc("w1", "hanoi", 20.0)),
        _event("update", doc=_doc("w1", "hanoi", 50.0), key="w1"),
        _event("insert", doc=_doc("w2", "hue", 25.0)),
    ]
    _write_events(events_dir, events)
    _run(spark, events_dir, target, places_dim, dlq, str(tmp_path / "ckpt1"))
    first = sorted(map(str, spark.read.parquet(target).collect()))
    # replay with a NEW checkpoint → source re-delivers everything
    _run(spark, events_dir, target, places_dim, dlq, str(tmp_path / "ckpt2"))
    second = sorted(map(str, spark.read.parquet(target).collect()))
    assert first == second


def test_partition_scoped_merge_leaves_untouched_partitions_alone(
    spark, places_dim, tmp_path
):
    """The 100 TB guarantee of the partitioned CDC target: an update
    batch rewrites ONLY the key-hash partitions containing updated
    keys — every other partition's files stay byte-identical."""
    events_dir = str(tmp_path / "events")
    target = str(tmp_path / "fact")
    dlq = str(tmp_path / "dlq")
    inserts = [
        _event("insert", doc=_doc(f"w{i}", "hanoi", 20.0 + i)) for i in range(8)
    ]
    _write_events(events_dir, inserts)
    _run(spark, events_dir, target, places_dim, dlq, str(tmp_path / "ck1"))

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(target):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, target)] = fh.read()
        return out

    before = snapshot()
    bucket = (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit("w3")), F.lit(N_BUCKETS)).cast("int").alias("b")
        )
        .collect()[0]
        .b
    )
    ev2 = str(tmp_path / "events2")
    _write_events(ev2, [_event("update", doc=_doc("w3", "hanoi", 77.0), key="w3")])
    _run(spark, ev2, target, places_dim, dlq, str(tmp_path / "ck2"))
    after = snapshot()

    touched_prefix = f"{PART_COL}={bucket}"
    untouched_before = {
        p: b for p, b in before.items() if not p.startswith(touched_prefix)
    }
    untouched_after = {
        p: b for p, b in after.items() if not p.startswith(touched_prefix)
    }
    assert untouched_before, "fixture must span more than one partition"
    assert untouched_before == untouched_after  # byte-identical files
    # and the touched partition did absorb the update
    fact = read_target(spark, target)
    assert [r.temp_c for r in fact.filter(F.col("id") == "w3").collect()] == [77.0]
    assert fact.count() == 8


def test_classify_buckets_equal_with_bucket_buckets(spark, places_dim, tmp_path):
    """The classify pass's touched-bucket list ``tb`` names exactly the
    partitions ``with_bucket`` writes the batch's FK-valid updates to,
    so the partition-scoped merge reads and rewrites the right ones."""
    events_dir = str(tmp_path / "events")
    events = [
        _event("update", doc=_doc(f"w{i}", ("hanoi", "hue")[i % 2], float(i)), key=f"w{i}")
        for i in range(12)
    ]
    events += [
        _event("update", doc=_doc("w3", "hue", 99.0), key="w3",
               ts="2023-11-14T16:00:00.000Z"),                    # LWW twin
        _event("update", doc=_doc("w77", "nowhere", 1.0), key="w77"),  # FK orphan
        _event("insert", doc=_doc("w88", "hanoi", 2.0)),               # not an update
    ]
    _write_events(events_dir, events)
    batch = spark.read.schema(schemas.CDC_EVENT).json(events_dir)

    upd = split_by_operation(batch)["update"].select("ts", "full_document.*")
    upd = fk_filter(upd, places_dim, "place_id")
    newest = last_write_wins(flatten_weather(upd, passthrough=["ts"]), "id", "ts").drop("ts")
    expected = sorted(
        r[0] for r in with_bucket(newest).select(PART_COL).distinct().collect()
    )
    assert len(expected) > 1, "fixture must span more than one bucket"
    assert list(classify_batch(batch, places_dim)[1]["tb"]) == expected


def test_classify_op_counts_equal_split_by_operation(spark, places_dim, tmp_path):
    """The classify pass's unknown/insert/update counts and the dispatch
    branches come from one predicate definition: insert and replace
    are inserts, and an unknown op and a NULL op are both unknown."""
    events_dir = str(tmp_path / "events")
    _write_events(events_dir, [
        _event("insert", doc=_doc("w1", "hanoi")),
        _event("replace", doc=_doc("w2", "hue")),
        _event("update", doc=_doc("w1", "hanoi", 30.0), key="w1"),
        _event("delete", key="w2"),
        _event("truncate"),
        _event(None),
    ])
    batch = spark.read.schema(schemas.CDC_EVENT).json(events_dir)
    parts = split_by_operation(batch)
    _, probe = classify_batch(batch, places_dim)
    counts = {kind: df.count() for kind, df in parts.items()}
    assert counts == {"insert": 2, "update": 1, "delete": 1, "unknown": 2}
    assert (probe["u"], probe["i"], probe["p"]) == (
        counts["unknown"], counts["insert"], counts["update"]
    )


def _read_events(spark, path, events):
    _write_events(path, events)
    return spark.read.schema(schemas.CDC_EVENT).json(path)


def test_apply_cdc_batch_returns_pipeline_counters(spark, places_dim, tmp_path):
    """The batch's probe counts come back as its pipeline counters:
    event counts per op, FK orphans per path (raw, before dedup and
    collapse) and the buckets the update merge rewrites."""
    batch = _read_events(spark, str(tmp_path / "events"), [
        _event("insert", doc=_doc("w1", "hanoi")),
        _event("insert", doc=_doc("w2", "hue")),
        _event("replace", doc=_doc("w2", "hue")),                    # duplicate PK
        _event("insert", doc=_doc("w3", "nowhere")),                 # FK orphan
        _event("insert", doc=_doc("w3", "nowhere")),                 # FK orphan again
        _event("update", doc=_doc("w1", "hanoi", 30.0), key="w1"),
        _event("update", doc=_doc("w8", "atlantis", 1.0), key="w8"),  # FK orphan
        _event("delete", key="w2"),
        _event("truncate"),                                          # poison
    ])
    target, dlq = str(tmp_path / "fact"), str(tmp_path / "dlq")
    counters = apply_cdc_batch(batch, 0, target, places_dim, dlq)
    assert counters == {
        "unknown": 1,
        "insert": 5,
        "update": 2,
        "insert_fk_orphans": 2,
        "update_fk_orphans": 1,
        "touched_buckets": 1,
        "inserted": 2,
        "fk_dead_lettered": 2,
    }
    fact = read_target(spark, target)
    assert {r.id: r.temp_c for r in fact.collect()} == {"w1": 30.0, "w2": 20.0}
    rejected = spark.read.json(os.path.join(dlq, "fk_violations"))
    assert sorted(r._id for r in rejected.collect()) == ["w3", "w8"]


def test_classify_orphans_equal_fk_violations(spark, tmp_path):
    """The ``__orphan`` flag is ``integrity.fk_violations``: an event
    with a NULL place_id (or no document at all) is an orphan, a dim
    key listed twice matches once without duplicating the event, and a
    NULL dim key matches nothing."""
    batch = _read_events(spark, str(tmp_path / "events"), [
        _event("insert", doc=_doc("w1", "hanoi")),
        _event("insert", doc=_doc("w2", None)),                      # NULL fk
        _event("update", doc=_doc("w3", "nowhere", 5.0), key="w3"),
        _event("update", doc=_doc("w4", "hue", 6.0), key="w4"),
        _event("delete", key="w1"),
    ])
    dim = spark.createDataFrame(
        [("hanoi",), ("hanoi",), (None,), ("hue",)], "place_id string"
    )
    classified, counts = classify_batch(batch, dim)
    flat = batch.select("operation_type", "full_document.*")
    expected = fk_violations(flat, dim, "place_id").select(*flat.columns)
    got = classified.filter(F.col(ORPHAN)).select("operation_type", "full_document.*")
    assert classified.count() == batch.count()
    assert sorted(map(str, got.collect())) == sorted(map(str, expected.collect()))
    assert sorted(r._id or "" for r in got.collect()) == ["", "w2", "w3"]
    assert (counts["io"], counts["po"]) == (1, 1)


def test_declared_fact_schema_equals_the_written_one(spark, places_dim, tmp_path):
    """``schemas.WEATHER_FACT``, the schema the CDC merge reads its
    target with, is the schema an insert+update batch writes, so a
    change to the flatten projection fails here rather than in a
    declared-schema read."""
    batch = _read_events(spark, str(tmp_path / "events"), [
        _event("insert", doc=_doc("w1", "hanoi")),
        _event("update", doc=_doc("w1", "hanoi", 30.0), key="w1"),
        _event("update", doc=_doc("w2", "hue", 31.0), key="w2"),
    ])
    target = str(tmp_path / "fact")
    apply_cdc_batch(batch, 0, target, places_dim, str(tmp_path / "dlq"))
    inferred = spark.read.parquet(target)
    assert inferred.drop(PART_COL).schema == schemas.WEATHER_FACT
    assert inferred.schema[PART_COL].dataType.typeName() == "integer"
    declared = read_target(spark, target, schemas.WEATHER_FACT)
    assert sorted(map(str, declared.collect())) == sorted(
        map(str, read_target(spark, target).collect())
    )


def test_cdc_replay_evaluates_the_dim_once_per_batch(spark, tmp_path):
    """Every FK check of a micro-batch reads one snapshot of the dim:
    a dim whose rows are counted as they are computed is evaluated
    exactly once per batch, and the replay's outputs are those of the
    event mix (the redelivered orphan is rejected again in batch 1)."""
    evaluated = spark.sparkContext.accumulator(0)

    def counted(row):
        evaluated.add(1)
        return row

    rdd = spark.sparkContext.parallelize(PLACES, 2).map(counted)
    dim = spark.createDataFrame(rdd, schemas.PLACES_DIM)
    p1 = _read_events(spark, str(tmp_path / "p1"), [
        _event("insert", doc=_doc("w1", "hanoi", 20.0)),
        _event("insert", doc=_doc("w2", "hue", 25.0)),
        _event("insert", doc=_doc("w3", "nowhere", 30.0)),
        _event("truncate"),
    ])
    p2 = _read_events(spark, str(tmp_path / "p2"), [
        _event("insert", doc=_doc("w2", "hue", 25.0)),
        _event("insert", doc=_doc("w3", "nowhere", 30.0)),
        _event("update", doc=_doc("w1", "hanoi", 70.0), key="w1",
               ts="2023-11-14T16:00:00.000Z"),
        _event("update", doc=_doc("w9", "atlantis", 1.0), key="w9",
               ts="2023-11-14T16:00:00.000Z"),
    ])
    fact, dlq_fk, dlq_unknown = cdc_merge_replay(spark, [p1, p2], dim)
    assert evaluated.value == len(PLACES) * 2
    assert {r.id: r.temp_c for r in fact.collect()} == {"w1": 70.0, "w2": 25.0}
    assert sorted((r._id, r.batch_id) for r in dlq_fk.collect()) == [
        ("w3", 0), ("w3", 1), ("w9", 1)
    ]
    assert [(r.operation_type, r.batch_id) for r in dlq_unknown.collect()] == [
        ("truncate", 0)
    ]


def test_windowed_counts_streaming(spark, tmp_path):
    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "event_type": "click"},
        {"event_id": 2, "ts": "2024-01-01T00:50:00.000Z", "event_type": "click"},
        {"event_id": 3, "ts": "2024-01-01T01:05:00.000Z", "event_type": "view"},
    ]
    with open(os.path.join(events_dir, "e.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "event_id long, ts timestamp, event_type string"
    stream = spark.readStream.schema(schema).json(events_dir)
    agg = windowed_counts(stream, "ts", "1 hour", "5 minutes", ["event_type"])
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.isoformat(), r.event_type): r.n_events
        for r in spark.sql("select * from win_counts").collect()
    }
    # Watermark = max(ts) - lateness = 01:00 → the [00:00,01:00) window is
    # finalized and emitted; the [01:00,02:00) window is still open, so
    # its rows are correctly withheld in append mode.
    assert got == {("2024-01-01T00:00:00", "click"): 2}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """T3 streaming-native form: dropDuplicatesWithinWatermark drops
    re-delivered ids without unbounded state."""
    import json as _json

    ev_dir = str(tmp_path / "dups")
    os.makedirs(ev_dir)
    rows = [
        {"id": "a", "ts": "2024-01-01T00:00:00.000Z", "v": 1},
        {"id": "a", "ts": "2024-01-01T00:00:30.000Z", "v": 2},  # duplicate id
        {"id": "b", "ts": "2024-01-01T00:01:00.000Z", "v": 3},
    ]
    with open(os.path.join(ev_dir, "e.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema("id string, ts timestamp, v long").json(ev_dir)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["id"])
    out: list = []
    q = (
        deduped.writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.id for r in out) == ["a", "b"]


def test_session_window_streaming_agg(spark, tmp_path):
    """Spark's built-in session windows (gap-close semantics) over a
    stream — the streaming twin of operators.sessions."""
    import json as _json

    ev_dir = str(tmp_path / "sw")
    os.makedirs(ev_dir)
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z"},
        {"user_id": 1, "ts": "2024-01-01T00:03:00.000Z"},   # same session
        {"user_id": 1, "ts": "2024-01-01T01:00:00.000Z"},   # new session
        {"user_id": 9, "ts": "2024-01-01T02:00:00.000Z"},   # watermark pusher
    ]
    with open(os.path.join(ev_dir, "e.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema("user_id long, ts timestamp").json(ev_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out: list = []
    q = (
        agg.writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    closed = {(r.user_id, r.w.start.isoformat()): r.n for r in out}
    # user 1's first session (2 events, closes at 00:08) and second
    # session (closes 01:05) are both behind the 01:50 watermark
    assert closed[(1, "2024-01-01T00:00:00")] == 2
    assert closed[(1, "2024-01-01T01:00:00")] == 1


def test_pipeline_monitor_listener(spark, tmp_path):
    """StreamingQueryListener surface (reference monitor.sh / T8)."""
    import json as _json

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.listeners import (
        PipelineMonitor,
    )

    mon = PipelineMonitor()
    spark.streams.addListener(mon)
    try:
        ev_dir = str(tmp_path / "mon")
        os.makedirs(ev_dir)
        with open(os.path.join(ev_dir, "e.json"), "w") as f:
            f.write(_json.dumps({"v": 1}) + "\n")
        # a stateful stream, so the state-row total has something to count
        stream = spark.readStream.schema("v long").json(ev_dir).dropDuplicates(["v"])
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time

        for _ in range(20):  # listener callbacks are async
            if mon.progress:
                break
            time.sleep(0.5)
        [p] = [p for p in mon.progress if p["num_input_rows"] == 1]
        assert p["state_rows"] == 1
        assert {"addBatch", "triggerExecution"} <= set(p["duration_ms"])
        assert all(isinstance(ms, int) for ms in p["duration_ms"].values())
    finally:
        spark.streams.removeListener(mon)


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join with watermarks: purchases joined to clicks
    by the same user within the preceding hour — both sides unbounded,
    state bounded by the watermark + interval condition."""
    import json as _json

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    os.makedirs(cdir); os.makedirs(pdir)
    with open(os.path.join(cdir, "c.json"), "w") as f:
        for eid, ts in [(1, "00:10"), (2, "01:30"), (3, "05:00")]:
            f.write(_json.dumps({"user_id": 1, "click_id": eid,
                                 "cts": f"2024-01-01T{ts}:00.000Z"}) + "\n")
    with open(os.path.join(pdir, "p.json"), "w") as f:
        f.write(_json.dumps({"user_id": 1, "purchase_id": 100,
                             "pts": "2024-01-01T01:45:00.000Z"}) + "\n")
    clicks = spark.readStream.schema("user_id long, click_id long, cts timestamp").json(cdir).withWatermark("cts", "10 minutes")
    purch = spark.readStream.schema("user_id long, purchase_id long, pts timestamp").json(pdir).withWatermark("pts", "10 minutes")
    joined = purch.join(
        clicks,
        (purch["user_id"] == clicks["user_id"])
        & (clicks["cts"] >= purch["pts"] - F.expr("INTERVAL 1 HOUR"))
        & (clicks["cts"] <= purch["pts"]),
    )
    out: list = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # only click 2 (01:30) falls within [00:45, 01:45] of the purchase
    assert [(r.purchase_id, r.click_id) for r in out] == [(100, 2)]


def test_windowed_counts_once_equals_batch(spark):
    """stream-executed tumbling agg == batch tumbling agg on the same
    lake table (the driver-oracled stream_batch_hourly equivalence,
    asserted engine-side here)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.windows import (
        tumbling_agg,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.tables import (
        load_table,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        windowed_counts_once,
    )

    sf = "/root/testdata/sf0.001"
    aggs = [F.count(F.lit(1)).alias("n_events")]
    streamed = windowed_counts_once(
        spark, os.path.join(sf, "events.parquet"),
        group_cols=["event_type"], aggs=aggs,
    )
    batch = tumbling_agg(
        load_table(spark, sf, "events"), "ts", "1 hour", ["event_type"], aggs
    )
    key = lambda r: (r.window_start, r.event_type)  # noqa: E731
    s = {key(r): r.n_events for r in streamed.collect()}
    b = {key(r): r.n_events for r in batch.collect()}
    assert s == b and len(s) > 0


def test_listener_alert_hook_fires_on_stream_failure(spark, tmp_path):
    """K7/T8 e2e: a crashing stream must invoke the alert hook
    (reference monitor.sh:15 publishes to SNS when the daemon dies
    unexpectedly) — not just record progress."""
    import json as _json
    import time

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.listeners import (
        PipelineMonitor,
    )

    alerts: list = []
    mon = PipelineMonitor(on_failure=alerts.append)
    spark.streams.addListener(mon)
    try:
        ev_dir = str(tmp_path / "boom")
        os.makedirs(ev_dir)
        with open(os.path.join(ev_dir, "e.json"), "w") as f:
            f.write(_json.dumps({"v": 1}) + "\n")

        def poison(df, _bid):
            raise ValueError("poison batch: simulated daemon crash")

        q = (
            spark.readStream.schema("v long").json(ev_dir)
            .writeStream.foreachBatch(poison)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="poison batch"):
            q.awaitTermination(120)
        for _ in range(40):  # listener callbacks are async
            if alerts:
                break
            time.sleep(0.5)
        assert alerts and "poison batch" in alerts[0]
    finally:
        spark.streams.removeListener(mon)
