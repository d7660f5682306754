"""Streaming windowed aggregation with watermarks (SURVEY §2.7 T4/T5).

The reference's hourly cadence + freshness rejection is, in Spark
terms, a 1-hour tumbling window with a short allowed lateness
(reference: Lambda deadline ≈ 5 min, ``README.md:13,74``): rows older
than the watermark are dropped, exactly like the reference's
``last_updated == expected`` predicate discarding stale observations.
"""

from __future__ import annotations

import os
from contextlib import AbstractContextManager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    PhasedReplay,
    read_memory,
    replay_facts,
    restart_replay,
    run_bounded,
    session_conf,
)

WINDOW = ("window_start", "window_end")
SESSION = ("session_start", "session_end")


def _open_event_stream(
    spark: SparkSession,
    events_path: str,
    ts_col: str,
    max_files_per_trigger: int | None = None,
) -> tuple[DataFrame, bool]:
    """File-stream over a lake parquet table with the event-time column
    normalized to TIMESTAMP. Returns (stream, had_ntz_event_time).

    Same nanos-parquet handling as ``sources/tables.py:load_table``:
    TIMESTAMP(NANOS) columns stream in as raw longs and are rebuilt as
    microsecond timestamps. TIMESTAMP_NTZ event time (what Spark ≥3.4
    infers for parquet micros with ``isAdjustedToUTC=false``, the
    lake's layout) is cast to TIMESTAMP — ``withWatermark`` rejects NTZ
    outright (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); the session
    timezone is pinned UTC so the cast is value-identical. Callers pass
    the flag to :func:`_ntz_bounds` to cast the emitted bounds back.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    raw_schema = spark.read.parquet(events_path).schema
    # the lake table may be a single parquet FILE. The file-stream
    # source force-sets basePath to the source path UNLESS the path is
    # a glob, and a file-valued basePath is rejected — so feed it a
    # glob for the same file plus an explicit directory basePath
    base = os.path.dirname(events_path.rstrip("/")) or "."
    reader = spark.readStream.schema(raw_schema).option("basePath", base)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(
        events_path + "*" if not any(c in events_path for c in "*?[{") else events_path
    )
    if isinstance(raw_schema[ts_col].dataType, T.LongType):
        stream = stream.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    ntz_event_time = isinstance(raw_schema[ts_col].dataType, T.TimestampNTZType)
    if ntz_event_time:
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream, ntz_event_time


def _ntz_bounds(
    out: DataFrame, ntz_event_time: bool, bounds: tuple[str, ...] = WINDOW
) -> DataFrame:
    """The NTZ round trip's way back: cast the emitted window or
    session ``bounds`` to TIMESTAMP_NTZ when the stream's event time was
    NTZ (:func:`_open_event_stream`'s flag), as the streaming plan's
    last projection, so the output schema matches the batch-read (NTZ)
    formulation the oracles compare against."""
    if not ntz_event_time:
        return out
    return out.withColumns({c: F.col(c).cast("timestamp_ntz") for c in bounds})


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an unbounded
    stream (sliding when ``slide`` < ``duration`` is given: each event
    then feeds duration/slide concurrent windows — state stays bounded
    because the watermark still evicts finalized windows). State is
    bounded: windows older than the watermark are finalized and
    evicted."""
    group_cols = group_cols or []
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    win = F.window(ts_col, duration, slide) if slide else F.window(ts_col, duration)
    return (
        stream.withWatermark(ts_col, lateness)
        .groupBy(win.alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def windowed_counts_once(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Run ``windowed_counts`` over the lake's events parquet as an
    actual Structured Streaming job (file stream, ``availableNow``
    trigger) and return the finalized aggregation as a batch DataFrame.

    Exists to make streaming semantics DRIVER-verifiable: the caller
    oracles this result against the equivalent batch SQL, pinning
    stream-executed == batch-executed for the same window spec.
    Output mode is ``complete`` into a named memory sink — append mode
    would withhold the trailing windows the final watermark hasn't
    passed, which is correct for an unbounded stream but would break
    equivalence on a bounded replay. The memory sink holds only the
    aggregated windows (not the input), so its driver footprint is the
    result size; an unbounded production pipeline would instead run
    append mode into a partitioned parquet sink and tolerate the
    open-window lag.

    Same nanos-parquet handling as ``sources/tables.py:load_table``:
    TIMESTAMP(NANOS) columns stream in as raw longs and are rebuilt as
    microsecond timestamps.

    TIMESTAMP_NTZ event time (what Spark ≥3.4 infers for parquet
    micros with ``isAdjustedToUTC=false``, the lake's layout) is cast
    to TIMESTAMP before watermarking — ``withWatermark`` rejects NTZ
    outright (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session
    timezone is pinned UTC, so the cast is value-identical; the window
    bounds are cast back to NTZ (:func:`_ntz_bounds`) so the output
    schema matches the batch-read (NTZ) formulation the oracles compare
    against.
    """
    stream, ntz = _open_event_stream(spark, events_path, ts_col)
    out = windowed_counts(stream, ts_col, duration, lateness, group_cols, aggs, slide)
    q = run_bounded(
        spark, _ntz_bounds(out, ntz), "windowed_counts_once", "memory", "complete"
    )
    return read_memory(spark, q)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def windowed_counts_once_rocksdb(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """:func:`windowed_counts_once` executed under the **RocksDB state
    store provider** — the large-state scale path. The default
    HDFS-backed provider keeps every state key in executor HEAP, so at
    100 TB-stream state sizes (billions of open windows/keys) it OOMs
    or thrashes GC; RocksDB (bundled with Spark — ``rocksdbjni``)
    holds state in native memory + local disk with incremental
    changelog checkpointing, bounding heap by block cache, not
    keyspace. Results must be IDENTICAL — the provider is a physical
    layout choice, not a semantics choice — which is exactly what the
    caller's relational oracle pins.

    The provider conf is read at QUERY start, so it is set just for
    this bounded run and restored after (:func:`rocksdb_state_store`);
    the run asserts RocksDB actually engaged (:func:`check_rocksdb`)."""
    stream, ntz = _open_event_stream(spark, events_path, ts_col)
    out = windowed_counts(stream, ts_col, duration, lateness, group_cols, aggs)
    with rocksdb_state_store(spark):
        q = run_bounded(
            spark,
            _ntz_bounds(out, ntz),
            "windowed_counts_rocksdb",
            "memory",
            "complete",
        )
    result = read_memory(spark, q)
    check_rocksdb(replay_facts(q.recentProgress), "windowed_counts_once_rocksdb")
    return result


def rocksdb_state_store(spark: SparkSession) -> AbstractContextManager[None]:
    """Scope: queries started in the body keep their state in the
    RocksDB provider (read at query start); the previous provider
    setting is restored afterwards."""
    return session_conf(
        spark, "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )


def check_rocksdb(facts: dict, where: str) -> None:
    """Raise unless RocksDB backed the run whose :func:`replay_facts`
    are given (its rocksdb* custom metrics present): a silently ignored
    provider conf must fail loudly, not 'pass' on the default
    provider."""
    if not facts["rocksdb"]:
        raise RuntimeError(
            f"{where}: no RocksDB custom metrics in the state operator "
            "progress — the provider conf did not engage"
        )


def session_windows_once(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Watermarked streaming session windows (``F.session_window``) over
    the lake's events parquet, run as an actual Structured Streaming
    job (availableNow) and returned as a batch DataFrame.

    The streaming twin of the batch gap-sessionization the engine
    already oracles: events merge into one session while each arrives
    strictly within ``gap`` of the previous (the session window is
    half-open — an event exactly at prev_ts+gap starts a NEW session),
    and the watermark both drops late events and bounds state: a
    session is finalized and evicted once no in-gap continuation can
    arrive.

    Session windows support only append/update output, never complete
    (merging sessions can retract rows), so unlike
    ``windowed_counts_once`` this runs APPEND mode: the emitted set is
    exactly the sessions whose ``session_end`` (last event + gap) is ≤
    the final watermark (global max event time − ``lateness``). On a
    bounded replay the trailing open sessions are therefore withheld —
    correct streaming semantics, and the DuckDB oracle applies the same
    ``session_end <= max(ts) - lateness`` cut so stream-executed ==
    batch-SQL holds exactly. State is per (group, open session): at
    1000 executors it shards by group key and the watermark evicts
    every closed session, so state size tracks ACTIVE sessions only.
    The run sizes its state to 16 shuffle partitions (the group-key
    cardinality, not the CPU count).
    """
    group_cols = group_cols if group_cols is not None else ["user_id"]
    aggs = aggs or [F.count(F.lit(1)).cast("long").alias("n_events")]
    stream, ntz = _open_event_stream(spark, events_path, ts_col)
    aggd = (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *group_cols)
        .agg(*aggs)
    )
    agg_names = [c for c in aggd.columns if c != "w" and c not in group_cols]
    out = aggd.select(
        *group_cols,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *agg_names,
    )
    q = run_bounded(
        spark,
        _ntz_bounds(out, ntz, SESSION),
        "session_windows_once",
        "memory",
        partitions=16,
    )
    result = read_memory(spark, q)
    # The batch-SQL oracle models the emission rule for a
    # SINGLE-data-micro-batch replay: watermark still at 0 while all
    # rows arrive, so no late rows are dropped and the only cut is
    # the final-watermark withholding. If the replay ever splits
    # (maxFilesPerTrigger set, or a multi-file events table at
    # larger SF), rows arriving after batch 1 would face a nonzero
    # watermark and the stream would diverge from the oracle — fail
    # loudly instead of silently diverging.
    data_batches = sum(p["numInputRows"] > 0 for p in q.recentProgress)
    if data_batches > 1:
        raise RuntimeError(
            f"session_windows_once replayed {data_batches} data "
            "micro-batches; the bounded-replay oracle assumes exactly "
            "one (watermark still 0 on arrival). Coalesce the input "
            "or extend the oracle to model per-batch watermarks."
        )
    return result


def restart_session_windows(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    lateness: str = "1 hour",
    group_cols: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """Session windows across a checkpoint RESTART — the third stateful
    family to get the two-run/one-checkpoint treatment (aggregates:
    ``restart_append_counts``; joins: ``joins.restart_attribution_join``).

    Run 1 sessionizes ``phase1``: sessions with end ≤ W1 (ms-truncated
    max phase-1 event time − lateness) EMIT and evict; open sessions
    (end > W1) persist in the checkpointed state. ``phase2`` lands and
    the query restarts: a phase-2 row is admitted iff its provisional
    session end ``ts + gap`` exceeds W1 (empirically pinned, strict —
    the SESSION-WINDOW end is what the late filter tests, not the raw
    event time), admitted rows MERGE with restored open sessions when
    in-gap (a session genuinely spanning the restart) but can NEVER
    re-merge with an already-emitted session (its state is gone — the
    stream emits two sessions where batch sessionization would emit
    one; the oracle must model exactly that), and the final watermark
    W2 emits every session it passes. Returns (emissions-union, stats).
    """
    group_cols = group_cols if group_cols is not None else ["user_id"]

    def build(input_dir: str) -> DataFrame:
        stream, ntz = _open_event_stream(spark, input_dir, ts_col)
        aggd = (
            stream.withWatermark(ts_col, lateness)
            .groupBy(F.session_window(ts_col, gap).alias("w"), *group_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        )
        out = aggd.select(
            *group_cols,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        return _ntz_bounds(out, ntz, SESSION)

    return restart_replay(spark, "restart_sessions", phase1, phase2, build)


def restart_stream_dedup(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> tuple[DataFrame, dict]:
    """``dropDuplicatesWithinWatermark`` across a checkpoint RESTART —
    the fourth stateful family restarted (aggregates, joins, sessions:
    see the sibling restart_* operators). Run 1 emits each key's first
    occurrence and checkpoints the dedup state (per-key expiry = the
    FIRST-processed occurrence's event time + delay, NOT extended by
    later duplicates — empirically pinned in tests/test_round9.py;
    since first-processed is partition-order-nondeterministic for
    multi-timestamp keys, oracle-able restart keys must be
    single-timestamp, e.g. event_id); run 2
    admits phase-2 rows above the restored watermark, suppresses keys
    whose state is still alive, and RE-EMITS keys whose state W1
    already evicted — the documented within-the-delay guarantee
    boundary, observable only across a restart. Returns
    (emissions-union, stats); emitted ROW choice within a batch is
    partition-order-nondeterministic, so callers must aggregate to
    per-key emission counts (deterministic under the rules above)."""
    key_cols = key_cols or ["user_id", "event_type"]

    def build(input_dir: str) -> DataFrame:
        stream, _ntz = _open_event_stream(spark, input_dir, ts_col)
        return (
            stream.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(key_cols)
            .select(*key_cols)
        )

    return restart_replay(spark, "restart_dedup", phase1, phase2, build)


def restart_append_counts(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "30 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> tuple[DataFrame, dict]:
    """APPEND-mode windowed aggregation across a REAL advancing
    watermark: two ``availableNow`` runs over ONE checkpoint.

    Run 1 processes ``phase1``'s file and stops — the checkpoint now
    holds the file-source offsets, the unemitted open-window state,
    and watermark W1 = floor_ms(max event time of phase1) − lateness.
    ``phase2``'s file then lands in the source directory and the query
    RESTARTS from the checkpoint: phase-2 rows whose window end ≤ W1
    are dropped as late (``numRowsDroppedByWatermark``), survivors
    merge into the restored state, and the final watermark W2 emits
    every window with end ≤ W2. The returned result is the union of
    both runs' emissions — exactly what a downstream consumer of the
    append stream would have seen across the restart.

    This is the semantics ``session_windows_once``'s single-batch
    assert deliberately excludes: here the watermark genuinely
    advances between arrivals, the state store survives a stop/start,
    and the oracle must model the per-phase emission rule
    (phase-2 late drop against W1, final cut against W2 — both
    ms-truncated, the session-oracle convention).

    Returns (result, stats) where stats carries the per-run progress
    facts the caller should assert (late-drop count, which state store
    answered) — kept out of the operator so data-dependent expectations
    live with the data that justifies them.
    """
    group_cols = group_cols or []

    def build(input_dir: str) -> DataFrame:
        stream, ntz = _open_event_stream(spark, input_dir, ts_col)
        out = windowed_counts(stream, ts_col, duration, lateness, group_cols, aggs)
        return _ntz_bounds(out, ntz)

    return restart_replay(spark, "restart_stream", phase1, phase2, build)


def update_merge_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "2 hours",
    group_cols: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """UPDATE-mode merge replay across a REAL advancing watermark:
    each phase lands as its own file (strictly increasing mtimes, so
    the file source's oldest-first ordering is deterministic) and
    ``maxFilesPerTrigger=1`` makes one micro-batch per phase in a
    single ``availableNow`` run. Update output mode — the third
    output-mode surface beside complete (``windowed_counts_once``) and
    append (``session_windows_once``) — re-emits a window each
    micro-batch its count changes, so the ``foreachBatch`` sink is the
    keyed K4 MERGE of ``streaming/cdc_merge.py`` into a
    key-hash-bucket-partitioned parquet store, keyed on
    (window_start, *group_cols); no rows land on the driver.

    Cross-batch semantics this pins (and the caller's oracle must
    model) — empirically verified against Spark 4.1, see the probe
    test: the late-data filter for windowed aggregation is
    window-granular (drops a row iff its ``window.end`` ≤ the filter
    watermark) and uses the watermark LAGGED BY ONE BATCH —
    SPARK-24634's two-watermark split makes batch i filter with the
    watermark that was in effect DURING batch i−1, i.e.
    ``floor_ms(max event time of batches 0..i−2) − lateness`` — while
    state EVICTION uses the batch's own in-effect watermark
    (batches 0..i−1). Consequence: a TWO-phase replay never drops
    anything (batch 1 filters against the pre-run watermark 0);
    demonstrating a real cross-batch drop needs ≥3 phases, where
    batch 2 filters against the phase-0 watermark. Survivors merge
    into the restored window state and update mode re-emits every
    changed window into the K4 keyed store, so the final store =
    aggregate over exactly the never-dropped rows (an evicted window
    keeps its last emitted count in the store).

    Returns (result, stats): stats holds per-batch input-row and
    late-drop counts of the ``PhasedReplay`` run, whose guards pin one
    data batch per phase, arriving in phase order.
    """
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming import (
        cdc_merge,
    )

    group_cols = group_cols or []
    out = None

    def source(input_dir: str) -> DataFrame:
        nonlocal out
        stream, ntz = _open_event_stream(
            spark, input_dir, ts_col, max_files_per_trigger=1
        )
        counts = windowed_counts(stream, ts_col, duration, lateness, group_cols)
        out = _ntz_bounds(
            counts.select("window_start", "window_end", *group_cols, "n_events"), ntz
        )
        return out

    with PhasedReplay(spark, "update_merge_phased", partitions=16) as r:
        store = r.path("store")

        def merge(batch_df: DataFrame, _batch_id: int) -> None:
            """Land the micro-batch's changed windows through the keyed
            K4 MERGE."""
            sp = batch_df.sparkSession
            keyed = batch_df.withColumn(
                "_merge_key",
                F.concat_ws(
                    "\x1f",
                    F.col("window_start").cast("string"),
                    *[F.col(c).cast("string") for c in group_cols],
                ),
            )
            # pin the changed-windows batch ONCE: the merge path consumes
            # it twice (touched-bucket collect + the upsert/write), and
            # each reference re-executes the stateful batch plan — the
            # foreachBatch multi-reference class (scd2_stream/
            # apply_cdc_batch precedent, CLAUDE.md)
            keyed = keyed.localCheckpoint(eager=True)
            if cdc_merge.read_target(sp, store) is None:
                # one shuffle on the bucket column → one file per bucket
                # (without it every task writes into every bucket dir:
                # tasks × N_BUCKETS tiny files)
                cdc_merge.with_bucket(keyed, "_merge_key").repartition(
                    F.col(cdc_merge.PART_COL)
                ).write.mode("overwrite").partitionBy(cdc_merge.PART_COL).parquet(
                    store
                )
            else:
                cdc_merge._merge_touched_partitions(sp, store, keyed, "_merge_key")

        data = r.run(phases, merge, source, output_mode="update")
        # the final keyed store, pinned off the temp path (empty with
        # the stream's schema when no batch emitted)
        final = cdc_merge.read_target(spark, store)
        result = (
            spark.createDataFrame([], out.schema)
            if final is None
            else final.select(*out.columns).localCheckpoint(eager=True)
        )
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
        "rows_dropped": [
            sum(
                op.get("numRowsDroppedByWatermark", 0)
                for op in p.get("stateOperators", [])
            )
            for p in data
        ],
    }
    return result, stats


def dedup_then_window_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    dedup_keys: list[str],
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "1 hour",
    group_cols: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """CHAINED stateful streaming — ``dropDuplicatesWithinWatermark``
    feeding an APPEND-mode windowed aggregation in one query (two
    state stores, Spark ≥3.5 multiple-stateful-operator support) —
    replayed deterministically phase-per-micro-batch.

    Semantics the caller's oracle can rely on, PROVIDED the phases are
    event-time-monotone (every phase's non-duplicate rows ≥ all
    earlier phases') and duplicate copies arrive within ``lateness``
    of their original: (1) an in-batch duplicate dies in the dedup
    store the batch it arrives; (2) a CROSS-batch duplicate still dies
    because its original's dedup state outlives the eviction watermark
    (original ts > max(prev phase) − lateness by the monotonicity
    assumption); (3) nothing is ever late at either operator, so the
    lagged-filter trap (SPARK-24634, see ``update_merge_phased``)
    never fires; (4) append mode emits exactly the windows whose end ≤
    the final watermark, floor_ms(global max ts) − lateness. Net
    oracle: windowed counts over the DISTINCT row set, cut at the
    final watermark.

    Returns (result, stats); stats carries the count and path-exact
    batch-structure guards.
    """
    group_cols = group_cols or []

    def source(input_dir: str) -> DataFrame:
        stream, ntz = _open_event_stream(
            spark, input_dir, ts_col, max_files_per_trigger=1
        )
        deduped = stream.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
            dedup_keys
        )
        out = (
            deduped.groupBy(F.window(ts_col, duration).alias("w"), *group_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                *group_cols,
                "n_events",
            )
        )
        return _ntz_bounds(out, ntz)

    with PhasedReplay(spark, "dedup_then_window_phased", partitions=16) as r:
        data = r.run(phases, "memory", source)
        # the memory sink's rows survive the temp-dir cleanup; pin them
        result = read_memory(spark, r.query).localCheckpoint(eager=True)
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
        "dedup_dropped": [
            sum(
                op.get("numRowsDroppedByWatermark", 0)
                for op in p.get("stateOperators", [])
            )
            for p in data
        ],
    }
    return result, stats


def union_windowed_once(
    spark: SparkSession,
    paths: list[str],
    ts_col: str = "ts",
    duration: str = "1 hour",
    lateness: str = "5 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Windowed aggregation over the UNION of several file-stream
    sources in one streaming query — the fan-in topology (N landing
    feeds, one rollup). Each source keeps its own offset log in the
    checkpoint and advances independently; the union'd watermark is
    the MIN across sources, so one stalled feed correctly holds back
    finalization for all (the semantics a multi-feed pipeline must
    have). Bounded replay into a complete-mode memory sink, same
    equivalence argument as ``windowed_counts_once``."""
    from functools import reduce

    opened = [_open_event_stream(spark, p, ts_col) for p in paths]
    stream = reduce(lambda a, b: a.unionByName(b), [s for s, _ in opened])
    out = windowed_counts(stream, ts_col, duration, lateness, group_cols)
    ntz = any(flag for _, flag in opened)
    q = run_bounded(
        spark, _ntz_bounds(out, ntz), "union_windowed_once", "memory", "complete"
    )
    return read_memory(spark, q)


def two_level_windowed_counts_once(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    quarter: str = "15 minutes",
    hour: str = "1 hour",
    lateness: str = "10 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """CHAINED time-window aggregations in ONE streaming query
    (SPARK-40925, Spark ≥3.4): quarter-hour counts roll up into hourly
    totals through ``F.window(window_time(qw), hour)`` — two stateful
    operators back to back, the pre-aggregation topology a 100 TB
    metrics pipeline wants (the fine windows absorb the raw event
    volume near the source; only ≤4 rows/hour/key reach the second
    operator). Multiple stateful operators require APPEND output mode,
    so a bounded replay emits exactly the hourly windows whose end ≤
    the final watermark W (max event time truncated to milliseconds
    minus the lateness — the `session_windows_once` emission rule):
    level 1 finalizes quarters with q_end ≤ W, level 2 then emits
    hours with h_end ≤ W, and h_end ≤ W subsumes its quarters'
    finalization, so emitted = hourly aggregates over all events in
    fully-watermarked hours. ``n_quarters`` counts the non-empty
    level-1 windows feeding each hour — observable proof the rollup
    really ran through the intermediate state, which a single-level
    agg cannot produce."""
    group_cols = group_cols or []
    stream, ntz = _open_event_stream(spark, events_path, ts_col)
    lvl1 = (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, quarter).alias("qw"), *group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("qn"))
    )
    lvl2 = (
        lvl1.groupBy(
            F.window(F.window_time("qw"), hour).alias("hw"), *group_cols
        )
        .agg(
            F.sum("qn").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_quarters"),
        )
    )
    out = (
        lvl2.withColumn("window_start", F.col("hw.start"))
        .withColumn("window_end", F.col("hw.end"))
        .drop("hw")
    )
    q = run_bounded(spark, _ntz_bounds(out, ntz), "two_level_windowed", "memory")
    return read_memory(spark, q)


def restart_two_level_counts(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    ts_col: str = "ts",
    quarter: str = "15 minutes",
    hour: str = "1 hour",
    lateness: str = "20 minutes",
    group_cols: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """CHAINED two-level windowed aggregation across a checkpoint
    RESTART — the sixth restart-family member, and the only one where
    TWO stateful operators must both restore (level-1 open quarters
    AND level-2 open hours survive the stop/start, each with its own
    state store). Same two-runs/one-checkpoint machinery as
    :func:`restart_append_counts` (:func:`restart_replay`: file source,
    parquet sink, union of both runs' emissions).

    Semantics, composed from the pinned single-level rules: W1 =
    floor_ms(max phase-1 event time) − lateness; at restart, phase-2
    rows are dropped at LEVEL 1 iff their QUARTER end ≤ W1, and since
    q_end ≤ h_end, no surviving quarter can belong to an hour already
    emitted in run 1 — the level-2 late filter is unreachable by
    construction, which is exactly why the chained topology restarts
    cleanly. Final emission: hours with end ≤ W2 over kept rows
    (phase1 ∪ admitted phase2); ``n_quarters`` counts kept-row
    quarters, proving the rollup rebuilt through restored
    intermediate state."""
    group_cols = group_cols or []

    def build(input_dir: str) -> DataFrame:
        stream, ntz = _open_event_stream(spark, input_dir, ts_col)
        lvl1 = (
            stream.withWatermark(ts_col, lateness)
            .groupBy(F.window(ts_col, quarter).alias("qw"), *group_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("qn"))
        )
        out = (
            lvl1.groupBy(
                F.window(F.window_time("qw"), hour).alias("hw"), *group_cols
            )
            .agg(
                F.sum("qn").cast("long").alias("n_events"),
                F.count(F.lit(1)).cast("long").alias("n_quarters"),
            )
            .withColumn("window_start", F.col("hw.start"))
            .withColumn("window_end", F.col("hw.end"))
            .drop("hw")
        )
        return _ntz_bounds(out, ntz)

    return restart_replay(spark, "restart_two_level", phase1, phase2, build)
