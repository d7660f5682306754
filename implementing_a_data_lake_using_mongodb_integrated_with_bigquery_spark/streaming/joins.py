"""Stream-stream joins with watermark-bounded state (SURVEY §2.7
T-family extension).

The reference's pipeline only ever joins a stream against a STATIC dim
(places). The missing Structured Streaming capability is joining two
streams — e.g. click-to-purchase attribution — where BOTH sides buffer
in the state store and the time-range join condition plus watermarks
bound how long either side waits for its match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    read_memory,
    restart_replay,
    run_bounded,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
    _open_event_stream,
)

# the interval-join output of the inner and left-outer joins; the full
# outer join adds ``k2``, the semi join keeps only the left columns
PAIR_COLS = ("k", "left_id", "right_id", "left_ts", "right_ts", "right_value")


def _watermarked_pair(
    spark: SparkSession,
    events_path: str,
    key_col: str,
    left_type: str,
    right_type: str,
    lateness: str,
) -> tuple[DataFrame, DataFrame]:
    """The left/right watermarked event streams every stream-stream
    join here starts from — ONE implementation of the column contract
    (k/left_id/left_ts vs k2/right_id/right_ts/right_value) and the
    lateness wiring, so the inner, outer, and chained variants can
    never drift apart. Each side opens its own file source: Spark scans
    a streaming source once per reference in the plan, so one source
    split by ``event_type`` would still read every file twice and
    report each batch's rows twice over."""
    left = (
        _open_event_stream(spark, events_path, "ts")[0]
        .filter(F.col("event_type") == left_type)
        .select(
            F.col(key_col).alias("k"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", lateness)
    )
    right = (
        _open_event_stream(spark, events_path, "ts")[0]
        .filter(F.col("event_type") == right_type)
        .select(
            F.col(key_col).alias("k2"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("right_ts"),
            F.col("value").alias("right_value"),
        )
        .withWatermark("right_ts", lateness)
    )
    return left, right


def _interval_join(
    left: DataFrame, right: DataFrame, horizon: str, how: str
) -> DataFrame:
    """Key-equal + right-within-[left, left+horizon] interval join."""
    return left.join(
        right,
        (F.col("k") == F.col("k2"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )


def _attribution_once(
    spark: SparkSession,
    events_path: str,
    key_col: str,
    left_type: str,
    right_type: str,
    horizon: str,
    lateness: str,
    how: str,
) -> DataFrame:
    """One bounded ``how`` interval join into a memory sink. Each
    partition of the stateful shuffle owns four state stores
    (left/right × keyed buffers) and store open/commit cost is
    per-store per-batch, so the run sizes the shuffle to the join
    KEYSPACE (8 partitions), not the CPU count: a 32-way stateful
    shuffle over a small keyspace pays 128 store commits for no
    parallelism gain. A production deployment sizes this once against
    its key cardinality, since the checkpoint pins it."""
    left, right = _watermarked_pair(
        spark, events_path, key_col, left_type, right_type, lateness
    )
    cols = {"full_outer": ("k", "k2", *PAIR_COLS[1:]), "left_semi": left.columns}
    joined = _interval_join(left, right, horizon, how).select(
        *cols.get(how, PAIR_COLS)
    )
    q = run_bounded(spark, joined, f"attribution_{how}", "memory", partitions=8)
    return read_memory(spark, q)


def attribution_join_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
) -> DataFrame:
    """Run a stream-stream INNER join end-to-end on a bounded replay:
    ``left_type`` events join ``right_type`` events of the same key
    when the right event lands within ``[left.ts, left.ts + horizon]``.
    Both sides are watermarked (state for either side is evicted once
    the other side's watermark passes the join horizon) and the joined
    rows land in an append-mode memory sink; the finalized table is
    returned batch-side for oracle comparison against the equivalent
    batch interval join.

    Inner joins emit eagerly on match — the watermark bounds STATE, not
    emission — so the bounded replay yields every match whose pair was
    co-resident within the lateness budget (all of them, here: the lake
    table is one file ⇒ one micro-batch).
    """
    return _attribution_once(
        spark, events_path, key_col, left_type, right_type, horizon, lateness, "inner"
    )


def stream_static_enrich_once(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    dim_attr: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static enrichment join, run end-to-end on a bounded
    replay: the event stream joins a STATIC dimension (the reference's
    only join shape — stream of weather readings × places lookup,
    ``src/process_insert_update_weather_data.py:63-74``), then
    aggregates per dim attribute in complete mode.

    The static side is broadcast per micro-batch — no state store is
    involved for the dim (unlike stream-stream joins), so the join
    costs what a batch broadcast join costs, every batch. Complete-mode
    aggregation makes the final table replay-deterministic: it equals
    the batch join+agg over the same files, which is exactly what the
    DuckDB oracle computes."""
    stream = _open_event_stream(spark, events_path, "ts")[0]
    enriched = stream.join(
        F.broadcast(dim.select(F.col(dim_key).alias(key_col), dim_attr)),
        key_col,
        "inner",
    )
    aggd = enriched.groupBy(dim_attr).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("_sv"),
    )
    q = run_bounded(spark, aggd, "stream_static_enrich_once", "memory", "complete")
    return read_memory(spark, q).select(
        dim_attr,
        "n_events",
        (F.col("_sv") / 10000.0).alias("sum_value"),
    )


def attribution_outer_join_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream join on a bounded replay — the
    semantics inner joins don't have: an unmatched left row emits its
    null-padded result only when the global watermark proves no
    matching right event can still arrive (watermark > left_ts +
    horizon, the row's state-eviction point). Until then the row sits
    in the state store as a pending candidate; on an unbounded stream
    this is the click-with-no-purchase feed, emitted with exactly one
    row per click, attribution horizon honored.

    Bounded-replay emission rule (what the DuckDB oracle models):
    every co-resident match emits eagerly, plus the null-padded left
    rows whose eviction point lies strictly below the FINAL global
    watermark — min of the two sides' (ms-truncated max event time −
    lateness), Spark's multiple-watermark min policy. Trailing
    unmatched clicks inside the horizon of the stream's end are
    withheld: correct streaming behavior, asserted by the oracle cut.
    """
    return _attribution_once(
        spark, events_path, key_col, left_type, right_type, horizon, lateness,
        "left_outer",
    )


def chained_join_window_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
    duration: str = "1 hour",
) -> DataFrame:
    """MULTIPLE STATEFUL OPERATORS in one streaming query (Spark ≥3.5
    watermark propagation, SPARK-42376): a stream-stream interval join
    feeding a tumbling-window aggregation — attribution followed by
    hourly attributed-volume rollup, one query, two state stores.

    The semantics the oracle must model: the join's output can carry
    event times up to ``horizon`` OLDER than the global watermark (a
    purchase emitted when its click finally arrives), so Spark
    propagates watermark − horizon to the downstream aggregation. On
    a bounded replay the emitted set is every window with end ≤
    W − horizon, W = min over both sides of (ms-truncated max event
    time − lateness) — pinned empirically with 15-minute windows
    against a dense synthetic stream (the hour-coarse real replay
    cannot discriminate W from W − horizon)."""
    left, right = _watermarked_pair(
        spark, events_path, key_col, left_type, right_type, lateness
    )
    joined = _interval_join(left, right, horizon, "inner")
    aggd = joined.groupBy(F.window("right_ts", duration).alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_attributed"),
        F.sum(F.round(F.col("right_value") * 10000).cast("long")).alias("_sv"),
    )
    out = aggd.select(
        F.col("w.start").alias("window_start"),
        "n_attributed",
        (F.col("_sv") / 10000.0).alias("attributed_value"),
    )
    q = run_bounded(spark, out, "chained_join_window_once", "memory", partitions=8)
    return read_memory(spark, q)


def attribution_full_outer_join_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
) -> DataFrame:
    """FULL OUTER stream-stream join on a bounded replay — the
    two-sided completion of the join family (inner:
    ``attribution_join_once``, left outer:
    ``attribution_outer_join_once``, left semi:
    ``attribution_semi_join_once``): unmatched rows on EITHER side emit
    null-padded once the global watermark proves their match can no
    longer arrive. On an unbounded stream this is the full attribution
    ledger — every click and every purchase appears exactly once,
    matched or not (purchases with no preceding click are the organic /
    untracked-campaign feed the one-sided joins silently drop).

    Bounded-replay emission rule (empirically pinned in
    ``tests/test_round9.py``, W = min over both sides of (ms-truncated
    max event time − lateness), Spark's multiple-watermark min policy):
    matches emit eagerly; a null-padded LEFT row emits iff its
    state-eviction point ``left_ts + horizon`` < W (same as left
    outer); a null-padded RIGHT row emits iff ``right_ts`` < W — the
    right side's eviction point is its own event time, because a right
    row at t can only match left rows with ``left_ts ∈ [t − horizon,
    t]`` and left arrivals below the watermark are inadmissible, so
    once W passes t no future left can reach it. Both cuts are STRICT
    (a row exactly at W is withheld — probed at the boundary).

    Output carries both keys (``k`` null on right-only rows, ``k2``
    null on left-only rows) so callers can group on
    ``coalesce(k, k2)``.
    """
    return _attribution_once(
        spark, events_path, key_col, left_type, right_type, horizon, lateness,
        "full_outer",
    )


def restart_attribution_join(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
) -> tuple[DataFrame, dict]:
    """Stream-stream INNER interval join across a checkpoint RESTART
    with a genuinely advancing watermark — the join-buffer twin of
    ``streaming.windowed.restart_append_counts``: two ``availableNow``
    runs over ONE checkpoint and a fault-tolerant parquet sink
    (``phasing.restart_replay``).

    Run 1 processes ``phase1``'s file: co-resident matches emit, the
    checkpoint persists BOTH sides' join state and watermark
    W1 = min over both types of (ms-truncated max phase-1 event time)
    − lateness. ``phase2`` then lands as a new file and the query
    restarts: phase-2 rows at or below W1 are dropped as late
    (empirically: kept iff ``ts > W1`` — a row exactly at W1 is
    DROPPED; strict admission pinned in tests/test_round9.py together
    with the state-eviction boundaries), surviving phase-2 rows match
    against the RESTORED phase-1 buffers (minus rows W1 already
    evicted: clicks with left_ts + horizon < W1, purchases with
    right_ts < W1) and against each other. The union of both runs'
    emissions is returned with a stats dict of per-run progress facts.
    Both sides read the staged directory through their own file
    source, so each phase is admitted once per side.
    """

    def build(input_dir: str) -> DataFrame:
        left, right = _watermarked_pair(
            spark, input_dir + "/", key_col, left_type, right_type, lateness
        )
        return _interval_join(left, right, horizon, "inner").select(*PAIR_COLS)

    return restart_replay(spark, "restart_join", phase1, phase2, build, partitions=8)


def attribution_semi_join_once(
    spark: SparkSession,
    events_path: str,
    key_col: str = "user_id",
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    lateness: str = "2 hours",
) -> DataFrame:
    """LEFT SEMI stream-stream join on a bounded replay — the
    existence-only member of the join family (inner:
    ``attribution_join_once``, outer: ``attribution_outer_join_once``):
    each left event is emitted AT MOST ONCE, when a matching right
    event within ``[left_ts, left_ts + horizon]`` is first seen, and
    its state is dropped immediately on emission — the semi join's
    state advantage over inner (a matched left row never lingers
    waiting for more matches it would only duplicate).

    Bounded-replay emission (single data micro-batch here — the lake
    table is one file): every left row with ≥1 co-resident match
    emits, i.e. exactly the batch EXISTS semantics the oracle runs.
    Output carries only left columns, the semi contract.
    """
    return _attribution_once(
        spark, events_path, key_col, left_type, right_type, horizon, lateness,
        "left_semi",
    )
