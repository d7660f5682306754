"""Streaming deduplication with watermark-bounded state (SURVEY §2.7
T-family extension).

The reference achieves effectively-once by making every merge
idempotent against the TARGET (PK anti-join — ``streaming/
cdc_merge.py``). The complementary Spark-native primitive dedups
INSIDE the stream: ``dropDuplicatesWithinWatermark`` keeps a keyed
state store of seen keys and evicts entries older than the watermark,
so state stays bounded while duplicates delivered within the lateness
window are suppressed — at-least-once transport becomes exactly-once
arithmetic without touching the sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    read_memory,
    run_bounded,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
    _open_event_stream,
)


def stream_dedup_once(
    spark: SparkSession,
    events_path: str,
    key_cols: list[str],
    ts_col: str = "ts",
    lateness: str = "10 minutes",
    group_cols: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Prove stream-side dedup end-to-end on a bounded replay: read the
    events table as TWO unioned file streams (every event delivered
    exactly twice — a worst-case at-least-once transport), apply
    ``dropDuplicatesWithinWatermark`` on ``key_cols``, aggregate, and
    return the finalized result batch-side. The caller oracles it
    against batch SQL over the ORIGINAL (single-delivery) table: a
    match proves the duplicate deliveries were fully suppressed.

    Same NTZ/nanos event-time handling as ``windowed.windowed_counts_once``.

    The run sizes the stateful shuffle (dedup buffer + aggregation
    stores) to 8 partitions: per-partition store open/commit costs are
    paid per micro-batch regardless of data volume, so the count tracks
    the key cardinality, not the CPU count (see ``streaming/joins.py``
    for the same discipline).
    """
    doubled = _open_event_stream(spark, events_path, ts_col)[0].union(
        _open_event_stream(spark, events_path, ts_col)[0]
    )
    deduped = doubled.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
        key_cols
    )
    group_cols = group_cols or []
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    out = deduped.groupBy(*group_cols).agg(*aggs) if (group_cols or aggs) else deduped
    q = run_bounded(spark, out, "stream_dedup_once", "memory", "complete", partitions=8)
    return read_memory(spark, q)
