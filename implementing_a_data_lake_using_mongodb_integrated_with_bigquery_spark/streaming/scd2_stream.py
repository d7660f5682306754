"""Streaming SCD Type-2 dimension maintenance.

The warehouse-facing streaming surface the batch ``operators.scd``
history implies: change events arrive in micro-batches and the version
table is MAINTAINED — each batch touches only the keys it carries
(close the open version on an attribute change, extend it on an
identical re-observation, append the batch's new versions) — instead
of re-deriving all history per batch. At 100 TB the distinction is the
whole point: the maintained table is updated with |batch|-sized work,
while the windowed recompute pays |history| every trigger.

Correctness contract (what the registry oracle leans on): with
micro-batches that are event-time-monotone per key — the staged-phase
replay guarantees it globally — sequential per-batch maintenance
produces EXACTLY the version table the one-shot window derivation
(``scd2_history``, ORACLE_SCD2) produces over the concatenated input.
The parity test pins it; the oracle is the batch SQL.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.scd import (
    scd2_history,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.maintenance import (
    compact_store,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    PhasedReplay,
)


def _merge_versions(
    store: DataFrame | None,
    runs: DataFrame,
    key_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """One maintenance step: fold a batch's version runs into the
    stored table. Only touched keys move; untouched history passes
    through untouched (at scale: an anti/semi join pair on the key —
    the |batch|-sized work guarantee)."""
    if store is None:
        return runs
    touched = runs.select(key_col).distinct()
    untouched = store.join(touched, key_col, "left_anti")
    touched_store = store.join(touched, key_col, "left_semi")
    hist = touched_store.filter(~F.col("is_current"))
    cur = touched_store.filter(F.col("is_current")).select(
        key_col,
        *[F.col(c).alias(f"_cur_{c}") for c in attr_cols],
        F.col("valid_from").alias("_cur_from"),
    )
    w = Window.partitionBy(key_col).orderBy(F.col("valid_from").asc())
    runs2 = runs.withColumn("_rn", F.row_number().over(w))
    first = runs2.filter(F.col("_rn") == 1).drop("_rn")
    rest = runs2.filter(F.col("_rn") > 1).drop("_rn")
    j = first.join(cur, key_col, "left")
    same = F.lit(True)
    for c in attr_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"_cur_{c}"))
    has_cur = F.col("_cur_from").isNotNull()
    # same attrs → the open version absorbs the batch's first run
    # (keeps its original valid_from); different → close it at the
    # first run's start and keep the first run as a new version
    adjusted_first = j.select(
        key_col,
        *attr_cols,
        F.when(has_cur & same, F.col("_cur_from"))
        .otherwise(F.col("valid_from"))
        .alias("valid_from"),
        "valid_to",
        "is_current",
    )
    closed_cur = (
        j.filter(has_cur & ~same)
        .select(
            key_col,
            *[F.col(f"_cur_{c}").alias(c) for c in attr_cols],
            F.col("_cur_from").alias("valid_from"),
            F.col("valid_from").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    cols = [key_col, *attr_cols, "valid_from", "valid_to", "is_current"]
    return (
        untouched.select(cols)
        .unionByName(hist.select(cols))
        .unionByName(closed_cur.select(cols))
        .unionByName(adjusted_first.select(cols))
        .unionByName(rest.select(cols))
    )


def scd2_stream_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str,
) -> tuple[DataFrame, dict]:
    """Replay ``phases`` (event-time-monotone per key) one micro-batch
    each through the foreachBatch SCD2 maintenance loop and return the
    final version table. Returns (store DataFrame, stats with the
    batch-structure guards).

    The replay runs under 8 shuffle partitions, sized to the BATCH, not
    the CPU count (same reasoning as the stateful queries'
    state_partitions): each micro-batch runs several small exchanges,
    and per-partition task overhead dominates over a batch-sized
    keyspace."""
    cols = [key_col, ts_col, *attr_cols, tiebreak_col]
    with PhasedReplay(spark, "scd2_stream_phased", partitions=8) as r:
        store_dir = r.path("store")

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            sp = batch_df.sparkSession
            # runs is referenced several times in the merge plan
            # (touched / first / rest); pin it eagerly or every branch
            # re-scans the batch source (and double-counts the
            # admission guard's numInputRows)
            runs = scd2_history(
                batch_df, key_col, ts_col, attr_cols, tiebreak_col
            ).localCheckpoint(eager=True)
            store = (
                sp.read.parquet(store_dir)
                if os.path.isdir(store_dir)
                else None
            )
            merged = _merge_versions(store, runs, key_col, attr_cols)
            # write the new generation BESIDE the old one and swap —
            # one job (the write itself reads the old store), no
            # intermediate materialization, and never a
            # read-and-overwrite of the same path
            tmp = f"{store_dir}.b{batch_id}"
            merged.write.parquet(tmp)
            if os.path.isdir(store_dir):
                shutil.rmtree(store_dir)
            os.rename(tmp, store_dir)

        data = r.run([p.select(*cols) for p in phases], apply_batch)
        # each generation leaves one file per shuffle partition —
        # compact under the footer-count invariant before the final
        # readout so the maintained table hands off scanner-sized files
        compaction = compact_store(spark, store_dir, cluster_by=[key_col])
        result = spark.read.parquet(store_dir).localCheckpoint(eager=True)
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
        "compaction": compaction,
    }
    return result, stats
