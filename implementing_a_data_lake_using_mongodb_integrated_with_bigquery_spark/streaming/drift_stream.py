"""Streaming distribution-drift monitoring.

The model-ops counterpart of ``operators.drift``: a REFERENCE value
distribution (fixed equal-width bins) is materialized once, and every
arriving micro-batch is scored against it with the Population
Stability Index — one (batch_id, n_batch, psi) row appended per
trigger. This is how a 100 TB serving pipeline watches its features:
the reference is grid-sized, the per-batch work is one |batch| → bins
count plus constant math, and the monitor's output grows by one row
per trigger regardless of traffic.

Determinism contract: bin counts are exact integers; each PSI term is
6dp-stable via the scaled-BIGINT sum convention (round(term·1e9) then
integer-sum), so any batching of the same rows yields the same per-
batch PSI — the oracle recomputes each phase's PSI directly in SQL.

Store discipline: the monitor APPENDS new part files per batch (never
a read-and-overwrite of the path it is writing); the reference is
written once before the stream starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    PhasedReplay,
)


def _bin_col(value_col: str, n_bins: int, lo: float, hi: float):
    width = (hi - lo) / n_bins
    return F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(value_col) - lo) / width).cast("long")
        ),
    )


def psi_stream_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    reference: DataFrame,
    value_col: str = "value",
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 1000.0,
) -> tuple[DataFrame, dict]:
    """Replay ``phases`` one micro-batch each; score every batch's
    ``value_col`` distribution against ``reference`` with PSI over
    fixed equal-width bins. Returns ((batch_id, n_batch, psi) rows,
    stats). Zero-mass bins on either side are skipped (standard PSI);
    the scaled-BIGINT term sum keeps the metric hash-stable."""
    with PhasedReplay(spark, "psi_stream_phased", partitions=8) as r:
        ref_dir, out_dir = r.path("ref"), r.path("out")
        (
            reference.groupBy(
                _bin_col(value_col, n_bins, lo, hi).alias("bin")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("a"))
            .coalesce(1)
            .write.parquet(ref_dir)
        )

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            sp = batch_df.sparkSession
            b = batch_df.groupBy(
                _bin_col(value_col, n_bins, lo, hi).alias("bin")
            ).agg(F.count(F.lit(1)).cast("long").alias("b"))
            ref = sp.read.parquet(ref_dir)
            tot = b.agg(F.sum("b").alias("tb")).crossJoin(
                ref.agg(F.sum("a").alias("ta"))
            )
            j = b.join(ref, "bin").crossJoin(F.broadcast(tot))
            pa = F.col("a").cast("double") / F.col("ta")
            pb = F.col("b").cast("double") / F.col("tb")
            term_i = F.round((pa - pb) * F.log(pa / pb) * 1e9).cast("long")
            row = (
                j.where((F.col("a") > 0) & (F.col("b") > 0))
                .agg(
                    F.round(F.sum(term_i) / 1e9, 6).alias("psi"),
                )
                .crossJoin(F.broadcast(tot.select("tb")))
                .select(
                    F.lit(batch_id).cast("long").alias("batch_id"),
                    F.col("tb").cast("long").alias("n_batch"),
                    "psi",
                )
            )
            row.coalesce(1).write.mode("append").parquet(out_dir)

        data = r.run([p.select(value_col) for p in phases], apply_batch)
        result = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
    }
    return result, stats
