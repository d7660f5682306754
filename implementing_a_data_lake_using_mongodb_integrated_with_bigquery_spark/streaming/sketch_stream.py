"""Streaming count-min sketch maintenance.

The 100 TB operating mode of a frequency sketch: events arrive in
micro-batches, each batch is collapsed to a batch-local sketch
(|batch| → depth×width rows), and the maintained store is updated by a
cell-wise integer sum — the exact-mergeability property of
``operators.sketches`` doing the work. Per-trigger cost is bounded by
the GRID, not the history: the store never exceeds depth×width rows no
matter how much traffic has flowed.

Correctness contract (what the registry oracle leans on): integer
counters are associative and commutative, so the maintained store
after ANY batching of the input equals the sketch built directly on
the concatenated input, cell for cell. The oracle is therefore the
direct batch SQL; the phase-replay guards (one file = one micro-batch,
path-exact admission log) pin that the stream actually ran the
multi-batch path.

Store discipline follows ``scd2_stream.py``: each batch writes a new
GENERATION beside the store and os.rename-swaps — one job per batch,
never a read-and-overwrite of the same parquet path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sketches import (
    cms_build,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.maintenance import (
    compact_store,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    PhasedReplay,
)


def cms_stream_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> tuple[DataFrame, dict]:
    """Replay ``phases`` one micro-batch each through a foreachBatch
    CMS maintenance loop; return (final sketch store, stats).

    Each batch: one batch-local count + sketch build (≤ depth×width
    rows), then a (seed, bucket) integer-sum merge into the stored
    grid — |batch|-sized work, grid-sized state."""
    with PhasedReplay(spark, "cms_stream_phased", partitions=8) as r:
        store_dir = r.path("store")

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            sp = batch_df.sparkSession
            counts = batch_df.groupBy(key_col).agg(
                F.count(F.lit(1)).cast("long").alias("_n")
            )
            sk = cms_build(counts, key_col, "_n", depth, width)
            if os.path.isdir(store_dir):
                store = sp.read.parquet(store_dir)
                sk = (
                    store.unionByName(sk)
                    .groupBy("seed", "bucket")
                    .agg(F.sum("counter").cast("long").alias("counter"))
                )
            tmp = f"{store_dir}.b{batch_id}"
            sk.write.parquet(tmp)
            if os.path.isdir(store_dir):
                shutil.rmtree(store_dir)
            os.rename(tmp, store_dir)

        data = r.run([p.select(key_col) for p in phases], apply_batch)
        # grid-sized store (depth×width rows) still fragments into one
        # file per shuffle partition per generation — compact under the
        # footer-count invariant before the readout
        compaction = compact_store(spark, store_dir)
        result = spark.read.parquet(store_dir).localCheckpoint(eager=True)
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
        "compaction": compaction,
    }
    return result, stats
