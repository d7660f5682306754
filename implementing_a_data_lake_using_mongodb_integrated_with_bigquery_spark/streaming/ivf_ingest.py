"""Streaming ANN index ingest: micro-batches of embeddings assigned
to a FROZEN IVF codebook and appended to the inverted-list store.

The 100 TB operating mode for a vector index is build-once /
ingest-forever: the coarse quantizer is trained offline (the bounded
Lloyd path ``operators.similarity.build_ivf_index`` demonstrates) and
then FROZEN — every arriving batch only assigns against the frozen
centroids and appends to its cell, so ingest is map-only per batch and
the store stays probe-ready (cell-keyed) at all times. Retraining is a
separate offline event, never part of ingest.

Engine-exact by the frozen-integer-codebook convention
(``operators.similarity.pq_codebooks``): assignment is int64 argmin on
floor(x·10⁶)-scaled vectors, so the DuckDB oracle reproduces every
cell id bit-for-bit from the same inlined literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
    int_centroid_assign,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.maintenance import (
    compact_store,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    PhasedReplay,
)


def ivf_ingest_phased(
    spark: SparkSession,
    phases: list[DataFrame],
    centroids: list[list[int]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict]:
    """Replay ``phases`` as one micro-batch each (deterministic
    phase-per-batch staging) through a foreachBatch ingest that assigns
    every vector its frozen-codebook cell and appends ``(id, cell)`` to
    the store. Returns (per-cell audit DataFrame, stats).

    The audit — per cell: population, id bounds — is what an index
    operator watches during backfill: a cell collapsing to zero or
    hogging the corpus means the frozen quantizer no longer fits the
    data and an offline retrain is due. Per-batch work is map-only
    (assignment is a literal-argmin expression; the append never
    shuffles); the final audit is one hash aggregate over the store.
    """
    with PhasedReplay(spark, "ivf_ingest_phased") as r:
        store = r.path("store")

        def ingest(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.select(
                F.col(id_col),
                int_centroid_assign(
                    F.col(vec_col), centroids, dim, "ivf_ingest_phased"
                ).alias("cell"),
            ).write.mode("append").parquet(store)

        data = r.run([p.select(id_col, vec_col) for p in phases], ingest)
        # the ingest appended one file-set per micro-batch — the store
        # accretes small files forever. Compact cell-clustered under
        # the footer-count invariant BEFORE the audit reads it (the ops
        # leg of build-once/ingest-forever: probes always see a
        # scanner-sized, cell-clustered store).
        compaction = compact_store(spark, store, cluster_by=["cell"])
        audit = (
            spark.read.parquet(store)
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vecs"),
                F.min(id_col).alias("min_id"),
                F.max(id_col).alias("max_id"),
            )
            .localCheckpoint(eager=True)
        )
    stats = {
        "data_batches": len(data),
        "rows_per_batch": [p["numInputRows"] for p in data],
        "compaction": compaction,
    }
    return audit, stats
