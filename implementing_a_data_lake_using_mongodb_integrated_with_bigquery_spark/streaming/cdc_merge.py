"""Structured Streaming CDC consumption — the reference's daemon leg.

Re-expresses ``src/process_insert_update_weather_data.py:166-187`` (the
change-stream loop) as ``readStream → foreachBatch(merge)``:

- T1 dispatch: one batch split by ``operation_type`` instead of a
  per-event ``if`` ladder; unknown ops go to a dead-letter sink instead
  of ``os._exit(1)`` (the reference's poison-event halt, ``:184-187``).
- insert path (``insert_row``, ``:97-127``): within-batch dedup → PK
  anti-join vs target → FK check on the classify pass's flag
  (violations → DLQ) → flatten → append. 2-3 RPCs/record become one
  joined batch.
- update path (``update_row``, ``:131-162``): last-write-wins collapse
  → upsert merge (anti-join old out, union new) scoped to the hive
  partitions that contain updated keys, committed with dynamic
  partition overwrite. Updates whose key is absent are inserts (the
  reference's upsert fallback, ``:133-136``).
- delete path: deliberately ignored (``README.md:15`` — lake cleanup
  must not delete warehouse rows).
- T3 effectively-once: the PK anti-join makes re-delivered inserts
  no-ops, so at-least-once delivery + idempotent merge ≡ exactly-once
  on the target (plus Structured Streaming checkpointing for source
  offsets).

**One classify pass per batch.** :func:`classify_batch` answers every
FK question of a micro-batch at once: the batch is left-joined to the
broadcast set of the dim's distinct ``place_id`` values and each event
gets an ``__orphan`` flag (no dim match, NULL key included), and the
flagged batch is pinned with an eager ``localCheckpoint``. An
``Observation`` on that same pin gathers the batch's counters — events
per op, FK orphans per path, the buckets the update merge touches — so
the source scan, the one dim evaluation and every gate of the batch are
one job plus its broadcast. Every later FK decision (the insert path's
and the update path's dead letters and filters) is a filter on the
pinned flag, and the flag is dropped before any write. The dim is
evaluated once per batch, and a dim rewritten mid-batch cannot make an
insert neither appended nor dead-lettered. A change to the dim takes
effect at the next batch.

State lives in the target table itself (as in the reference, where
BigQuery was the state store) — no driver-side state, so a 1000-way
parallel ``foreachBatch`` works unchanged.

**Physical layout (100 TB design).** The target is hive-partitioned by
``part_bucket = pmod(xxhash64(id), N_BUCKETS)`` — a deterministic
function of the merge key. A micro-batch with k updated keys therefore
touches at most min(k, N_BUCKETS) partitions; the merge reads ONLY
those partitions (partition-pruned scan) and rewrites ONLY those
partitions (dynamic partition overwrite). A 100-row update batch
rewrites ~100 partition-files, never the whole fact table. A lakehouse
table format would turn the per-partition file swap into a
metadata-only MERGE commit; the partition scoping logic is identical.
The bucket column is physical layout, not schema: ``read_target``
drops it, and the write paths recompute it from ``id``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, DataFrameWriter, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup import (
    dedup_against_target,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.flatten import (
    flatten_weather,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.schemas import (
    WEATHER_FACT,
)

KNOWN_OPS = ("insert", "update", "delete", "replace")

# physical layout: key-hash partition count of the fact target. Sized so
# one partition holds ~1/N of the table (at 100 TB with N=64 that's
# ~1.5 TB per bucket — a real deployment composes this with a date
# partition, part_date/part_bucket, to bound rewrite units further).
N_BUCKETS = 64
PART_COL = "part_bucket"
# the per-event FK flag :func:`classify_batch` pins on the batch
ORPHAN = "__orphan"


def bucket_expr(col: F.Column) -> F.Column:
    """The partition bucket of a merge-key column — the ONE definition
    the writers (:func:`with_bucket`) and the classify pass share, so a
    touched bucket always names the partition the key is written to.
    xxhash64 hashes the value's type as well as its value, so callers
    must pass the key in the written type (the string ``id``)."""
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def with_bucket(df: DataFrame, key_col: str = "id") -> DataFrame:
    """Attach the deterministic partition bucket for ``key_col``.
    xxhash64 is stable across runs/sessions, so re-delivered events land
    in the same partition — required for idempotent merges."""
    return df.withColumn(PART_COL, bucket_expr(F.col(key_col)))


def _has_files(path: str, suffix: str) -> bool:
    return any(
        f.endswith(suffix) for _root, _dirs, files in os.walk(path) for f in files
    )


def _read_store(
    spark: SparkSession, path: str, schema: T.StructType | None
) -> DataFrame:
    """The hive-partitioned store at ``path``, bucket column included.
    ``schema`` declares the data columns (no footer-inference job);
    ``None`` infers them."""
    if schema is None:
        return spark.read.parquet(path)
    stored = T.StructType([*schema.fields, T.StructField(PART_COL, T.IntegerType())])
    return spark.read.schema(stored).parquet(path)


def read_target(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """Logical view of the fact target: partition discovery over the
    hive layout, with the physical bucket column dropped. The CDC
    merge passes ``schemas.WEATHER_FACT``; ``None`` infers the schema
    (the keyed window store of ``windowed.update_merge_phased``)."""
    if not os.path.exists(path) or not _has_files(path, ".parquet"):
        return None
    df = _read_store(spark, path, schema)
    return df.drop(PART_COL) if PART_COL in df.columns else df


def _merge_touched_partitions(
    spark: SparkSession,
    target_path: str,
    newest: DataFrame,
    key_col: str = "id",
    touched: list[int] | None = None,
    schema: T.StructType | None = None,
) -> None:
    """Partition-scoped MERGE: upsert ``newest`` into only the target
    partitions whose bucket contains an updated key, then commit with
    dynamic partition overwrite (untouched partitions' files are never
    read or rewritten). ``touched`` (≤ N_BUCKETS small ints) may be
    precomputed by the caller — e.g. observed on an already-running
    pin — to skip the discovery job here. ``schema`` is the target's
    declared schema, as for :func:`read_target`."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.merge import (
        upsert,
    )

    if touched is None:
        # ≤ N_BUCKETS small ints — a bounded metadata collect, not a
        # data collect (the driver holds partition IDs, never rows)
        newest_b = with_bucket(newest, key_col)
        touched = [r[0] for r in newest_b.select(PART_COL).distinct().collect()]
    target_raw = _read_store(spark, target_path, schema)
    target_touched = target_raw.filter(F.col(PART_COL).isin(touched)).drop(PART_COL)
    merged = with_bucket(upsert(target_touched, newest, key_col), key_col)
    # one shuffle on the bucket column → ONE file per touched bucket
    # per commit (r14): without it every upsert task writes into every
    # touched bucket dir — tasks × buckets small files per batch that
    # every LATER batch's target read must list and open again (the
    # init path at windowed.py already does this; the merge path was
    # the gap)
    merged = merged.repartition(F.col(PART_COL))
    # localCheckpoint truncates lineage so the write no longer reads the
    # path it overwrites; it materializes only the touched partitions
    # (a lakehouse MERGE makes this a metadata-only commit instead)
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PART_COL)
        .parquet(target_path)
    )


def op_predicates() -> dict[str, F.Column]:
    """The T1 dispatch predicates on ``operation_type`` — the ONE
    definition :func:`split_by_operation` filters by and
    :func:`classify_batch` counts by. ``unknown`` collects events whose
    op is not in KNOWN_OPS."""
    op = F.col("operation_type")
    return {
        "insert": op.isin("insert", "replace"),
        "update": op == "update",
        "delete": op == "delete",
        # null-safe: a NULL op matches neither branch of isin, so it must
        # be routed to the DLQ explicitly, not silently dropped
        "unknown": op.isNull() | ~op.isin(*KNOWN_OPS),
    }


def split_by_operation(batch: DataFrame) -> dict[str, DataFrame]:
    """T1 dispatch: partition one CDC micro-batch by operation type."""
    return {kind: batch.filter(pred) for kind, pred in op_predicates().items()}


def pin_observed(df: DataFrame, *aggs: F.Column) -> tuple[DataFrame, dict]:
    """Pin ``df`` with an eager ``localCheckpoint`` and return it with
    the aggregates ``aggs`` observed on that same job — a gate folded
    into the pin, no job of its own."""
    obs = Observation()
    pinned = df.observe(obs, *aggs).localCheckpoint(eager=True)
    return pinned, obs.get


def _write_counted(df: DataFrame, write: Callable[[DataFrameWriter], None]) -> int:
    """Run ``write(df.write)`` and return the rows it wrote, observed on
    the write job itself."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n")).write)
    return obs.get["n"]


def classify_batch(batch: DataFrame, places_dim: DataFrame) -> tuple[DataFrame, dict]:
    """The classify pass of :func:`apply_cdc_batch`: the batch with a
    boolean ``__orphan`` column, pinned, and its counters from the same
    job. ``__orphan`` replicates ``integrity.fk_violations``' left-anti
    semantics: an event whose ``full_document.place_id`` has no match in
    ``places_dim`` — a NULL key included — is an orphan; the dim's key
    set is distinct-ed, so the left join cannot duplicate an event.
    Counters: ``u``/``i``/``p`` unknown-op, insert and update counts;
    ``io``/``po`` FK-orphan insert and update counts; ``tb`` the sorted
    buckets of the FK-valid update keys (the LWW collapse keeps the key
    set, so these are the buckets the merge rewrites)."""
    ops = op_predicates()
    is_ins, is_upd = ops["insert"], ops["update"]
    orphan = F.col(ORPHAN)
    dim_keys = places_dim.select(F.col("place_id").alias("__dim_pid")).distinct()
    flagged = (
        batch.join(
            F.broadcast(dim_keys),
            F.col("full_document.place_id") == F.col("__dim_pid"),
            "left",
        )
        .withColumn(ORPHAN, F.col("__dim_pid").isNull())
        .drop("__dim_pid")
    )

    def n(pred: F.Column) -> F.Column:
        return F.coalesce(F.sum(pred.cast("long")), F.lit(0))

    return pin_observed(
        flagged,
        n(ops["unknown"]).alias("u"),
        n(is_ins).alias("i"),
        n(is_upd).alias("p"),
        n(is_ins & orphan).alias("io"),
        n(is_upd & orphan).alias("po"),
        F.sort_array(
            F.collect_set(
                F.when(
                    is_upd & ~orphan,
                    # flatten_weather writes id as the string _id
                    bucket_expr(F.col("full_document._id").cast("string")),
                )
            )
        ).alias("tb"),
    )


def apply_cdc_batch(
    batch: DataFrame,
    batch_id: int,
    target_path: str,
    places_dim: DataFrame,
    dlq_path: str,
) -> dict[str, int]:
    """The foreachBatch body: idempotent CDC merge of one micro-batch
    into the parquet fact target. Update events must carry the full
    post-image in ``full_document`` (design choice per SURVEY.md §7
    risk 3 — avoids the reference's per-event re-fetch RPC).

    ``places_dim`` is read ONCE, by the classify pass as the batch
    starts: every FK decision of the batch sees that snapshot of its
    ``place_id`` column, so a change to the dim takes effect at the
    next batch.

    Returns the batch's pipeline counters (the reference logs each
    record decision, ``src/process_insert_update_weather_data.py:28-40``):
    ``unknown``, ``insert`` and ``update`` event counts,
    ``insert_fk_orphans`` and ``update_fk_orphans`` (events whose
    place_id the dim lacks, before dedup and collapse),
    ``touched_buckets``, the number of target partitions the update
    merge rewrites, and the rows the batch wrote: ``inserted`` (the
    append) and ``fk_dead_lettered`` (the FK dead-letter write)."""
    spark = batch.sparkSession
    # classify ONCE: the pin also stops a foreachBatch plan that
    # references the batch through four op-type branches from
    # re-scanning the source per reference (and multiplying
    # numInputRows, which breaks the replay batch-structure guard)
    batch, counts = classify_batch(batch, places_dim)
    n_ins_orphans, n_upd_orphans = counts["io"], counts["po"]
    upd_touched = list(counts["tb"])
    parts = split_by_operation(batch)
    orphan = F.col(ORPHAN)

    # poison events → DLQ (instead of the reference's os._exit(1))
    if counts["u"]:
        parts["unknown"].drop(ORPHAN).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").json(os.path.join(dlq_path, "unknown_ops"))

    target = read_target(spark, target_path, WEATHER_FACT)
    rejects: list[DataFrame] = []

    # ---- insert path: dedup → PK anti → FK flag (+DLQ) → flatten → append
    inserted = 0
    if counts["i"]:
        ins_docs = parts["insert"].select("full_document.*", ORPHAN)
        if target is not None:
            ins_docs = dedup_against_target(
                ins_docs, target.selectExpr("id as _id"), "_id"
            )
        else:
            ins_docs = ins_docs.dropDuplicates(["_id"])
        # post-dedup rejects are a SUBSET of the raw insert orphans
        # (dedup only removes rows), so only a batch that carries
        # insert orphans pins the deduplicated inserts — the dead-letter
        # write and the append then read the target once — and counts
        # its rejects on that pin (an empty JSON append would corrupt
        # the DLQ read-back)
        if n_ins_orphans:
            ins_docs, pinned = pin_observed(
                ins_docs, F.count(F.when(orphan, 1)).alias("rejects")
            )
            if pinned["rejects"]:
                rejects.append(ins_docs.filter(orphan))
        # flatten_weather's projection drops the flag
        flat = with_bucket(flatten_weather(ins_docs.filter(~orphan)))
        inserted = _write_counted(
            flat,
            lambda w: w.mode("append").partitionBy(PART_COL).parquet(target_path),
        )

    # update rejects are PRE-collapse rows, so the classify pass's
    # orphan count IS the exact emptiness decision
    upd_docs = parts["update"].select("ts", "full_document.*", ORPHAN)
    if n_upd_orphans:
        rejects.append(upd_docs.filter(orphan))

    # ---- FK dead letters of both paths: ONE write per batch. The JSON
    # writer omits the inserts' NULL ts, so the read-back is unchanged.
    fk_dead_lettered = 0
    if rejects:
        dead = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), rejects)
        fk_dead_lettered = _write_counted(
            dead.drop(ORPHAN).withColumn("batch_id", F.lit(batch_id)),
            lambda w: w.mode("append").json(os.path.join(dlq_path, "fk_violations")),
        )

    # ---- update path: FK-valid updates → LWW collapse → upsert merge → swap
    if counts["p"] > n_upd_orphans:
        from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.merge import (
            last_write_wins,
        )

        # ts rides THROUGH the flatten projection (passthrough) — the
        # earlier re-join by id cross-paired post-images with timestamps
        # when one batch carried two updates for one key, making the
        # LWW pick nondeterministic (regression-pinned in
        # tests/test_round10.py)
        flat_upd = flatten_weather(upd_docs.filter(~orphan), passthrough=["ts"])
        newest = last_write_wins(flat_upd, "id", "ts").drop("ts")
        if target is None and not inserted:
            with_bucket(newest).write.mode("overwrite").partitionBy(
                PART_COL
            ).parquet(target_path)
        else:
            # touched buckets came from the classify pass — skips the
            # per-batch distinct().collect() job
            _merge_touched_partitions(
                spark, target_path, newest, "id", upd_touched, WEATHER_FACT
            )

    # ---- delete path: intentionally a no-op (README.md:15)
    return {
        "unknown": counts["u"],
        "insert": counts["i"],
        "update": counts["p"],
        "insert_fk_orphans": n_ins_orphans,
        "update_fk_orphans": n_upd_orphans,
        "touched_buckets": len(upd_touched),
        "inserted": inserted,
        "fk_dead_lettered": fk_dead_lettered,
    }


def cdc_foreach_batch(target_path: str, places_dim: DataFrame, dlq_path: str):
    """Bind configuration → the (batch_df, batch_id) callable for
    ``writeStream.foreachBatch``."""

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(batch_df, batch_id, target_path, places_dim, dlq_path)

    return _body


def cdc_merge_replay(
    spark: SparkSession,
    phases: list[DataFrame],
    places_dim: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic phased replay of the FULL CDC merge — the
    reference's daemon loop (T1 dispatch → insert path → LWW update
    path → delete no-op → unknown-op DLQ,
    ``src/process_insert_update_weather_data.py:166-187``) executed as
    real micro-batches through ``streaming.phasing.PhasedReplay``: phase
    i is micro-batch i (count- and path-guarded), so the cross-batch
    state (the target table itself — inserts in batch 0 are update
    targets in batch 1) is a pure function of the phase construction
    and hence relationally oracle-able.

    Returns (fact, dlq_fk, dlq_unknown) as batch DataFrames read back
    from the target and dead-letter sinks, each eagerly
    localCheckpoint-ed so the temp stores can be deleted."""
    return _replay_runs(spark, [phases], places_dim, "cdc_merge_replay")


def cdc_merge_restart(
    spark: SparkSession,
    phase1: DataFrame,
    phase2: DataFrame,
    places_dim: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """CDC merge across a checkpoint RESTART — the foreachBatch-sink
    member of the restart matrix (aggregates, joins, sessions, dedup:
    see the ``restart_*`` siblings in ``streaming/windowed.py`` /
    ``joins.py``). Run 1 consumes the phase-1 file (``availableNow``)
    and terminates; the phase-2 file then lands and a NEW query on the
    SAME checkpoint consumes ONLY it — restored source offsets must
    skip the already-committed file, which the dead-letter sinks make
    observable: re-processing phase 1 would append its FK rejects a
    second time (the target alone cannot tell — the merge is
    idempotent by design, reference T3). Admission is path-guarded
    per run and across the restart. Returns (fact, dlq_fk,
    dlq_unknown) like :func:`cdc_merge_replay`."""
    return _replay_runs(
        spark, [[phase1], [phase2]], places_dim, "cdc_merge_restart"
    )


def _replay_runs(
    spark: SparkSession,
    runs: list[list[DataFrame]],
    places_dim: DataFrame,
    where: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One replay query per entry of ``runs``, all on one checkpoint:
    a second run is the restart."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.schemas import (
        CDC_EVENT,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
        PhasedReplay,
    )

    with PhasedReplay(spark, where, schema=CDC_EVENT) as r:
        target, dlq = r.path("fact"), r.path("dlq")
        sink = cdc_foreach_batch(target, places_dim, dlq)
        for phases in runs:
            r.run(phases, sink)

        fact = read_target(spark, target, WEATHER_FACT)
        fact = fact.localCheckpoint(eager=True) if fact is not None else None

        def _read_dlq(sub: str, schema: str) -> DataFrame:
            path = os.path.join(dlq, sub)
            if _has_files(path, ".json"):
                return spark.read.json(path).localCheckpoint(eager=True)
            return spark.createDataFrame([], schema)

        dlq_fk = _read_dlq(
            "fk_violations",
            "_id string, place_id string, "
            "current struct<temp_c: double>, batch_id long",
        )
        dlq_unknown = _read_dlq(
            "unknown_ops", "operation_type string, batch_id long"
        )
        return fact, dlq_fk, dlq_unknown


def start_cdc_stream(
    spark: SparkSession,
    events_dir: str,
    target_path: str,
    places_dim: DataFrame,
    dlq_path: str,
    checkpoint_dir: str,
):
    """Wire the file-based CDC source (JSON events with the CDC_EVENT
    schema) through the merge. ``availableNow`` in tests; a real
    deployment uses a continuous trigger + Kafka/CDC-log source."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.schemas import (
        CDC_EVENT,
    )

    stream = (
        spark.readStream.schema(CDC_EVENT)
        .option("maxFilesPerTrigger", 16)
        .json(events_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            cdc_foreach_batch(target_path, places_dim, dlq_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
