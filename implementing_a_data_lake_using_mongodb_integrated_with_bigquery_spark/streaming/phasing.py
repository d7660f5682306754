"""Bounded streaming queries: one runner starts and awaits all of them.

:func:`run_bounded` is the one place in ``streaming/`` that starts a
bounded query and waits for it: it names the query (one counter for
the whole package), picks the sink — ``"memory"``, a parquet path or a
``foreachBatch`` body — sets the optional checkpoint, runs it
``availableNow`` under a shuffle-partition scope
(:func:`shuffle_partitions`) and returns the finished query. A
single-pass operator is::

    q = run_bounded(spark, stream, "windowed_counts_once", "memory", "complete")
    return read_memory(spark, q)

:func:`read_memory` takes the memory sink's rows and drops its temp
view, so a long session keeps no result of an earlier run.

A bounded streaming query is only oracle-able across micro-batches if
the micro-batch structure is a pure function of the data: each logical
phase lands as exactly ONE parquet file with strictly increasing
mtimes, so the file source's oldest-first ordering replays phase i as
micro-batch i under ``maxFilesPerTrigger=1``. :class:`PhasedReplay`
owns that whole contract — the temp root, the staging
(:func:`stage_phase_files`), the file source, the :func:`run_bounded`
run on one checkpoint, and the row-count and path-exact guards
(:func:`check_batch_structure`, :func:`check_admission_log`). Every
phased replay in the package is one call::

    with PhasedReplay(spark, "psi_stream_phased", partitions=8) as r:
        data = r.run(phases, foreach_batch_body)
        out = spark.read.parquet(r.path("out")).localCheckpoint(eager=True)

A second ``run`` on the same runner stages its phases after the earlier
ones and restarts the query from the same checkpoint — the
checkpoint-restart replay. A stateful restart writes to the parquet file
sink (``sink="parquet"``, landing under ``r.path("out")``): the memory
sink cannot restore from a checkpoint, and Spark rejects a stateful
``foreachBatch`` body that does not consume the whole batch. The file
sink's own commit log keeps both runs' emissions. Every ``restart_*``
operator is one :func:`restart_replay` call, with the per-run progress
facts of :func:`replay_facts`.

The guards check every source of the query: a stream-stream join reads
the staged directory through one file source per side, and each of
them must admit phase i as batch i. (One source shared by both sides
would not read less: Spark scans it once per side, and its input-row
count per batch is twice the phase's.)
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import AbstractContextManager, contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

_SEQ = itertools.count()


@contextmanager
def session_conf(spark: SparkSession, key: str, value: object) -> Iterator[None]:
    """Run the body with the session conf ``key`` set to ``value``
    (``None`` leaves it as it is) and restore the previous setting
    afterwards — unset again if it was unset — also when the body
    raises. Confs a streaming query reads at its start (the state-store
    provider, the shuffle-partition count) are scoped to one bounded
    run this way without leaking into the session."""
    prev = spark.conf.get(key, None)
    if value is not None:
        spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def shuffle_partitions(
    spark: SparkSession, n: int | None
) -> AbstractContextManager[None]:
    """:func:`session_conf` for ``spark.sql.shuffle.partitions``. A
    stateful query fixes its state-store count from this setting at its
    first start, so bounded replays size it to their keyspace
    (per-partition store open/commit cost dominates over a small
    keyspace)."""
    return session_conf(spark, "spark.sql.shuffle.partitions", n)


def run_bounded(
    spark: SparkSession,
    stream: DataFrame,
    where: str,
    sink: Callable[[DataFrame, int], None] | str,
    output_mode: str = "append",
    checkpoint: str | None = None,
    partitions: int | None = None,
) -> StreamingQuery:
    """Start ``stream`` as one ``availableNow`` query named
    ``<where>_<n>``, wait for it to finish and return it (``q.name``,
    ``q.recentProgress``). ``sink`` is ``"memory"`` (read it with
    :func:`read_memory`), a parquet output path, or a ``foreachBatch``
    body. ``partitions`` is the shuffle-partition count the query
    starts under (``None``: the session's)."""
    writer = (
        stream.writeStream.queryName(f"{where}_{next(_SEQ)}")
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if sink == "memory":
        writer = writer.format("memory")
    elif isinstance(sink, str):
        writer = writer.format("parquet").option("path", sink)
    else:
        writer = writer.foreachBatch(sink)
    with shuffle_partitions(spark, partitions):
        q = writer.start()
        q.awaitTermination()
    return q


def read_memory(spark: SparkSession, q: StreamingQuery) -> DataFrame:
    """The memory sink's rows of the finished query ``q``. The sink's
    temp view is dropped; the returned DataFrame holds the sink
    itself, so its rows live only as long as the caller keeps it."""
    rows = spark.table(q.name)
    spark.catalog.dropTempView(q.name)
    return rows


class PhasedReplay:
    """A phase-per-micro-batch replay under one temp root.

    ``where`` names the replay in guard errors, the temp root and the
    query names. ``partitions`` is the shuffle-partition count the
    queries start under (``None``: the session's). ``schema`` is the
    declared stream schema; ``None`` takes the staged files' footer
    schema. The temp root — staged input, checkpoint and whatever the
    caller keeps under :meth:`path` — is removed when the ``with`` block
    ends, also on error, so results must be pinned (``localCheckpoint``)
    inside it."""

    def __init__(
        self,
        spark: SparkSession,
        where: str,
        partitions: int | None = None,
        schema: StructType | None = None,
    ) -> None:
        self.spark = spark
        self.where = where
        self.partitions = partitions
        self.schema = schema
        self.n_phases = 0
        self.query: StreamingQuery | None = None

    def __enter__(self) -> PhasedReplay:
        self.root = tempfile.mkdtemp(prefix=f"{self.where}_")
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def path(self, name: str) -> str:
        """A path under the temp root, for the caller's sinks."""
        return os.path.join(self.root, name)

    def run(
        self,
        phases: list[DataFrame],
        sink: Callable[[DataFrame, int], None] | str,
        source: Callable[[str], DataFrame] | None = None,
        output_mode: str = "append",
    ) -> list[dict]:
        """Stage ``phases`` after any earlier run's, replay them as one
        :func:`run_bounded` query on the runner's checkpoint and return
        the data micro-batches' progress, one per phase in phase order.

        ``sink`` is a ``foreachBatch`` body, ``"memory"`` for a memory
        sink readable as ``read_memory(spark, r.query)``, or
        ``"parquet"`` for a file sink under ``r.path("out")``.
        ``source`` maps the staged input directory to the stream to
        write (the default is the parquet file source); a custom source
        must admit one staged file per micro-batch —
        ``maxFilesPerTrigger=1``, or one phase per run, which always
        admits exactly one unread file."""
        input_dir, ckpt = self.path("input"), self.path("ckpt")
        counts = stage_phase_files(phases, input_dir, start=self.n_phases)
        self.n_phases += len(phases)
        if source is None:
            schema = self.schema or self.spark.read.parquet(input_dir).schema
            stream = (
                self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(input_dir)
            )
        else:
            stream = source(input_dir)
        self.query = run_bounded(
            self.spark,
            stream,
            self.where,
            self.path("out") if sink == "parquet" else sink,
            output_mode,
            ckpt,
            self.partitions,
        )
        data = check_batch_structure(
            list(self.query.recentProgress), counts, self.where
        )
        check_admission_log(ckpt, self.n_phases, self.where)
        return data


def restart_replay(
    spark: SparkSession,
    where: str,
    phase1: DataFrame,
    phase2: DataFrame,
    build: Callable[[str], DataFrame],
    partitions: int = 16,
) -> tuple[DataFrame, dict]:
    """The checkpoint restart every ``restart_*`` operator runs: one
    ``PhasedReplay``, ``build``'s stream over ``phase1`` into the
    parquet file sink, then a second query on the same checkpoint over
    ``phase2`` (the memory sink cannot restore from a checkpoint; the
    file sink is what a production append stream lands in). Returns
    the union of both runs' emissions, pinned, and
    ``{"phase1": facts, "phase2": facts}`` (:func:`replay_facts`).
    ``partitions`` sizes the state stores to the replay's keyspace."""
    with PhasedReplay(spark, where, partitions=partitions) as r:
        stats = {
            tag: replay_facts(r.run([phase], "parquet", source=build))
            for tag, phase in (("phase1", phase1), ("phase2", phase2))
        }
        result = spark.read.parquet(r.path("out")).localCheckpoint(eager=True)
    return result, stats


def replay_facts(data: list[dict]) -> dict:
    """Progress facts of one run's data micro-batches: their count, the
    rows the watermark dropped, the number of state operators, and
    whether the RocksDB provider backed the state (its rocksdb* custom
    metrics present) — callers that pin the provider assert this
    instead of trusting the conf took."""
    ops = [p.get("stateOperators", []) for p in data]
    return {
        "data_batches": len(data),
        "rows_dropped": sum(
            op.get("numRowsDroppedByWatermark", 0) for batch in ops for op in batch
        ),
        "n_state_ops": max(map(len, ops), default=0),
        "rocksdb": any(
            "rocksdb" in m.lower()
            for batch in ops
            for op in batch
            for m in op.get("customMetrics") or {}
        ),
    }


def stage_phase_files(
    phases: list[DataFrame], input_dir: str, start: int = 0
) -> list[int]:
    """Write each phase as one parquet file in ``input_dir`` with
    fixed, strictly increasing mtimes (the file source sorts unread
    files oldest-first, so phase order == batch order). Returns the
    per-phase row counts read from the parquet footers — free, no
    Spark jobs — for the caller's batch-structure guard.

    ``start`` offsets the phase numbering (file names AND mtimes), so
    checkpoint-RESTART replays can stage later phases after an earlier
    run already consumed phases ``0..start-1`` from the same dir.

    Staging is ONE Spark job for any phase count (r14 optimization):
    each phase is tagged with a ``__phase`` literal, the tagged union
    is written once with ``partitionBy("__phase")``, and
    ``coalesce(1)`` keeps the whole write a single task — the same
    serial per-phase compute the old one-job-PER-phase loop did, minus
    N−1 job schedulings and write commits (the replay pre-start was
    3–5s of which staging jobs were the bulk; guide §2.4 remove whole
    jobs). Dynamic partitioning yields exactly one part file per phase
    value, which the hardlink step below renames into the flat
    ``phase-NNN.parquet`` layout the admission-log guard expects —
    invariants (one file per phase, fixed mtimes, footer counts,
    loud empty-phase reject) unchanged."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    for ph in phases:
        if "__phase" in ph.columns:
            raise ValueError(
                "phase schema must not contain a '__phase' column "
                "(reserved by stage_phase_files)"
            )
    os.makedirs(input_dir, exist_ok=True)
    parent = os.path.dirname(input_dir)
    idx = list(range(start, start + len(phases)))

    if len(phases) == 1:
        # restart staging / single phase: the direct one-job write
        stage = tempfile.mkdtemp(prefix=f"phase{idx[0]}_", dir=parent)
        phases[0].coalesce(1).write.mode("overwrite").parquet(stage)
        src_dirs = {idx[0]: stage}
    else:
        tagged = None
        for i, ph in zip(idx, phases):
            t = ph.withColumn("__phase", F.lit(i))
            tagged = t if tagged is None else tagged.unionByName(t)
        stage = tempfile.mkdtemp(prefix=f"phases{idx[0]}_", dir=parent)
        (
            tagged.coalesce(1)
            .write.mode("overwrite")
            .partitionBy("__phase")
            .parquet(stage)
        )
        src_dirs = {i: os.path.join(stage, f"__phase={i}") for i in idx}

    counts = []
    for i in idx:
        pdir = src_dirs[i]
        parts = (
            [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            if os.path.isdir(pdir)
            else []
        )
        if not parts:
            # a 0-row phase writes no partition directory at all — the
            # same construction-time loud reject as the footer check
            raise ValueError(
                f"phase {i} is empty: a 0-row phase produces no data "
                "micro-batch and cannot participate in a deterministic "
                "phase-per-batch replay"
            )
        if len(parts) != 1:
            raise RuntimeError(f"phase {i}: expected 1 part file, got {parts}")
        dest = os.path.join(input_dir, f"phase-{i:03d}.parquet")
        os.link(os.path.join(pdir, parts[0]), dest)
        t = 1_600_000_000 + 60 * i
        os.utime(dest, (t, t))
        n = pq.ParquetFile(dest).metadata.num_rows
        if n == 0:
            # a 0-row file admits a 0-row micro-batch that the
            # batch-structure guard filters out of the progress list,
            # silently desynchronizing phase i ↔ batch i for every
            # later phase — reject at construction, loudly
            raise ValueError(
                f"phase {i} is empty: a 0-row phase produces no data "
                "micro-batch and cannot participate in a deterministic "
                "phase-per-batch replay"
            )
        counts.append(n)
    return counts


def check_batch_structure(progress: list, phase_counts: list[int], where: str) -> list:
    """Assert one data micro-batch per phase, arriving in phase order
    (by input-row counts) on every source of the query — a silent
    file-ordering or admission-control change must fail loudly, not
    hash-mismatch the oracle. Counts alone cannot distinguish two
    equal-sized phases swapped in flight; pair with
    ``check_admission_log`` (path-exact) when the checkpoint is
    available. Returns the data-batch progress entries."""
    data = [p for p in progress if p["numInputRows"] > 0]
    n_sources = len(progress[0]["sources"]) if progress else 1
    for j in range(n_sources):
        got = [p["sources"][j]["numInputRows"] for p in data]
        if got != phase_counts:
            raise RuntimeError(
                f"{where}: source {j} batches saw {got} input rows but phases "
                f"hold {phase_counts} — file ordering or admission control "
                "diverged from the phase construction."
            )
    return data


def check_admission_log(checkpoint_dir: str, n_phases: int, where: str) -> None:
    """Path-exact phase→batch guard: read each file source's metadata
    log under ``<checkpoint>/sources/<source>/<batchId>`` and assert
    batch i admitted exactly ``phase-{i:03d}.parquet``. Row counts can
    collide (two equal-sized phases replayed out of order pass the
    count guard); file paths cannot. Free — the checkpoint already
    holds the log; this only parses it."""
    import json

    root = os.path.join(checkpoint_dir, "sources")
    for source in sorted(os.listdir(root)) if os.path.isdir(root) else ["0"]:
        for i in range(n_phases):
            log = os.path.join(root, source, str(i))
            if not os.path.isfile(log):
                raise RuntimeError(
                    f"{where}: checkpoint source {source} has no source log "
                    f"for batch {i} (expected {n_phases} batches)"
                )
            with open(log) as f:
                entries = [json.loads(ln) for ln in f if ln.startswith("{")]
            got = sorted(os.path.basename(e["path"]) for e in entries)
            want = [f"phase-{i:03d}.parquet"]
            if got != want:
                raise RuntimeError(
                    f"{where}: source {source} batch {i} admitted {got}, "
                    f"expected {want} — phases replayed out of order."
                )
