"""The bounded-query runner (``streaming/phasing.py``): restart on one
checkpoint, cleanup and shuffle-setting restore on failure, the
reserved staging column, the conf scope helpers, the memory-sink view
drop, and the guard that keeps every bounded start in the runner."""

from __future__ import annotations

import glob
import os

import pytest

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming import (
    phasing,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
    PhasedReplay,
    session_conf,
    shuffle_partitions,
)

KEY = "spark.sql.shuffle.partitions"


def _phase(spark, *keys):
    return spark.createDataFrame([(k,) for k in keys], "k int")


def test_shuffle_partitions_restores_when_body_raises(spark):
    before = spark.conf.get(KEY)
    with pytest.raises(RuntimeError, match="body failed"):
        with shuffle_partitions(spark, 7):
            assert spark.conf.get(KEY) == "7"
            raise RuntimeError("body failed")
    assert spark.conf.get(KEY) == before


def test_second_run_on_one_checkpoint_admits_only_the_new_phase(spark):
    seen = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, sorted(r.k for r in batch_df.collect())))

    with PhasedReplay(spark, "test_restart") as r:
        first = r.run([_phase(spark, 1, 2)], sink)
        second = r.run([_phase(spark, 3)], sink)
    assert [p["numInputRows"] for p in first] == [2]
    assert [p["numInputRows"] for p in second] == [1]
    assert seen == [(0, [1, 2]), (1, [3])]


def test_failed_replay_removes_root_and_restores_shuffle_setting(spark):
    before = spark.conf.get(KEY)
    during = []

    def sink(batch_df, batch_id):
        during.append(spark.conf.get(KEY))
        if batch_id == 1:
            raise RuntimeError("sink failed mid-replay")

    with pytest.raises(Exception, match="sink failed mid-replay"):
        with PhasedReplay(spark, "test_failure", partitions=3) as r:
            root = r.root
            r.run([_phase(spark, 1), _phase(spark, 2), _phase(spark, 3)], sink)
    assert during == ["3", "3"]  # batch 0 ran, batch 1 raised
    assert not os.path.exists(root)
    assert spark.conf.get(KEY) == before


def test_reserved_phase_column_is_rejected(spark):
    bad = spark.createDataFrame([(1, 0)], "k int, __phase int")
    with pytest.raises(ValueError, match="__phase"):
        with PhasedReplay(spark, "test_reserved") as r:
            root = r.root
            r.run([bad], lambda batch_df, batch_id: None)
    assert not os.path.exists(root)


def test_session_conf_unsets_a_key_that_was_unset(spark):
    key = "spark.lakeflow.test.scoped"
    with session_conf(spark, key, "on"):
        assert spark.conf.get(key) == "on"
    assert spark.conf.get(key, None) is None


def test_single_run_operator_drops_its_memory_view(spark, sf_dir):
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        windowed_counts_once,
    )

    before = spark.catalog.listTables()
    out = windowed_counts_once(spark, os.path.join(sf_dir, "events.parquet"))
    assert spark.catalog.listTables() == before
    assert out.collect()


def test_only_the_runner_starts_bounded_queries():
    """Spark-free: within ``streaming/``, only ``phasing.py`` starts and
    awaits a bounded query or builds a memory sink (``supervisor.py``
    restarts long-running queries and is the one exception)."""
    here = os.path.dirname(phasing.__file__)
    banned = ("awaitTermination(", 'format("memory")', "_SINK_SEQ")
    hits = [
        f"{os.path.basename(path)}: {token}"
        for path in sorted(glob.glob(os.path.join(here, "*.py")))
        if os.path.basename(path) not in ("phasing.py", "supervisor.py")
        for token in banned
        if token in open(path).read()
    ]
    assert not hits, hits
