"""Round-7 regression tests: phase-replay guards (empty-phase
rejection, path-exact admission log) and the fail-loud fragile-first
rotation check."""

from __future__ import annotations

import json
import os

import pytest


def test_stage_phase_files_rejects_empty_phase(spark, tmp_path):
    """A 0-row phase produces no data micro-batch and silently
    desynchronizes phase i ↔ batch i — must fail at construction."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
        stage_phase_files,
    )

    full = spark.createDataFrame([(1,)], "id long")
    empty = spark.createDataFrame([], "id long")
    with pytest.raises(ValueError, match="phase 1 is empty"):
        stage_phase_files([full, empty], str(tmp_path / "input"))


def _write_source_log(
    ckpt: str, batch_id: int, paths: list[str], source: int = 0
) -> None:
    src = os.path.join(ckpt, "sources", str(source))
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, str(batch_id)), "w") as f:
        f.write("v1\n")
        for p in paths:
            f.write(json.dumps({"path": f"file:///in/{p}", "timestamp": 1, "batchId": batch_id}) + "\n")


def test_check_admission_log_accepts_in_order_and_rejects_swap(tmp_path):
    """Counts can collide across equal-sized phases; the checkpoint's
    source log is path-exact and catches a swap that the count guard
    would pass."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
        check_admission_log,
    )

    good = str(tmp_path / "good")
    _write_source_log(good, 0, ["phase-000.parquet"])
    _write_source_log(good, 1, ["phase-001.parquet"])
    check_admission_log(good, 2, "test")  # no raise

    swapped = str(tmp_path / "swapped")
    _write_source_log(swapped, 0, ["phase-001.parquet"])
    _write_source_log(swapped, 1, ["phase-000.parquet"])
    with pytest.raises(RuntimeError, match="replayed out of order"):
        check_admission_log(swapped, 2, "test")

    with pytest.raises(RuntimeError, match="no source log for batch 2"):
        check_admission_log(good, 3, "test")

    # a stream-stream join reads the staged directory through two file
    # sources: the second source admitting a swapped file must raise too
    _write_source_log(good, 0, ["phase-000.parquet"], source=1)
    _write_source_log(good, 1, ["phase-001.parquet"], source=1)
    check_admission_log(good, 2, "test")  # no raise
    two = str(tmp_path / "two_sources")
    _write_source_log(two, 0, ["phase-000.parquet"])
    _write_source_log(two, 1, ["phase-001.parquet"])
    _write_source_log(two, 0, ["phase-001.parquet"], source=1)
    _write_source_log(two, 1, ["phase-000.parquet"], source=1)
    with pytest.raises(RuntimeError, match="source 1 batch 0 admitted"):
        check_admission_log(two, 2, "test")


def _progress(*per_source: int) -> dict:
    """A synthetic micro-batch progress entry with per-source input rows."""
    return {
        "numInputRows": sum(per_source),
        "sources": [{"numInputRows": n} for n in per_source],
    }


def test_check_batch_structure_checks_every_source():
    """A query with two file sources reports the sum of both in
    ``numInputRows``: the guard must compare each source's count to the
    phase, and catch one source falling short."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.phasing import (
        check_batch_structure,
    )

    progress = [_progress(5, 5), _progress(0, 0), _progress(7, 7)]
    assert check_batch_structure(progress, [5, 7], "test") == [
        progress[0],
        progress[2],
    ]
    assert check_batch_structure([_progress(5)], [5], "test") == [_progress(5)]
    with pytest.raises(RuntimeError, match=r"source 1 batches saw \[5, 6\]"):
        check_batch_structure([_progress(5, 5), _progress(7, 6)], [5, 7], "test")
    with pytest.raises(RuntimeError, match=r"source 0 batches saw \[\]"):
        check_batch_structure([], [5], "test")


def test_rotation_fails_loudly_on_fragile_list_drift():
    """A typo or renamed query in _FRAGILE_FIRST must raise, not be
    silently dropped from the re-verification window."""
    import __spark_entry__ as entry

    mapping = {k: None for k in entry._FRAGILE_FIRST}
    entry._rotated(dict(mapping))  # complete mapping: no raise
    mapping.pop(entry._FRAGILE_FIRST[0])
    with pytest.raises(KeyError, match="absent from registry"):
        entry._rotated(mapping)


def test_fragile_first_names_all_resolve():
    """Every _FRAGILE_FIRST name exists in the live registry (queries()
    itself runs the assertion — calling it is the check)."""
    import __spark_entry__ as entry

    q = entry.queries()
    assert set(entry._FRAGILE_FIRST) <= set(q)


def test_t_closeness_hand_case(spark):
    """Hand-checked TVD: group A is all-x (skewed), group B mixed."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pii import (
        t_closeness_audit,
    )

    df = spark.createDataFrame(
        [("A", "x"), ("A", "x"), ("B", "x"), ("B", "y")], "g string, s string"
    )
    out = {
        r["g"]: r.asDict()
        for r in t_closeness_audit(df, ["g"], "s", 0.2).collect()
    }
    # global: x=3/4, y=1/4. A: x=1 → tvd = (|1-3/4| + |0-1/4|)/2 = 0.25
    assert out["A"]["tvd"] == 0.25 and out["A"]["violates_t"]
    # B: x=1/2,y=1/2 → tvd = (1/4 + 1/4)/2 = 0.25
    assert out["B"]["tvd"] == 0.25


def test_minhash_merge_audit_single_parity_group(spark):
    """A group whose docs are all one parity: merged signature equals
    the present half's; est_jaccard counts zero agreeing slots (no
    null poisoning of the sums)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        minhash_merge_audit,
    )

    df = spark.createDataFrame(
        [(2, "a b c d e", "only_even"), (4, "a b c f g", "only_even")],
        "doc_id long, text string, source string",
    )
    row = minhash_merge_audit(df, k=4).collect()[0]
    assert row["n_merge_equal"] == 4  # sig(all) == coalesced even-half sig
    assert row["est_jaccard"] == 0.0  # no slot has both halves


def test_shingle_novelty_hand_case(spark):
    """doc 1 owns all its shingles; doc 2 (same text) owns none; a
    short doc (<3 tokens) is excluded entirely."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.dedup_near import (
        shingle_novelty,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),   # shingles: 'a b c', 'b c d'
            (2, "a b c d", "s2"),   # same two, both first seen at doc 1
            (3, "x y", "s2"),       # too short: no shingles
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r.asDict() for r in shingle_novelty(df).collect()}
    assert out["s1"] == {"source": "s1", "n_shingles": 2, "n_novel": 2, "novelty_rate": 1.0}
    assert out["s2"] == {"source": "s2", "n_shingles": 2, "n_novel": 0, "novelty_rate": 0.0}


def test_dedup_then_window_drops_cross_batch_duplicate(spark):
    """A copy of a phase-1 row replayed in phase 2 must die in the
    dedup store (its original's state outlives the eviction watermark),
    so the emitted hourly counts equal the distinct-row counts."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        dedup_then_window_phased,
    )

    rows1 = [(i, f"2024-01-01 00:{i:02d}:00", "a") for i in range(10)]
    rows2 = [(i + 10, f"2024-01-01 03:{i:02d}:00", "a") for i in range(10)]
    rows3 = [(i + 20, f"2024-01-01 06:{i:02d}:00", "a") for i in range(10)]
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type")
    p1 = mk(rows1)
    p2 = mk(rows2 + [rows1[9]])  # cross-batch dup: 00:09, within 1h of 03:xx? No —
    # 00:09 is hours older than phase 2; but the eviction watermark during
    # batch 2 is max(phase-1)−1h = 23:09 of the PREVIOUS day → original
    # state (00:00–00:09) is still live, so the copy is deduplicated.
    p3 = mk(rows3)
    out, stats = dedup_then_window_phased(
        spark, [p1, p2, p3], ["event_id"], lateness="1 hour",
        group_cols=["event_type"],
    )
    # final watermark = 06:09 − 1h = 05:09 → hours 00 and 03 emitted
    got = {
        (r["window_start"].hour, r["n_events"]) for r in out.collect()
    }
    assert got == {(0, 10), (3, 10)}
    assert stats["data_batches"] == 3


def test_ivf_ingest_covers_corpus_once(spark, tmp_path):
    """Every vector lands in exactly one cell across the phased ingest:
    cell populations sum to the corpus size."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
        pq_codebooks,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.ivf_ingest import (
        ivf_ingest_phased,
    )

    dim = 8
    rows = [(i, [((i * 7 + j) % 13 - 6) / 10.0 for j in range(dim)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    phases = [df.filter(f"vec_id % 3 = {i}") for i in range(3)]
    audit, stats = ivf_ingest_phased(
        spark, phases, pq_codebooks(1, 4, dim)[0], dim=dim
    )
    rowsA = audit.collect()
    assert sum(r["n_vecs"] for r in rowsA) == 30
    assert stats["data_batches"] == 3


def _xy2d_ref(order: int, x: int, y: int) -> int:
    """Reference Hilbert xy→d (textbook iterative form)."""
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_bijection(spark):
    """All 256 cells of a 16x16 grid map to the textbook Hilbert index
    — a full bijection, adjacent d values in adjacent cells."""
    from pyspark.sql import functions as F

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        with_hilbert_key,
    )

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["hkey"]
        for r in with_hilbert_key(df, F.col("x"), F.col("y"), bits=4).collect()
    }
    assert got == {(x, y): _xy2d_ref(16, x, y) for x, y in rows}
    assert sorted(got.values()) == list(range(256))


def test_rendezvous_shard_minimal_movement(spark):
    """Growing 4 -> 5 shards moves exactly the keys shard 4 wins —
    every moved key lands on the new shard, none shuffle among old
    ones."""
    from pyspark.sql import functions as F

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.layout import (
        rendezvous_shard,
    )

    df = spark.createDataFrame([(i,) for i in range(500)], "k long")
    out = df.select(
        rendezvous_shard(F.col("k"), 4).alias("s4"),
        rendezvous_shard(F.col("k"), 5).alias("s5"),
    ).collect()
    moved = [r for r in out if r["s4"] != r["s5"]]
    assert all(r["s5"] == 4 for r in moved)
    assert 0 < len(moved) < 250  # ~1/5 expected, never a mass reshuffle


def test_stream_semi_join_emits_each_click_once(spark, tmp_path):
    """A click matched by THREE purchases emits exactly one row."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.joins import (
        attribution_semi_join_once,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 7, "click", 0.0),
        (2, "2024-01-01 10:05:00", 7, "purchase", 5.0),
        (3, "2024-01-01 10:10:00", 7, "purchase", 6.0),
        (4, "2024-01-01 10:15:00", 7, "purchase", 7.0),
        (5, "2024-01-01 10:00:00", 8, "click", 0.0),  # never purchases
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type", "value"
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)
    out = attribution_semi_join_once(spark, path).collect()
    assert [(r["k"], r["left_id"]) for r in out] == [(7, 1)]


def test_delta_state_retraction_equals_recompute(spark):
    """base ⊕ insert ⊖ delete == direct aggregation over survivors;
    fully-retracted keys drop out of the rollup."""
    from pyspark.sql import functions as F

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.incremental import (
        delta_state,
        finalize,
        merge_delta_states,
    )

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "k string, v double"
    )
    ins = spark.createDataFrame([("a", 3.0)], "k string, v double")
    dels = spark.createDataFrame(
        [("a", 2.0), ("b", 5.0)], "k string, v double"
    )  # b fully retracted
    out = finalize(
        merge_delta_states(
            [
                delta_state(base, ["k"], "v"),
                delta_state(ins, ["k"], "v"),
                delta_state(dels, ["k"], "v", sign=-1),
            ],
            ["k"],
        )
    ).collect()
    assert [(r["k"], r["n"], r["vsum"]) for r in out] == [("a", 2, 4.0)]


def test_space_filling_curves_beat_linear_locality(spark):
    """The audit must show WHY the curve keys exist: under linear-x
    order the y-span per bucket stays ~full-range; both curves shrink
    it."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.registry import (
        q_layout_locality_audit,
    )

    rows = {
        r["layout"]: r.asDict()
        for r in q_layout_locality_audit(spark, "/root/testdata/sf0.001").collect()
    }
    assert rows["zorder"]["avg_y_span"] < rows["linear_x"]["avg_y_span"]
    assert rows["hilbert"]["avg_y_span"] < rows["linear_x"]["avg_y_span"]


def test_scd2_stream_matches_batch_history(spark):
    """Maintained-version-table parity with the one-shot window
    derivation, including the cross-batch EXTEND (same attr value on
    both sides of a batch boundary must stay ONE version) and the
    cross-batch CLOSE (value change at the boundary)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.scd import (
        scd2_history,
    )
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.scd2_stream import (
        scd2_stream_phased,
    )

    rows1 = [
        (1, "2024-01-01 00:00:00", "a", 1),
        (1, "2024-01-01 01:00:00", "a", 2),
        (2, "2024-01-01 00:30:00", "x", 3),
    ]
    rows2 = [
        (1, "2024-01-02 00:00:00", "a", 4),  # extend across boundary
        (2, "2024-01-02 01:00:00", "y", 5),  # close across boundary
        (3, "2024-01-02 02:00:00", "q", 6),  # new key mid-stream
    ]
    rows3 = [
        (1, "2024-01-03 00:00:00", "b", 7),  # change after extend
    ]
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, ts string, event_type string, event_id long"
    ).selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "event_id"
    )
    phases = [mk(r) for r in (rows1, rows2, rows3)]
    got, stats = scd2_stream_phased(
        spark, phases, "user_id", "ts", ["event_type"], "event_id"
    )
    want = scd2_history(
        mk(rows1 + rows2 + rows3), "user_id", "ts", ["event_type"], "event_id"
    )
    key = lambda r: (r["user_id"], str(r["valid_from"]))
    g = sorted((r.asDict() for r in got.collect()), key=key)
    w = sorted((r.asDict() for r in want.collect()), key=key)
    assert g == w
    assert stats["data_batches"] == 3
    # the extend really merged: user 1 has exactly two versions (a, b)
    u1 = [r for r in g if r["user_id"] == 1]
    assert [r["event_type"] for r in u1] == ["a", "b"]


def test_bpe_train_merges_hand_case(spark):
    """Tiny corpus where the greedy argmax trajectory is computable by
    hand: 'aaab aaab ab' → round 1 merges (a,a) [count 2+2+... per
    adjacency], later rounds follow the re-symbolized counts."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        bpe_train_merges,
    )

    df = spark.createDataFrame(
        [("aaab aaab ab",), ("aaab xy",)], "text string"
    )
    # vocab: aaab wf=3, ab wf=1, xy wf=1
    # round 1 pairs: aaab → (a,a)x2,(a,b)x1 each ×3 → aa=6, ab=3+1=4, xy=1 → merge '|a| |a|'
    out = {r["merge_rank"]: (r["pair"], r["n"]) for r in bpe_train_merges(df, rounds=2).collect()}
    assert out[1] == ("|a| |a|", 6)
    # after merge: aaab → '|aa| |a| |b|' (leftmost greedy), pairs: (aa,a)=3,(a,b)=3+1? 
    # 'ab' → '|a| |b|' so (a,b): 3 (from aaab) + 1 = 4 → merge '|a| |b|'
    assert out[2] == ("|a| |b|", 4)
