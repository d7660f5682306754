"""Unit tests for the round-4 continuation operators: chunking,
sequence packing, integer PageRank, hard-negative mining."""

from __future__ import annotations

from pyspark.sql import functions as F

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.chunking import (
    chunk_documents,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.packing import (
    pack_documents,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pagerank import (
    SCALE,
    pagerank,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.similarity import (
    hard_negatives,
)
from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.sources.tables import (
    load_table,
)


def test_chunking_covers_text_with_overlap(spark):
    df = spark.createDataFrame(
        [(1, "a" * 100), (2, "xy"), (3, "")], ["doc_id", "text"]
    )
    out = chunk_documents(df, chunk_chars=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0, 48, 96 -> lengths 64, 52, 4
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_start"] for r in d1] == [0, 48, 96]
    assert [r["chunk_chars"] for r in d1] == [64, 52, 4]
    # short doc: single full-text chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_chars"] == 2
    # empty doc still yields one (empty) chunk
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_chars"] == 0
    # identical content -> identical fingerprint
    fp = {r["chunk_fp"] for r in d1 if r["chunk_chars"] == 64}
    assert len(fp) == 1  # both 64-char windows of 'aaaa…' hash equal


def test_packing_is_a_partition_of_the_token_stream(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    packed = pack_documents(
        d, "doc_id", F.size(F.split(F.col("text"), " ")), budget=128
    )
    rows = packed.collect()
    assert len(rows) == d.count()  # every doc assigned exactly once
    # starts are the exclusive prefix sums: sorted starts are strictly
    # increasing by exactly n_tok (a perfect tiling of [0, total))
    srt = sorted(rows, key=lambda r: r["start"])
    acc = 0
    for r in srt:
        assert r["start"] == acc
        acc += r["n_tok"]
        assert r["bin_id"] == r["start"] // 128
        assert r["end_bin_id"] == (r["start"] + max(r["n_tok"] - 1, 0)) // 128
        assert r["spans_boundary"] == (r["bin_id"] != r["end_bin_id"])
    # deterministic across reruns/partitionings
    again = {
        r["doc_id"]: (r["start"], r["bin_id"])
        for r in pack_documents(
            d.repartition(7),
            "doc_id",
            F.size(F.split(F.col("text"), " ")),
            budget=128,
        ).collect()
    }
    assert again == {r["doc_id"]: (r["start"], r["bin_id"]) for r in rows}


def test_pagerank_integer_recurrence(spark):
    # star graph: a,b,c all point to z; z dangles
    edges = spark.createDataFrame(
        [("a", "z"), ("b", "z"), ("c", "z")], ["src", "dst"]
    )
    pr = {r["node"]: r["pr_scaled"] for r in pagerank(edges, iterations=2).collect()}
    n = 4
    base = (15 * SCALE) // (100 * n)
    p0 = SCALE // n
    # iteration 1: sources get base; z gets base + 3 * floor(p0*85/100)
    p1_src = base
    p1_z = base + 3 * ((p0 * 85) // 100)
    # iteration 2 from p1
    assert pr["a"] == base and pr["b"] == base and pr["c"] == base
    assert pr["z"] == base + 3 * ((p1_src * 85) // 100)
    assert p1_z > p1_src  # sink accumulates rank


def test_hard_negatives_labels_differ_and_ranked(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = hard_negatives(emb, k=3, n_planes=4, dim=64)
    rows = out.collect()
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    per_anchor = {}
    for r in rows:
        assert labels[r["anchor_id"]] != labels[r["neg_id"]]
        per_anchor.setdefault(r["anchor_id"], []).append(r)
    for rs in per_anchor.values():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert len(rs) <= 3
        sims = [r["similarity"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_duplicate_chunks_flags_shared_spans(spark):
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.chunking import (
        duplicate_chunks,
    )

    shared = "s" * 64
    df = spark.createDataFrame(
        [
            (1, shared + "tail one"),
            (2, "prefix that offsets nothing"),
            (3, shared + "other tail"),
        ],
        ["doc_id", "text"],
    )
    out = duplicate_chunks(df, chunk_chars=64, stride=64).collect()
    # exactly the shared 64-char span is flagged, owned by doc 1
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["first_doc"] == 1


def test_source_lang_entropy_bounds(spark):
    import math

    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.text import (
        source_lang_entropy,
    )

    df = spark.createDataFrame(
        [("a", "en"), ("a", "en"), ("b", "en"), ("b", "fr")],
        ["source", "lang"],
    )
    out = {r["source"]: r for r in source_lang_entropy(df).collect()}
    assert out["a"]["entropy_micro_nats"] == 0  # single language
    # uniform over 2 langs -> ln(2) nats
    assert out["b"]["entropy_micro_nats"] == round(math.log(2) * 1e6 / 2) * 2
    assert out["b"]["n_langs"] == 2 and out["b"]["n_docs"] == 2


def test_target_encode_shrinks_to_prior(spark):
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.encoding import (
        target_encode,
    )

    df = spark.createDataFrame(
        [("a", 10.0)] * 90 + [("a", 0.0)] * 10 + [("b", 0.0)],
        ["cat", "y"],
    )
    out = {r["cat"]: r["encoded"] for r in target_encode(df, "cat", "y", m=10).collect()}
    prior = 900.0 / 101  # global mean
    # popular category near its own mean (9.0); rare one near the prior
    assert abs(out["a"] - 9.0) < abs(prior - 9.0)
    assert abs(out["b"] - prior) < 1.0  # shrunk hard toward prior from 0


def test_temporal_leakage_audit_counts(spark):
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        temporal_leakage_audit,
    )

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-09 00:00:00"),  # user 1 leaks across the cutoff
            (2, "2024-01-02 00:00:00"),
            (3, "2024-01-10 00:00:00"),
        ],
        ["user_id", "ts_str"],
    ).select("user_id", F.col("ts_str").cast("timestamp").alias("ts"))
    out = {
        r["split"]: r
        for r in temporal_leakage_audit(
            df, "ts", "user_id", "2024-01-08 00:00:00"
        ).collect()
    }
    assert out["train"]["n_events"] == 2 and out["train"]["n_entities"] == 2
    assert out["test"]["n_events"] == 2 and out["test"]["n_entities"] == 2
    assert out["train"]["n_leaked_entities"] == 1


def test_k_anonymity_flags_small_groups(spark):
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.pii import (
        k_anonymity_audit,
    )

    df = spark.createDataFrame(
        [("x", "u")] * 5 + [("y", "v")] * 2, ["qi1", "qi2"]
    )
    out = k_anonymity_audit(df, ["qi1", "qi2"], k=3).collect()
    assert len(out) == 1
    assert out[0]["qi1"] == "y" and out[0]["group_size"] == 2


def test_resampling_plan_downsample_only(spark, sf_dir):
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.sampling import (
        resampling_plan,
    )

    d = load_table(spark, sf_dir, "documents")
    out = resampling_plan(d, "source", F.size(F.split(F.col("text"), " "))).collect()
    probs = [r["accept_prob"] for r in out]
    assert all(0 < p <= 1 for p in probs)
    assert max(probs) == 1.0  # the scarcest source keeps everything
    for r in out:
        assert r["expected_tokens"] <= r["n_tokens"]  # never upsample


def test_tfidf_cosine_topk_self_excluded_and_ranked(spark, sf_dir):
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.operators.tfidf import (
        tfidf_cosine_topk,
    )

    d = load_table(spark, sf_dir, "documents")
    rows = tfidf_cosine_topk(d, probe_max_id=5, k=3).collect()
    per_q = {}
    for r in rows:
        assert r["q_id"] != r["doc_id"]  # self never a neighbor
        assert -1.000001 <= r["similarity"] <= 1.000001
        per_q.setdefault(r["q_id"], []).append(r)
    for rs in per_q.values():
        rs = sorted(rs, key=lambda r: r["rank"])
        sims = [r["similarity"] for r in rs]
        assert sims == sorted(sims, reverse=True) and len(rs) <= 3


def test_dataset_card_internally_consistent(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["dataset_card"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["dup_rate"] < 1.0
        assert r["n_langs"] >= 1
        assert r["entropy_micro_nats"] >= 0
        # mean length consistent with the totals it was derived from
        assert abs(r["avg_doc_tokens"] * r["n_docs"] - r["total_tokens"]) < 0.01 * r["n_docs"]


def test_event_rate_anomalies_flags_are_extreme(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["event_rate_anomalies"](spark, sf_dir).collect()
    for r in rows:
        assert abs(r["z"]) > 2.0 - 1e-6  # only beyond-threshold hours emitted


def test_update_merge_converges_across_micro_batches(spark, sf_dir):
    """Split the events by a hash of ``event_id`` into three phases, each
    replayed as its own micro-batch, so every batch carries events from
    across the whole time range: update mode re-emits windows as counts
    grow and the LWW merge's final store must equal the batch
    aggregate — with a lateness wider than the cross-batch disorder
    (a 5-minute watermark WOULD drop events from later batches, the
    correct streaming behavior this test first demonstrated)."""
    from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark.streaming.windowed import (
        update_merge_phased,
    )

    e = load_table(spark, sf_dir, "events")
    part = F.pmod(F.hash("event_id"), F.lit(3))
    out, stats = update_merge_phased(
        spark,
        [e.where(part == i) for i in range(3)],
        lateness="60 days",  # wider than the hash split's disorder
        group_cols=["event_type"],
    )
    assert stats["data_batches"] == 3
    got = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in out.collect()
    }
    exp = {
        (r["hr"], r["event_type"]): r["n"]
        for r in e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp


def test_packing_supports_string_ids(spark):
    # the mapInPandas schema derives _id's type from the input: string
    # document keys must survive the pack intact (regression: the
    # schema once hardcoded '_id long')
    d = spark.createDataFrame(
        [("doc-a", 3), ("doc-b", 5), ("doc-c", 2)], ["doc_id", "n"]
    )
    out = pack_documents(d, "doc_id", F.col("n"), budget=4).collect()
    assert {r["doc_id"] for r in out} == {"doc-a", "doc-b", "doc-c"}
    assert sorted(r["start"] for r in out) == [0, 3, 8] or sorted(
        r["n_tok"] for r in out
    ) == [2, 3, 5]  # perfect tiling regardless of md5 order
    starts = sorted((r["start"], r["n_tok"]) for r in out)
    acc = 0
    for s, n in starts:
        assert s == acc
        acc += n


def test_mode_oracle_null_rule(spark):
    """F.mode is NULL-ignoring while COUNT(*) is not — the
    user_modal_event oracle encodes exactly this split (regression:
    an argmax replay that ranks the NULL group wins on NULL-majority
    data)."""
    rows = [(1, None)] * 6 + [(1, "click")] * 4 + [(2, "buy")] * 2
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {
        r["user_id"]: (r["m"], r["n"])
        for r in df.groupBy("user_id")
        .agg(
            F.mode("event_type", True).alias("m"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .collect()
    }
    # NULL-majority user: mode ignores the 6 NULLs, count doesn't
    assert got == {1: ("click", 10), 2: ("buy", 2)}

    import duckdb

    con = duckdb.connect()
    con.register("events_arrow", df.toPandas())
    oracle = """
    WITH tot AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events_arrow GROUP BY 1),
    c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events_arrow WHERE event_type IS NOT NULL GROUP BY 1, 2),
    r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type ASC) AS rn
      FROM c)
    SELECT t.user_id, r.event_type AS m, t.n_events AS n
    FROM tot t LEFT JOIN r ON t.user_id = r.user_id AND r.rn = 1
    """
    want = {u: (m, n) for u, m, n in con.sql(oracle).fetchall()}
    assert got == want
