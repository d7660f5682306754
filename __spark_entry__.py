"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the
``implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark``
package; this module is a thin adapter over its query registry.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: star-schema revenue
    rollup (joins lineitem⋈orders⋈customer⋈nation⋈region + exact
    order-independent aggregation)."""
    return registry.q_star_revenue(spark, "/root/testdata/sf0.001")


_HERE = os.path.dirname(os.path.abspath(__file__))


def _correctness_files(directory: str = _HERE) -> list[str]:
    """The driver's per-round ``CORRECTNESS_r{N}.json`` files in
    ``directory``, oldest round first."""
    paths = glob.glob(os.path.join(directory, "CORRECTNESS_r*.json"))
    return sorted(paths, key=lambda p: int(re.search(r"_r(\d+)\.json$", p)[1]))


def _driver_verified(directory: str = _HERE) -> frozenset[str]:
    """Names whose row in the LATEST round that checked them is green
    (``rows_match``, ``schema_match`` and ``hash_match`` all true).

    The driver verifies only the first 50 entries of queries() per
    round, so ordering is a coverage rotation: anything NOT verified
    (new queries, and names that went red in their latest check) is
    emitted FIRST; verified queries rotate to the back. All entries
    stay selfcheck-verified regardless of order."""
    latest: dict[str, bool] = {}
    for path in _correctness_files(directory):
        with open(path) as f:
            for name, row in json.load(f).items():
                latest[name] = all(
                    row.get(k) is True for k in ("rows_match", "schema_match", "hash_match")
                )
    return frozenset(name for name, green in latest.items() if green)


_DRIVER_VERIFIED = _driver_verified()


# Deliberate re-verification policy for the driver's 50-query window.
# With every registry query driver-verified at least once, the window
# re-checks the most fragile surfaces instead of arbitrary names.
# Ordering rule (most fragile first):
#   1. never-driver-verified queries (new this round) — hard gate;
#   2. streaming replays (checkpoint restarts, stateful joins,
#      watermark-emission oracles) — state-store / emission-rule risk;
#   3. sketch- and float-adjacent queries (HLL, approx_*, drift,
#      quantiles) — tolerance / engine-numerics risk;
#   4. everything else, stable registry order.
_FRAGILE_FIRST = (
    # r12 head: the three r11 decimal-output hash-fails, re-emitted as
    # STRING of the scale-0 decimal (registry docstring convention) —
    # they are also out of _DRIVER_VERIFIED, so the unverified branch
    # already puts them in the window; listing them here keeps them
    # pinned even after they re-verify
    "cms_join_size", "spearman_rank_correlation", "pq_codebook_audit",
    # code changed in r11 — green history, new code, must re-verify
    # first: ADVICE fixes (dhondt 1e6 overflow-safe scale,
    # doubly_robust_ope symmetric empty-match aggregate), then the 14
    # queries whose data-proportional broadcast hints the r11 audit
    # removed (plan-only change, but the driver is the proof), plus
    # the three consumers of the de-hinted integrity helpers
    "dhondt_apportionment", "doubly_robust_ope",
    "fk_semi_urgent", "dlq_split_fk", "top_unshipped_orders",
    "nation_pair_volume", "promo_revenue_share",
    "product_profit_rollup", "top_revenue_suppliers",
    "excess_volume_suppliers", "local_supplier_volume",
    "item_cooccurrence_similarity", "cheapest_supplier_per_part",
    "association_rules", "incremental_join_maintenance",
    "degree_assortativity", "dedup_load", "orders_without_lineitems",
    "reconcile_counts",
    # r11 int64-overflow sweep (decimal accumulators; cms_join_size
    # and spearman changed OUTPUT types — driver must re-hash them)
    "cms_join_size", "spearman_rank_correlation", "value_moments",
    "event_rate_anomalies", "acf_hourly_lags", "value_outlier_flags",
    "hourly_value_regression", "join_skew_report", "pq_codebook_audit",
    "pricing_summary", "star_revenue",
    # r11 two-phase partial-sum rewrites (scale-exact AND faster)
    "cube_revenue", "rollup_revenue", "lineitem_unpivot",
    "grouping_sets_revenue",
    "stream_cdc_merge_replay", "stream_cdc_merge_restart",
    "stream_rocksdb_halfhourly", "stream_rocksdb_restart",
    "stream_two_level_hourly", "stream_two_level_restart",
    "weighted_median_price", "weighted_price_band",
    "isotonic_calibration",
    # r9/r10 exact-order-statistics rebuilds (grouped_rank /
    # grouped_percentile_exact / ntile BIGINT-div bucket math)
    "value_winsorized", "global_value_ntile", "global_value_rank",
    "value_percentiles", "approx_quantile_check", "mad_by_type",
    "percentile_cont_parity",
    # streaming replays and stateful pipelines
    "stream_restart_hourly", "stream_update_merge_hourly",
    "stream_join_then_window", "stream_outer_attribution",
    "stream_attribution_join", "stream_session_windows",
    "stream_dedup_counts", "stream_batch_hourly",
    "stream_sliding_quarters", "stream_static_enrich",
    "stream_incremental_dedup", "stream_dedup_then_window",
    "stream_ivf_ingest", "stream_scd2_maintenance",
    "stream_semi_attribution", "stream_union_hourly",
    "stream_cms_topk", "stream_drift_monitor",
    "cdc_last_write_wins", "rate_limit_audit",
    # sketch / float-adjacent
    "cms_heavy_hitters", "cms_merge_parity",
    "hll_sketch_mergeability", "approx_distinct_check",
    "approx_quantile_check", "value_drift_ks", "value_drift_psi",
    "value_percentiles", "value_moments", "hourly_value_regression",
    "embedding_covariance", "label_scatter", "forecast_revenue_delta",
    "pandas_udaf_median",
)


# How many `_FRAGILE_FIRST` names stay pinned at the head of every
# round's window (after the never-verified block). The rest of the
# window is a ROUND-ROBIN slice over all remaining queries (fragile
# tail + stable-order rest) so stale greens re-verify periodically.
_FRAGILE_HEAD = 12
# Stride of the round-robin cursor: how far the rotating slice advances
# per round. MUST stay ≤ the leftover window size (50 − _FRAGILE_HEAD −
# new-query count) or names fall in the stride/slice gap and never
# re-verify — 30 guarantees full coverage whenever a round ships ≤8 new
# queries, sweeping all ~350 rotating names in ~12 rounds.
_ROTATION_STRIDE = 30


def _round_number() -> int:
    """Current build round, derived from the driver's own artifacts.

    The driver writes one CORRECTNESS_r{N}.json per completed round, so
    `count + 1` is the round about to be verified. This is the persisted
    round-robin cursor for `_rotated` — no extra state file needed, and
    it advances exactly once per round regardless of how many times the
    entrypoint is imported within a round.
    """
    return len(_correctness_files()) + 1


def _rotated(mapping: dict) -> dict:
    """Order queries for the driver's 50-slot verification window.

    Never-driver-verified names first (hard gate for new queries), then
    a pinned head of the `_FRAGILE_HEAD` riskiest `_FRAGILE_FIRST`
    names (streaming replays / decimal-output / portability tricks),
    then ALL remaining queries (fragile tail + stable registry order)
    rotated by a per-round cursor (`_round_number() * _ROTATION_STRIDE`)
    so the window's leftover ~38 slots sweep every stale green back
    through driver re-verification within ~9 rounds instead of pinning
    the same first-50 forever.
    """
    missing = set(_FRAGILE_FIRST) - set(mapping)
    if missing:  # fail loudly on typos / renamed queries (list drift)
        raise KeyError(f"_FRAGILE_FIRST names absent from registry: {sorted(missing)}")
    # Within the unverified set, riskiest first: when new queries
    # outnumber the 50-slot window, streaming replays and
    # engine-portability-trick queries (cross-engine hashing, calendar
    # boundaries, string-of-int checksums) must verify THIS round;
    # plain SQL shapes can safely roll to the next window.
    def _risk(item):
        name = item[0]
        risky = name.startswith("stream_") or name in {
            "merkle_bucket_diff", "benford_audit", "spatial_grid_nearest",
            "kcore_copurchase", "iso_week_revenue", "proration_allocation",
            "interval_overlap_pairs", "ewma_event_anomalies",
            "recursive_ancestor_rollup", "statestore_introspection",
            "weekend_revenue_split",
        }
        return 0 if risky else 1
    unverified = dict(
        sorted(
            ((k, v) for k, v in mapping.items() if k not in _DRIVER_VERIFIED),
            key=_risk,
        )
    )
    fragile_all = [k for k in dict.fromkeys(_FRAGILE_FIRST)
                   if k not in unverified]
    head = fragile_all[:_FRAGILE_HEAD]
    taken = set(unverified) | set(head)
    # Rotating tail: fragile names beyond the head, then everything
    # else in stable registry order — one list, advanced per round.
    rotating = fragile_all[_FRAGILE_HEAD:] + [
        k for k in mapping if k not in taken and k not in set(fragile_all)
    ]
    if rotating:
        off = (_round_number() * _ROTATION_STRIDE) % len(rotating)
        rotating = rotating[off:] + rotating[:off]
    ordered = list(unverified) + head + rotating
    return {k: mapping[k] for k in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _rotated(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query (omitted for
    non-SQL-expressible ops → driver records rows-only check)."""
    return _rotated(dict(registry.ORACLES))
