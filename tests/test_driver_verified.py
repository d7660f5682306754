"""The driver-verified set is derived from the per-round
CORRECTNESS_r{N}.json files: a name counts as verified when its row in
the LATEST round that checked it is green on rows, schema and hash."""

from __future__ import annotations

import json

import __spark_entry__ as entry

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}


def _row(**flags):
    return {**GREEN, **flags, "spark_rows": 1, "oracle_rows": 1, "err": None}


def _write_rounds(tmp_path, *rounds):
    for n, rows in rounds:
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))


def test_latest_round_decides(tmp_path):
    _write_rounds(
        tmp_path,
        (1, {"went_red": _row(), "went_green": _row(hash_match=False), "once": _row()}),
        (2, {"went_red": _row(rows_match=False), "went_green": _row()}),
    )
    assert entry._driver_verified(str(tmp_path)) == {"went_green", "once"}


def test_any_false_flag_is_not_verified(tmp_path):
    _write_rounds(
        tmp_path,
        (1, {
            "rows": _row(rows_match=False),
            "schema": _row(schema_match=False),
            "hash": _row(hash_match=False),
            "ok": _row(),
        }),
    )
    assert entry._driver_verified(str(tmp_path)) == {"ok"}


def test_rounds_are_ordered_numerically(tmp_path):
    # r9 sorts after r10 as text; r10 is the later round and must win
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"q": _row()}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"q": _row(hash_match=False)}))
    assert entry._driver_verified(str(tmp_path)) == frozenset()


def test_no_rounds_means_nothing_verified(tmp_path):
    assert entry._driver_verified(str(tmp_path)) == frozenset()
