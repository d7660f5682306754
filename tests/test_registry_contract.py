"""Registry contract: the query names, their order and the oracle texts.

The driver rotates over ``QUERIES``/``ORACLES`` in iteration order and
the benchmark keys its oracle cache on the oracle texts, so both are
pinned by hash. Changing a name, the order or one byte of an oracle is
a deliberate contract change: update the pins in the same commit.
"""

from __future__ import annotations

import hashlib
import json

import pytest

from implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark import registry

QUERIES_SHA256 = "4fe4cd3f97d7ccb17f5378c019e06ee396cd74130f000c85f385eeb4b79286f9"
ORACLES_SHA256 = "2a5b506dea925e4eec2645ee630b945dfab83bc5370db61e855f2622a60bea89"


def _sha256(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_query_names_and_order_pinned():
    assert len(registry.QUERIES) == 367
    assert _sha256(list(registry.QUERIES)) == QUERIES_SHA256


def test_oracle_texts_pinned():
    assert list(registry.ORACLES) == list(registry.QUERIES)
    assert _sha256(list(registry.ORACLES.items())) == ORACLES_SHA256


def test_every_query_is_registered_under_its_function_name():
    for name, fn in registry.QUERIES.items():
        assert fn.__name__ == f"q_{name}"


def test_query_rejects_a_duplicate_name():
    def q_pricing_summary(spark, sf_dir):
        raise AssertionError("never called")

    before = dict(registry.QUERIES)
    with pytest.raises(ValueError, match="already registered"):
        registry.query(oracle="SELECT 1")(q_pricing_summary)
    assert registry.QUERIES == before
    assert registry.ORACLES["pricing_summary"] != "SELECT 1"


def test_query_rejects_a_function_not_named_q():
    def pricing(spark, sf_dir):
        raise AssertionError("never called")

    with pytest.raises(ValueError, match="q_<name>"):
        registry.query(oracle="SELECT 1")(pricing)
    assert "pricing" not in registry.QUERIES and "pricing" not in registry.ORACLES
