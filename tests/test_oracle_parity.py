"""Differential tests: every registered query vs its DuckDB oracle at sf0.001.

This is the same contract the driver enforces at sf0.01
(row-count + column set + order-insensitive value hash).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_utils import assert_oracle_match

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    sdf = _QUERIES[name](spark, sf_dir)
    if name not in _ORACLES:
        assert sdf.count() >= 0  # rows-only check for non-SQL-expressible ops
        return
    assert_oracle_match(sdf, duck, _ORACLES[name])


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_registry_contract():
    """The registry: 101 queries in registration order with the flagship
    first, every oracle names a registered query, and the two queries
    folded into semantic_dedup_gate_combined stay retired."""
    names = list(_QUERIES)
    assert len(names) == 101
    assert names[0] == "channel_video_metrics"
    assert set(_ORACLES) <= set(names)
    for retired in ("semantic_dedup_fitted", "semantic_dedup_capped"):
        assert retired not in names
