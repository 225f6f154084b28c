"""Correctness spot-checks for the relational surface at sf0.001.

tests/test_oracle.py checks every declared query against its oracle; here one
query per operator family is named so a failure points at the family.  Both
read the same session-cached ``oracle_check`` result.
"""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

# One per operator family: scan, filter, join, agg, window, sort, setop,
# scalar, streaming-twin, udf, llm.
SPOT = [
    "q01_scan_count",
    "q05_filter_predicates",
    "q11_multiway_join_revenue",
    "q12_left_outer_join",
    "q18_hash_agg_multi_measure",
    "q23_grouping_sets",
    "q25_window_topk_per_group",
    "q26_window_lag",
    "q29_global_topk",
    "q32_union_all",
    "q35_except",
    "q42_json_functions",
    "q43_tumbling_window_batch",
    "q44_python_udf",
    "q45_exact_dedup_stats",
    "q49_quality_score",
]


@pytest.mark.parametrize("name", SPOT)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_registry_structure():
    assert len(QUERIES) >= 50
    for name, spec in QUERIES.items():
        assert spec.builder is not None
        # oracle queries must carry the determinism conventions
        if spec.oracle and "LIMIT" in spec.oracle.upper():
            assert "ORDER BY" in spec.oracle.upper(), f"{name}: LIMIT without ORDER BY"


def test_broadcast_join_plan(spark):
    """q10 must actually plan a broadcast exchange (no fact-side shuffle)."""
    df = QUERIES["q10_broadcast_join"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_topk_plan_is_take_ordered(spark):
    """q29 must plan TakeOrderedAndProject, not a global sort."""
    df = QUERIES["q29_global_topk"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_scalar_udf_equals_vectorized_udf(spark):
    """The row-at-a-time scalar UDF (API-surface item) and the declared
    pandas_udf produce identical values; only the declared/benched query
    uses the vectorized form."""
    from lance_namespace_impls_spark.operators.relational import (
        _disc_price_vec,
        scalar_disc_price_udf,
    )
    from lance_namespace_impls_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", SF_SMOKE).limit(500)
    both = li.select(
        scalar_disc_price_udf()("l_extendedprice", "l_discount").alias("s"),
        _disc_price_vec("l_extendedprice", "l_discount").alias("v"),
    )
    assert both.filter("s <> v").count() == 0
