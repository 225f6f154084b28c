"""Round-3 analytic surface (q127–q136): oracle parity at smoke scale plus
plan-shape assertions for the scale-sensitive ones."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q127_cube",
    "q128_arg_extremes",
    "q129_moment_stats",
    "q130_histogram",
    "q131_edge_frame_window",
    "q132_not_exists",
    "q133_tpch_q18_shape",
    "q134_union_by_name",
    "q135_vector_arithmetic",
    "q136_conditional_aggs",
    "q137_train_val_test_split",
    "q138_incremental_dedup",
    "q139_zorder_clustering",
    "q140_gini_inequality",
    "q141_snapshot_diff",
    "q142_group_zscore",
    "q143_join_key_skew_profile",
    "q145_string_agg",
    "q146_try_cast_semantics",
    "q147_map_higher_order",
    "q148_lateral_join",
    "q149_recursive_cte",
    "q150_grouping_id",
    "q151_sql_pipe_syntax",
    "q152_setops_all",
    "q153_zipf_head_coverage",
    "q154_quality_weighted_sample",
    "q157_int8_quantization",
    "q158_per_group_sample",
    "q159_regression_aggregates",
    "q160_fuzzy_match_join",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q133_aggregates_before_join(spark):
    """The lineitem pre-aggregate must sit BELOW the joins: at 100 TB the
    fact table shuffles once into per-order rows before any join touches
    it."""
    plan = (
        QUERIES["q133_tpch_q18_shape"]
        .builder(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # executedPlan prints top-down: the join must appear before (above) the
    # aggregate that feeds it
    assert join_pos < agg_pos, plan[:2000]


def test_q132_plans_as_anti_join(spark):
    plan = (
        QUERIES["q132_not_exists"]
        .builder(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan, plan[:2000]
