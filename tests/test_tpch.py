"""TPC-H completion suite (q181–q195): oracle parity at smoke scale plus
plan-shape assertions for the scale-sensitive members.

The suite's earlier TPC-H shapes (Q1/Q3/Q10/Q18 = q18/q83/q84/q133) are
covered in their home modules; this file covers the eighteen added by
operators/tpch.py (q181-q195 plus the q251-q253 partsupp-derived trio
that completes all 22 shapes).
"""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.oracle import check_query, duckdb_connection
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

TPCH = sorted(
    n
    for n in QUERIES
    if "tpch_q" in n and (n.startswith("q18") or n.startswith("q19") or n.startswith("q25"))
)


def test_all_eighteen_registered():
    assert len(TPCH) == 18


@pytest.mark.parametrize("name", TPCH)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def _plan(spark, name):
    return (
        QUERIES[name]
        .builder(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q181_exists_is_semi_join(spark):
    """Q4's EXISTS must compile to one LeftSemi join, never a distinct+inner."""
    plan = _plan(spark, "q181_tpch_q4_priority")
    assert "LeftSemi" in plan


def test_q183_predicates_push_to_scan(spark):
    """Q6 is pure scan bandwidth: every predicate reaches the parquet reader."""
    plan = _plan(spark, "q183_tpch_q6_forecast")
    assert "PushedFilters" in plan
    # the shipdate range, discount band, and quantity cap all appear pushed
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in plan.split("PushedFilters", 1)[1][:600], frag


def test_q182_nation_region_broadcast(spark):
    """Q5's fixed-cardinality dims (nation=25, region=5) ride broadcasts."""
    plan = _plan(spark, "q182_tpch_q5_local_volume")
    assert plan.count("BroadcastHashJoin") >= 2


def test_q187_left_join_preserves_zero_count_customers(spark):
    """Q13: the priority filter lives in the join condition, not a WHERE —
    customers whose every order is 1-URGENT must appear with c_count = 0."""
    df = QUERIES["q187_tpch_q13_order_distribution"].builder(spark, SF_SMOKE)
    counts = {r["c_count"]: r["custdist"] for r in df.collect()}
    # zero-bucket present iff some customer has only urgent orders; either
    # way the distribution total equals the customer count
    total = sum(counts.values())
    ncust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").count()
    assert total == ncust


def test_q190_exclusion_is_exercised_at_gate_scale(spark):
    """sf0.001 has zero negative-balance suppliers, so the smoke-scale
    oracle match cannot detect a broken NOT-IN branch; at sf0.01 the
    exclusion must actually remove suppliers from some group."""
    sf = "/root/testdata/sf0.01"
    bad = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .filter("s_acctbal < 0")
        .count()
    )
    assert bad > 0, "fixture drift: exclusion set empty at sf0.01 too"
    result = check_query(spark, duckdb_connection(sf), "q190_tpch_q16_supplier_count", sf)
    assert result["ok"], result
    # the unexcluded variant must differ somewhere, proving the anti-join
    # branch participates in the declared result
    import pyspark.sql.functions as F

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    pa = spark.read.parquet(f"{sf}/part.parquet").filter(
        "p_brand <> 'Brand#12' AND p_size IN (1, 4, 9, 16, 25, 36, 49)"
    )
    unexcluded = (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .agg(F.sum("supplier_cnt")).collect()[0][0]
    )
    declared = (
        QUERIES["q190_tpch_q16_supplier_count"]
        .builder(spark, sf)
        .agg(F.sum("supplier_cnt"))
        .collect()[0][0]
    )
    assert declared < unexcluded


def test_q194_semi_and_anti_pair(spark):
    """Q21 compiles to the EXISTS/NOT EXISTS pair: one LeftSemi + one LeftAnti."""
    plan = _plan(spark, "q194_tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q195_anti_join_not_cartesian(spark):
    """Q22's NOT EXISTS is a LeftAnti hash join on o_custkey; the only
    nested-loop element is the allowlisted 1-row threshold broadcast."""
    plan = _plan(spark, "q195_tpch_q22_sales_opportunity")
    assert "LeftAnti" in plan
