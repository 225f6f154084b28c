"""Round-7 batch-6 rows (q276–q278): oracle parity plus the defining laws —
refresh accounting, tier conservation, lateness bounds, and the two-pass
running-max device's exactness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.operators.scale_windows import (
    distributed_running_max,
)
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

NEW = ["q276_tpch_refresh", "q277_pit_tier_attribution", "q278_watermark_lag_census"]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q276_refresh_accounting(spark):
    """The audited state must reflect BOTH refresh streams exactly."""
    li = load_table(spark, "lineitem", SF_SMOKE)
    od = load_table(spark, "orders", SF_SMOKE)
    n_li = li.count()
    n_ins = li.filter("l_orderkey % 97 = 0").count()
    dels = od.filter("o_orderkey % 119 = 7").select("o_orderkey")
    n_del_rows = li.join(
        dels, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    ).count()
    assert n_ins > 0 and n_del_rows > 0  # both streams effective
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    assert sum(r["n_rows"] for r in rows) == n_li + n_ins - n_del_rows


def test_q277_tiers_conserve_orders(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    tiers = {r["tier"] for r in rows}
    assert tiers == {"gold", "silver", "bronze"}
    n = load_table(spark, "orders", SF_SMOKE).count()
    assert sum(r["n_orders"] for r in rows) == n


def test_q278_lateness_bounded_by_the_day_batch(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    day_us = 86_400_000_000
    for r in rows:
        assert 0 <= r["n_late_6h"] <= r["n_late_1h"] <= r["n_events"]
        assert r["max_late_us"] < day_us  # disorder is intra-day only
    assert sum(r["n_late_1h"] for r in rows) > 0
    assert sum(r["n_events"] - r["n_late_1h"] for r in rows) > 0


def test_distributed_running_max_matches_classic_window(spark):
    from pyspark.sql import Window

    ev = load_table(spark, "events", SF_SMOKE).select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    got = distributed_running_max(ev, ["event_id"], "us", out_col="m").select(
        "event_id", "m"
    )
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    want = ev.select("event_id", F.max("us").over(w).alias("m"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
