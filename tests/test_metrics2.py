"""Round-7 batch-10 rows (q290–q293): oracle parity plus the defining laws —
stickiness bounds, aging conservation, peak dominance, concentration bounds."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

NEW = [
    "q290_dau_wau_stickiness",
    "q291_order_backlog_aging",
    "q292_hourly_seasonality",
    "q293_user_concentration",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q290_stickiness_bounded(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    for r in rows:
        assert 1 <= r["dau"] <= r["wau"]  # a day's actives are in its week's
        assert 0 < r["stickiness_ppm"] <= 1_000_000


def test_q291_aging_conserves_orders(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    n = load_table(spark, "orders", SF_SMOKE).count()
    assert sum(r["n_orders"] for r in rows) == n
    assert {r["o_orderstatus"] for r in rows} == {"F", "O", "P"}
    assert all(r["age_bucket"] >= 0 for r in rows)


def test_q292_peak_dominates(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for rs in by_type.values():
        peak = rs[0]["peak_hour"]
        peak_n = max(r["n"] for r in rs if r["hour"] == peak)
        assert all(peak_n >= r["n"] for r in rs)  # argmax really dominates
        assert len(rs) == 24  # every hour live


def test_q293_concentration_bounds(spark):
    row = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()[0]
    assert 1 <= row["top_k"] <= row["n_users"]
    assert 0 < row["top_k_events"] <= row["n_events"]
    # top-1% must hold at least its proportional share (they are the heaviest)
    assert row["top_share_ppm"] * row["n_users"] >= 1_000_000 * row["top_k"]
