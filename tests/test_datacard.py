"""Round-7 batch-9 rows (q285–q289): oracle parity plus the defining laws —
marginal conservation, encoding-plan arithmetic, churn-grain liveness, and
reconciliation branch liveness."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

NEW = [
    "q285_data_card_matrix",
    "q286_front_coding_estimate",
    "q287_delta_encoding_plan",
    "q288_weekly_churn",
    "q289_invoice_reconciliation",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q285_marginals_conserve(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    n = load_table(spark, "documents", SF_SMOKE).count()
    assert sum(r["n_docs"] for r in rows) == n
    # every source's shares sum to ~1e6 (floor rounding only)
    per_source = {}
    for r in rows:
        per_source.setdefault(r["source"], []).append(r["source_share_ppm"])
    for shares in per_source.values():
        assert 1_000_000 - len(shares) <= sum(shares) <= 1_000_000


def test_q286_front_coding_bytes_consistent(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    for r in rows:
        # front coding adds a 1-byte lcp field per token, saves lcp bytes:
        # front = plain + vocab_n - total_lcp
        assert r["front_bytes"] <= r["plain_bytes"] + r["vocab_n"]
        assert r["vocab_n"] > 0 and r["plain_bytes"] > 0


def test_q287_delta_plan_sane(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    by_col = {}
    for r in rows:
        assert r["max_delta"] >= 0
        assert 1 <= r["delta_bits"] <= 64
        assert r["use_delta"] == 1  # sorted ids/timestamps always win
        by_col.setdefault(r["col_name"], []).append(r)
    assert set(by_col) == {"event_id", "ets"}
    # consecutive event ids delta-encode in 1 bit
    assert all(r["delta_bits"] == 1 for r in by_col["event_id"])


def test_q288_churn_grain_is_live(spark):
    rows = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    assert sum(r["churned_pairs"] for r in rows) > 0
    for r in rows:
        assert 0 <= r["churned_pairs"] <= r["active_pairs"]
        assert 0 <= r["new_pairs"] <= r["active_pairs"]
        assert 0 <= r["churn_ppm"] <= 1_000_000


def test_q289_both_violation_directions_live(spark):
    rows = QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect()
    assert sum(r["n_over"] for r in rows) > 0
    assert sum(r["n_under"] for r in rows) > 0
    for r in rows:
        assert r["n_over"] + r["n_under"] <= r["n_orders"]
        assert r["mean_ratio_ppm"] > 0
