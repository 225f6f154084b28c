"""Round-7 batch-5 rows (q273–q275): oracle parity plus the defining laws —
tolerance-branch liveness, sizing-plan arithmetic, and pruning soundness."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = ["q273_asof_tolerance_join", "q274_rowgroup_sizing", "q275_pruning_stack"]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q273_all_three_outcomes_live(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    by = {}
    for r in rows:
        by.setdefault(r["status"], []).append(r)
    assert set(by) == {"matched", "stale", "none"}
    assert all(r["matched_view"] is not None for r in by["matched"])
    assert all(r["matched_view"] is None for r in by["stale"] + by["none"])


def test_q274_plan_arithmetic(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    for r in rows:
        assert 64 <= r["rows_per_group"] <= r["rows_total"]
        groups = (r["rows_total"] + r["rows_per_group"] - 1) // r["rows_per_group"]
        assert r["n_groups"] == groups
        assert 1 <= r["tail_rows"] <= r["rows_per_group"]
        assert (groups - 1) * r["rows_per_group"] + r["tail_rows"] == r["rows_total"]


def test_q275_pruning_is_sound_and_live(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    # soundness: any structure pruning a fragment implies zero matching rows
    for r in rows:
        if r["zm_ts_prune"] or r["zm_uid_prune"] or r["bloom_prune"]:
            assert r["scan_needed"] == 0
            assert r["rows_matched"] == 0
    # liveness: the bloom prunes somewhere, the ts zones prune somewhere,
    # and at least one fragment survives to scan with real matches
    assert any(r["bloom_prune"] == 1 for r in rows)
    assert any(r["zm_ts_prune"] == 1 for r in rows)
    assert any(r["scan_needed"] == 1 for r in rows)
    assert sum(r["rows_matched"] for r in rows) > 0
