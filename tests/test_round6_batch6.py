"""Round-6 batch-6 rows (q240–q242): oracle parity plus the defining
guarantees — estimator sanity, conflict-detection branch balance, and
index-vs-scan path equivalence."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q240_join_size_estimate",
    "q241_commit_conflict_check",
    "q242_scalar_index_audit",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q240_estimator_fires_and_is_sane(spark):
    row = QUERIES["q240_join_size_estimate"].builder(spark, SF_SMOKE).collect()[0]
    assert row["sampled_keys"] >= 1
    assert 0 < row["sampled_keys"] < row["total_keys"]  # a real subsample
    assert row["est_pairs"] > 0
    # key-coordinated sampling is unbiased; at 1-in-8 over the fixture's
    # near-uniform key counts a 2x error would mean the estimator is broken
    assert abs(row["est_pairs"] - row["exact_pairs"]) < row["exact_pairs"], row


def test_q241_conflicts_detected_and_bounded(spark):
    rows = QUERIES["q241_commit_conflict_check"].builder(spark, SF_SMOKE).collect()
    assert rows
    assert sum(r["row_conflicts"] for r in rows) > 0  # overlap exists
    assert any(r["compatible"] == 1 for r in rows)  # and is not universal
    for r in rows:
        assert r["row_conflicts"] <= min(r["a_deletes"], r["b_deletes"])
        assert r["compatible"] == (1 if r["row_conflicts"] == 0 else 0)


def test_q242_paths_identical(spark):
    row = QUERIES["q242_scalar_index_audit"].builder(spark, SF_SMOKE).collect()[0]
    assert row["direct_rows"] == row["index_rows"] > 0
    assert row["direct_xor"] == row["index_xor"]
