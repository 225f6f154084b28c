"""Batch-twelve operator (q256): oracle parity plus the budget invariant."""

from __future__ import annotations

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE


def test_oracle_match(oracle_check):
    result = oracle_check("q256_token_budget_fill")
    assert result["ok"], result


def test_budget_invariants(spark):
    rows = QUERIES["q256_token_budget_fill"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # the fill respects the budget and never empties or takes everything
        assert 2 * r["tokens_selected"] <= r["tokens_total"]
        assert 0 < r["n_selected"] < r["n_docs"]
        assert r["tokens_selected"] > 0
