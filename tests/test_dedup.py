"""q225 sorted-neighborhood blocking: oracle parity + the linear candidate
budget and scoring invariants."""

from __future__ import annotations

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE


def test_oracle_match_q225(oracle_check):
    result = oracle_check("q225_sorted_neighborhood")
    assert result["ok"], result


def test_q225_snm_candidates_linear_and_scored(spark):
    rows = QUERIES["q225_sorted_neighborhood"].builder(spark, SF_SMOKE).collect()
    n = load_table(spark, "documents", SF_SMOKE).count()
    # linear candidate budget: each record pairs with <= w-1 neighbours
    assert 0 < len(rows) <= 2 * n
    seen = set()
    for r in rows:
        assert r["id_a"] != r["id_b"]
        assert 0 <= r["sim_permil"] <= 1000
        assert (r["id_a"], r["id_b"]) not in seen  # no duplicate candidates
        seen.add((r["id_a"], r["id_b"]))
    # sort-adjacency means neighbours share the blocking prefix: real
    # lexical similarity must show up well above a random-pair baseline
    assert max(r["sim_permil"] for r in rows) > 300
