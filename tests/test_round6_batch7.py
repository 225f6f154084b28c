"""Round-6 batch-7 rows (q243–q244): oracle parity plus the defining
guarantees — Bloom-skipping soundness with both verdicts live, and the
HLL distributed merge law."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = ["q243_bloom_skipping", "q244_hll_merge_law"]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q243_skipping_sound_and_both_verdicts(spark):
    rows = QUERIES["q243_bloom_skipping"].builder(spark, SF_SMOKE).collect()
    skip = [r for r in rows if r["may_contain"] == 0]
    scan = [r for r in rows if r["may_contain"] == 1]
    assert skip and scan  # both verdicts at every SF
    # the Bloom guarantee: a skip verdict can never hide matching rows
    assert all(r["rows_matched"] == 0 for r in skip)
    # and the hot probe actually matches somewhere the filter said scan
    assert sum(r["rows_matched"] for r in scan) > 0


def test_q244_merge_law_holds(spark):
    rows = QUERIES["q244_hll_merge_law"].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    for r in rows:
        # the production claim: per-shard partials union to the one-pass sketch
        assert r["merged_estimate"] == r["direct_estimate"], r
        assert r["n_shards"] >= 2  # a real multi-shard merge, not a passthrough
        err = abs(r["direct_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert err < 0.55, r
