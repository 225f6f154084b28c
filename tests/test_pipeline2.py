"""Round-7 batch-3 rows (q266–q269): oracle parity plus the defining laws —
funnel conservation, drift bounds, bitmap popcount identities, and the
MinHash merge law itself."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q266_dedup_funnel",
    "q267_corpus_drift",
    "q268_bitmap_day_index",
    "q269_minhash_merge_law",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q266_funnel_conserves_and_both_stages_fire(spark):
    rows = {r["stage"]: r for r in QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()}
    ex, nd = rows["1_exact"], rows["2_neardup"]
    assert ex["docs_in"] - ex["removed"] == ex["docs_out"]
    assert nd["docs_in"] - nd["removed"] == nd["docs_out"]
    assert ex["docs_out"] == nd["docs_in"]  # stages chain
    assert ex["removed"] > 0 and nd["removed"] > 0  # both stages live
    # the seeded twins are exactly the docs with doc_id % 100 == 0
    from lance_namespace_impls_spark.sources.tables import load_table

    twins = (
        load_table(spark, "documents", SF_SMOKE)
        .filter("doc_id % 100 = 0")
        .count()
    )
    assert ex["removed"] == twins


def test_q267_drift_bounds(spark):
    row = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()[0]
    # L1 over ppm shares is bounded by 2e6 (two distributions)
    assert 0 < row["l1_ppm"] <= 2_000_000
    assert row["top_drift_ppm"] <= row["l1_ppm"]
    assert row["vocab_n"] > 0 and row["top_token"]


def test_q268_popcount_identities(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 10  # C(5,2) type pairs
    for r in rows:
        assert 0 <= r["co_days"] <= r["union_days"] <= 30
        assert 0 <= r["jaccard_ppm"] <= 1_000_000


def test_q269_merge_law_holds_on_every_lane(spark):
    rows = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 20 * 8
    assert all(r["law_holds"] == 1 for r in rows)
    assert all(r["merged_min"] == r["full_min"] for r in rows)
