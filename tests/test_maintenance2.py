"""Round-7 batch-2 rows (q262–q265): oracle parity plus each operator's
defining law — the consistent-hashing movement bound, retention-policy
partition, distortion sanity, and census conservation."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q262_shard_rebalance_audit",
    "q263_snapshot_retention",
    "q264_pq_distortion_audit",
    "q265_ivf_growth_audit",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q262_ring_moves_less_than_modulo(spark):
    """THE consistent-hashing law: growing 8 -> 10 shards moves a bounded
    slice on the ring, nearly everything under modulo."""
    rows = {r["policy"]: r for r in QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()}
    assert set(rows) == {"modulo", "ring"}
    for r in rows.values():
        assert 0 < r["moved"] < r["total"]  # both branches live
    assert rows["ring"]["moved_ppm"] < rows["modulo"]["moved_ppm"]
    assert rows["ring"]["moved_ppm"] < 500_000  # ring moves a minority


def test_q263_actions_partition_the_versions(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    actions = [r["action"] for r in rows]
    assert {"recent", "weekly", "expire"} <= set(actions)
    # recency window holds at most 7 day-versions
    assert 1 <= actions.count("recent") <= 7
    # version ids are dense over days
    assert [r["version_id"] for r in rows] == list(range(1, len(rows) + 1))
    days = [r["day"] for r in rows]
    assert days == sorted(days)


def test_q264_distortion_sane(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["total_sse"] >= 0 and r["max_sse"] >= 0
        assert r["max_sse"] * 1000 >= r["mean_sse_x1000"]
        assert r["n"] == rows[0]["n"]  # every subspace scores every vector


def test_q265_census_conserves_the_corpus(spark):
    from lance_namespace_impls_spark.sources.tables import load_table

    rows = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    n = load_table(spark, "embeddings", SF_SMOKE).count()
    assert sum(r["n_base"] + r["n_new"] for r in rows) == n
    assert sum(r["n_new"] for r in rows) > 0 and sum(r["n_base"] for r in rows) > 0
    share = sum(r["share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000  # floor rounding only
