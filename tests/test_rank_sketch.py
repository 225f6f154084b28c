"""q199 (PageRank step) and q200 (Count-Min sketch): oracle parity plus
the algebraic invariants each one must hold."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q199_pagerank_step",
    "q200_countmin_heavy_hitters",
    "q202_linear_classifier",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q199_rank_floor_and_monotone_in_contributions(spark):
    rows = QUERIES["q199_pagerank_step"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # every ranked supplier has >= 1 in-edge, and the damped rank is
        # strictly above the teleport floor 0.15 * SCALE
        assert r["indeg"] >= 1
        assert r["rank_scaled"] > 150_000
    ranks = [r["rank_scaled"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)


def test_q200_estimate_dominates_truth(spark):
    """The Count-Min guarantee: est >= true count, always."""
    rows = QUERIES["q200_countmin_heavy_hitters"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["cms_estimate"] >= r["true_count"], r


def test_q200_sketch_mass_conservation(spark):
    """Each lane's 64 buckets partition the token mass: bucket sums equal
    the total token count (the property that makes the sketch mergeable)."""
    import pyspark.sql.functions as F

    from lance_namespace_impls_spark.functions.text import tokens
    from lance_namespace_impls_spark.operators.rank_sketch import _spark_lane
    from lance_namespace_impls_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_SMOKE)
    tc = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = tc.agg(F.sum("c")).collect()[0][0]
    for seeded in (False, True):
        lane_total = (
            tc.select(_spark_lane(F.col("w"), seeded=seeded).alias("b"), "c")
            .groupBy("b")
            .agg(F.sum("c").alias("bc"))
            .agg(F.sum("bc"))
            .collect()[0][0]
        )
        assert lane_total == total


def test_q202_classifier_decision_consistency(spark):
    """The keep flag must equal the threshold test on the integer score."""
    rows = QUERIES["q202_linear_classifier"].builder(spark, SF_SMOKE).collect()
    assert rows
    from lance_namespace_impls_spark.operators.rank_sketch import _CLS_BIAS

    for r in rows:
        assert r["keep"] == (r["score"] >= _CLS_BIAS)
        assert r["n_tokens"] >= 1


def test_q219_rrf_fuses_both_lists(spark):
    from lance_namespace_impls_spark.plans.registry import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["q219_hybrid_rrf_retrieval"].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    # descending fused score, deterministic ties
    for a, b in zip(rows, rows[1:]):
        assert (a["rrf_m"], -a["doc_id"]) >= (b["rrf_m"], -b["doc_id"])
    # the fused score decomposes into exactly the two rank terms
    for r in rows:
        expect = 0
        if r["lex_rank"] is not None:
            expect += 1_000_000 // (60 + r["lex_rank"])
        if r["sem_rank"] is not None:
            expect += 1_000_000 // (60 + r["sem_rank"])
        assert r["rrf_m"] == expect, r
    # both retrieval modalities contribute to the fused top-10
    assert any(r["lex_rank"] is not None for r in rows)
    assert any(r["sem_rank"] is not None for r in rows)
    # the self-match (query vector = vec 0) tops the semantic list
    sem_top = [r for r in rows if r["sem_rank"] == 1]
    assert sem_top and sem_top[0]["doc_id"] == 0


def test_q227_pagerank_trajectory_invariants(spark):
    from lance_namespace_impls_spark.plans.registry import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["q227_pagerank_rounds"].builder(spark, SF_SMOKE).collect()
    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(r["round"], []).append(r)
    assert set(by_round) == {1, 2, 3}
    for rnd, rs in by_round.items():
        assert len(rs) == 5
        # descending rank, deterministic ties
        for a, b in zip(rs, rs[1:]):
            assert a["r"] >= b["r"]
        # damping floor: every rank >= 0.15 * SCALE
        assert all(r["r"] >= 150_000 for r in rs)
    # the iteration does something: the round-3 leaders' ranks differ from
    # round-1's (power iteration moves mass toward high-degree hubs)
    assert [r["r"] for r in by_round[1]] != [r["r"] for r in by_round[3]]
