"""q220 multi-round Lloyd: oracle parity plus the Lloyd-descent property."""

from __future__ import annotations

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.operators.kmeans_full import kmeans_rounds
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE


def test_oracle_match_q220(oracle_check):
    result = oracle_check("q220_kmeans_lloyd_rounds")
    assert result["ok"], result


def test_q220_inertia_descends_and_partitions_corpus(spark):
    rows = QUERIES["q220_kmeans_lloyd_rounds"].builder(spark, SF_SMOKE).collect()
    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(r["round"], []).append(r)
    assert set(by_round) == {1, 2, 3}
    n = load_table(spark, "embeddings", SF_SMOKE).count()
    totals = {}
    for rnd, rs in by_round.items():
        assert sum(r["n_members"] for r in rs) == n  # every vector assigned
        totals[rnd] = sum(r["inertia"] for r in rs)
    # Lloyd descent: floor-div centroids can perturb the exact-mean argmin
    # by at most a whisker, so allow 0.1% slack per step instead of strict
    assert totals[2] <= totals[1] * 1.001
    assert totals[3] <= totals[2] * 1.001
    # and the loop must actually make progress overall
    assert totals[3] < totals[1]


def test_q220_more_rounds_never_hurt(spark):
    emb = load_table(spark, "embeddings", SF_SMOKE)
    r2 = kmeans_rounds(emb, rounds=2).collect()
    r4 = kmeans_rounds(emb, rounds=4).collect()
    last2 = sum(r["inertia"] for r in r2 if r["round"] == 2)
    last4 = sum(r["inertia"] for r in r4 if r["round"] == 4)
    assert last4 <= last2 * 1.001
    # the first two rounds of the 4-round run replay the 2-round run exactly
    assert [tuple(r) for r in r4 if r["round"] <= 2] == [tuple(r) for r in r2]
