"""Round-7 batch-4 rows (q270–q272): oracle parity plus the defining laws —
kNN ordering, transition conservation, and the nested-banding monotonicity
of the LSH S-curve."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

NEW = ["q270_knn_graph", "q271_retrain_transition", "q272_lsh_tuning_curve"]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q270_neighbor_order_and_bounds(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    by_vec = {}
    for r in rows:
        assert r["d2"] >= 0 and r["neighbor"] != r["vec_id"]
        by_vec.setdefault(r["vec_id"], []).append((r["rank"], r["d2"]))
    for ranks in by_vec.values():
        ranks.sort()
        assert [k for k, _ in ranks] == list(range(1, len(ranks) + 1))  # dense
        d2s = [d for _, d in ranks]
        assert d2s == sorted(d2s)  # rank order IS distance order
        assert len(ranks) <= 3


def test_q271_transitions_conserve_the_corpus(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    n = load_table(spark, "embeddings", SF_SMOKE).count()
    assert sum(r["n_vectors"] for r in rows) == n
    stay = [r for r in rows if r["moved"] == 0]
    move = [r for r in rows if r["moved"] == 1]
    assert stay and move  # both branches live
    assert all(r["old_cell"] == r["new_cell"] for r in stay)
    assert all(r["old_cell"] != r["new_cell"] for r in move)


def test_q272_nested_banding_monotonicity(spark):
    """Banding with b*r = 8 lanes NESTS: all-8 agreement implies both
    4-blocks agree implies all 2-blocks agree — so candidates and recall
    are monotone from 1x8 to 8x1, and precision typically decays."""
    rows = {r["config"]: r for r in QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()}
    order = ["1x8", "2x4", "4x2", "8x1"]
    assert set(rows) == set(order)
    cands = [rows[c]["candidates"] for c in order]
    recalls = [rows[c]["recall_ppm"] for c in order]
    assert cands == sorted(cands)
    assert recalls == sorted(recalls)
    assert all(rows[c]["true_pos"] <= rows[c]["candidates"] for c in order)
    assert all(rows[c]["truth_total"] == rows[order[0]]["truth_total"] for c in order)
    assert rows["8x1"]["recall_ppm"] > 0


def test_q272_builder_schedules_no_driver_jobs(spark):
    """VERDICT r8 #3: the S-curve is ONE DataFrame — building it must not
    run any Spark job (the round-8 version ran 8 .count() actions, 2 per
    banding config, during construction)."""
    sc = spark.sparkContext
    group = "q272-build-audit"
    sc.setJobGroup(group, "q272 builder job audit")
    try:
        df = QUERIES[NEW[2]].builder(spark, SF_SMOKE)
        # The builder may legitimately schedule AQE stage-materialization
        # jobs for its lazy localCheckpoints (callsite withThreadLocalCaptured)
        # and parquet footer reads — but NO action jobs: the round-8 version
        # ran 8 .count() actions (2 per banding config) whose stages carry a
        # 'count at ...' callsite.
        st = sc.statusTracker()
        action_stages = []
        for j in st.getJobIdsForGroup(group):
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si and si.name.split(" at ")[0] in ("count", "collect", "collectToPython"):
                    action_stages.append(si.name)
        assert action_stages == [], (
            f"q272's builder ran driver-side actions during construction: {action_stages}"
        )
        assert len(df.collect()) == 4  # the one deliberate action
    finally:
        sc.setJobGroup("", "")
