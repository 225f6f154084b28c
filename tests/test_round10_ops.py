"""Round-10 rows (q391-q393): oracle parity plus the defining laws —
composite-vs-standalone agreement (q391), append-law falsifiability
(q392), and probe-gated degrade idempotence (q393)."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q391_experiment_readout",
    "q392_ivf_append_maintenance",
    "q393_declared_read_degrade",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q391_matches_the_standalone_family_rows(spark):
    """The composite's CUPED and funnel numbers must equal the standalone
    rows' (q372/q389) — same arm device, same pivot, same cascade — so the
    one-scan rewrite provably changes nothing but the scan count."""
    readout = {
        r["metric"]: r for r in QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    }
    assert len(readout) == 7

    q372 = {
        r["arm"]: r
        for r in QUERIES["q372_cuped_adjusted_readout"].builder(
            spark, SF_SMOKE
        ).collect()
    }
    cuped = readout["3_cuped_adj_milli"]
    assert cuped["a_value"] == q372["A"]["adj_mean_milli"]
    assert cuped["b_value"] == q372["B"]["adj_mean_milli"]
    assert cuped["stat_ppm"] == q372["A"]["theta_ppm"]

    q389 = {
        r["step"]: r
        for r in QUERIES["q389_funnel_by_arm"].builder(spark, SF_SMOKE).collect()
    }
    for step in ("1_signup", "2_view", "3_click", "4_purchase"):
        row = readout[f"4_funnel_{step}"]
        assert row["a_value"] == q389[step]["users_a"]
        assert row["b_value"] == q389[step]["users_b"]
        assert row["stat_ppm"] == q389[step]["delta_ppm"]

    # SRM row: arm totals equal the funnel-independent distinct-user split.
    srm = readout["1_srm_users"]
    assert srm["a_value"] > 0 and srm["b_value"] > 0
    total = srm["a_value"] + srm["b_value"]
    assert srm["stat_ppm"] == 1_000_000 * abs(srm["a_value"] - srm["b_value"]) // total


def test_q391_plan_reads_one_events_scan(spark):
    """The composite's headline claim: ONE events scan.  Every census in
    the returned plan reads the checkpointed base relation (Scan
    ExistingRDD) — the events parquet appears in NO branch of the final
    plan (it is scanned exactly once, when the checkpoint materializes) —
    while each standalone family row plans its own parquet scan."""

    def plan(name):
        return (
            QUERIES[name]
            .builder(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    composite = plan(NEW[0])
    assert composite.count("events.parquet") == 0
    assert "Scan ExistingRDD" in composite
    # q314 carries no checkpoint, so its plan shows the parquet scan the
    # composite's checkpoint replaces (q366/q372/q389 checkpoint their own
    # bases, so their plans also read ExistingRDD and prove nothing here).
    assert plan("q314_ab_srm_census").count("events.parquet") >= 1


def test_q392_law_holds_and_batch_is_live(spark):
    from pyspark.sql import functions as F

    from lance_namespace_impls_spark.operators.indexing import (
        _APP_SPLIT_SPARK,
        _IVFAPP_MOD,
    )
    from lance_namespace_impls_spark.sources.tables import load_table

    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    assert rows, "no cells"
    assert all(r["law_ok"] == 1 for r in rows)
    assert all(r["merged_cnt"] == r["rebuilt_cnt"] for r in rows)
    assert all(r["merged_xor"] == r["rebuilt_xor"] for r in rows)
    # conservation: the incremental side routes EXACTLY the batch, the
    # stored side exactly the base, and merged postings cover the corpus
    emb = load_table(spark, "embeddings", SF_SMOKE)
    n = emb.count()
    n_batch = emb.filter(
        F.expr(f"{_APP_SPLIT_SPARK.replace('vec_id', 'vec_id')} % {_IVFAPP_MOD} = 0")
    ).count()
    assert 0 < n_batch < n  # both sides live
    assert sum(r["delta_cnt"] for r in rows) == n_batch
    assert sum(r["base_cnt"] for r in rows) == n - n_batch
    assert sum(r["merged_cnt"] for r in rows) == n


def test_q392_router_drift_is_detectable(spark):
    """Falsifiability: the law compares two paths whose routers agree BY
    CONSTRUCTION; what it catches is an implementation whose incremental
    path routes under a drifted router.  Injecting a one-seed drift (the
    base row a buggy append path might drop or re-derive) yields a
    DIFFERENT per-cell census than the frozen base router — so law_ok is
    a real comparison, not an identity of the query shape.  (At smoke
    scale the naive 'seed from the full corpus' pollution happens to
    coincide with the base router — kk=7 both, seeds 0..6 all in base —
    which is exactly why the test drifts a seed explicitly.)"""
    from pyspark.sql import functions as F

    from lance_namespace_impls_spark.functions.vectors import int_projected
    from lance_namespace_impls_spark.operators.indexing import (
        _APP_SPLIT_SPARK,
        _IVFAPP_MOD,
    )
    from lance_namespace_impls_spark.operators.traindata import (
        cluster_bounds,
        routed_assignment,
    )
    from lance_namespace_impls_spark.sources.tables import load_table, spread

    emb = load_table(spark, "embeddings", SF_SMOKE)
    proj = spread(emb).select("vec_id", int_projected(F.col("embedding")).alias("v"))
    base = proj.filter(F.expr(f"{_APP_SPLIT_SPARK} % {_IVFAPP_MOD} <> 0"))
    kb = cluster_bounds(base)
    drifted = base.filter(F.col("vec_id") > 0)  # seed 0 gone: router drift

    def census(asg):
        return sorted(
            (r["cluster"], r["n"])
            for r in asg.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    frozen = census(routed_assignment(proj, kb, router_proj=base))
    drift = census(routed_assignment(proj, kb, router_proj=drifted))
    assert frozen != drift


def test_q393_is_idempotent_and_declared_location_is_empty(spark):
    import os

    rows1 = sorted(map(tuple, QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()))
    rows2 = sorted(map(tuple, QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()))
    assert rows1 == rows2  # re-declaring tolerates TableAlreadyExists

    from lance_namespace_impls_spark.catalog import DirectoryNamespace
    from lance_namespace_impls_spark.catalog import models as cm
    import hashlib
    import tempfile

    tag = hashlib.md5(("dvm|" + SF_SMOKE).encode()).hexdigest()[:8]
    scratch = "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
    ns = DirectoryNamespace({"root": os.path.join(scratch, f"lni_dvm_{tag}")})
    desc = ns.describe_table(
        cm.DescribeTableRequest(id=["main", "b_declared_only"], check_declared=True)
    )
    assert desc.is_only_declared is True
    # the declared location holds no committed data files
    loc = desc.location
    files = []
    for dirpath, _, fnames in os.walk(loc):
        files += [f for f in fnames if f.endswith(".parquet")]
    assert files == []
