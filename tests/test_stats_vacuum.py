"""Catalog stats plane (compute → sidecar → CBO seed → join-strategy flip)
and warehouse vacuum (orphan reconciliation after deregister)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lance_namespace_impls_spark.catalog import models as m
from lance_namespace_impls_spark.catalog.bridge import (
    publish_namespace,
    unpublish_namespace,
)
from lance_namespace_impls_spark.catalog.directory import DirectoryNamespace
from lance_namespace_impls_spark.catalog.stats import (
    STATS_PROP,
    compute_stats,
    load_table_stats,
    seed_session_stats,
    store_table_stats,
)

from tests.conftest import SF_SMOKE


@pytest.fixture()
def warehouse(spark, tmp_path):
    ns = DirectoryNamespace({"root": str(tmp_path / "wh")})
    ns.create_namespace(m.CreateNamespaceRequest(id=["main"]))
    for t in ("region", "orders"):
        loc = str(tmp_path / "wh" / "main" / f"{t}.lance")
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").write.parquet(loc)
        ns.declare_table(m.DeclareTableRequest(id=["main", t], location=loc))
    return ns


def test_compute_store_load_roundtrip(spark, warehouse):
    df = warehouse.read_table(spark, ["main", "region"])
    desc = warehouse.describe_table(m.DescribeTableRequest(id=["main", "region"]))
    stats = compute_stats(df, location=desc.location)
    assert stats["rows"] == 5
    assert stats["size_bytes"] > 0
    rk = stats["columns"]["r_regionkey"]
    assert rk["nulls"] == 0 and rk["min"] == 0 and rk["max"] == 4
    # HLL estimate on 5 distinct keys is exact
    assert rk["ndv"] == 5

    store_table_stats(warehouse, ["main", "region"], stats)
    back = load_table_stats(warehouse, ["main", "region"])
    assert back == stats
    # sidecar survives a fresh backend instance over the same root
    ns2 = DirectoryNamespace({"root": warehouse._root})
    assert load_table_stats(ns2, ["main", "region"]) == stats


def test_sidecar_stats_flip_join_strategy(spark, warehouse):
    """Seeded sidecar stats must drive the broadcast decision with no hints:
    small claimed size → BroadcastHashJoin; huge claimed size → no broadcast
    of that side."""
    db = "lni_stats_db"
    publish_namespace(spark, warehouse, ["main"], db)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(1024 * 1024))
        join_sql = (
            f"SELECT o.o_orderkey FROM {db}.orders o "
            f"JOIN {db}.region r ON o.o_orderkey % 5 = r.r_regionkey"
        )

        # claim BOTH sides are huge -> no broadcast anywhere
        fake_big = {"rows": 50_000_000, "size_bytes": 50 * 1024**3, "columns": {}}
        seed_session_stats(spark, f"{db}.region", fake_big)
        seed_session_stats(spark, f"{db}.orders", fake_big)
        plan_big = spark.sql(join_sql)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_big, plan_big[:1500]

        # honest region stats from the sidecar -> tiny -> broadcast returns,
        # with zero hints (orders still claims huge, so region is the build)
        df = warehouse.read_table(spark, ["main", "region"])
        desc = warehouse.describe_table(m.DescribeTableRequest(id=["main", "region"]))
        stats = compute_stats(df, location=desc.location)
        store_table_stats(warehouse, ["main", "region"], stats)
        seed_session_stats(
            spark, f"{db}.region", load_table_stats(warehouse, ["main", "region"])
        )
        plan_small = spark.sql(join_sql)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_small, plan_small[:1500]
        # the broadcast (build) side must be region, not orders
        exch = plan_small.split("BroadcastExchange", 1)[1]
        assert ".region" in exch.split("+- Filter", 2)[1] or ".region" in exch, (
            plan_small[:1500]
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        unpublish_namespace(spark, db)


def test_vacuum_removes_only_orphans(spark, warehouse):
    root = warehouse._root
    # deregister keeps bytes on disk by contract -> orphan
    warehouse.deregister_table(m.DeregisterTableRequest(id=["main", "orders"]))
    orphan = os.path.join(root, "main", "orders.lance")
    assert os.path.isdir(orphan)

    # a failed create (register-then-write) in reverse: stray payload with
    # no catalog entry
    stray = os.path.join(root, "main", "stray.lance")
    os.makedirs(stray)
    with open(os.path.join(stray, "part-0.parquet"), "wb") as f:
        f.write(b"junk")

    listed = warehouse.vacuum(dry_run=True)
    assert sorted(listed) == sorted([orphan, stray])
    assert os.path.isdir(orphan) and os.path.isdir(stray)  # dry run touches nothing

    removed = warehouse.vacuum()
    assert sorted(removed) == sorted([orphan, stray])
    assert not os.path.exists(orphan) and not os.path.exists(stray)

    # the registered table survived and still reads
    assert warehouse.read_table(spark, ["main", "region"]).count() == 5
    # vacuum is idempotent
    assert warehouse.vacuum() == []


def test_update_table_properties_merge_and_unset(warehouse):
    props = warehouse.update_table_properties(
        ["main", "region"], {"owner": "curation", "tier": "gold"}
    )
    assert props["owner"] == "curation"
    props = warehouse.update_table_properties(
        ["main", "region"], {"tier": "silver"}, removals=("owner",)
    )
    assert props["tier"] == "silver" and "owner" not in props
    desc = warehouse.describe_table(m.DescribeTableRequest(id=["main", "region"]))
    assert desc.properties["tier"] == "silver"
    assert STATS_PROP not in desc.properties


def test_vacuum_walks_and_deletes_under_state_lock(warehouse, monkeypatch):
    """Regression (ADVICE.md r3): the orphan walk + delete must run under the
    namespace state lock — with the referenced-set snapshot taken outside it,
    a create_table that registers after the snapshot had its in-flight
    payload classified as an orphan and destroyed.  White-box: os.walk called
    from vacuum() must observe the lock already held (so any concurrent
    create_table blocks until the walk+delete completes)."""
    import os as os_mod

    observed = []
    real_walk = os_mod.walk

    def walk_spy(top, *args, **kwargs):
        # non-blocking acquire fails iff vacuum() already holds the lock
        acquired = warehouse._store.lock.acquire(blocking=False)
        if acquired:
            warehouse._store.lock.release()
        observed.append(not acquired)
        return real_walk(top, *args, **kwargs)

    monkeypatch.setattr(
        "lance_namespace_impls_spark.catalog.directory.os.walk", walk_spy
    )
    warehouse.vacuum(dry_run=True)
    assert observed == [True], "vacuum must hold its state lock across the walk"
