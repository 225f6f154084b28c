"""Batch-eleven operators (q254–q255): oracle parity plus the invariants
that make each report trustworthy."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = ["q254_fk_integrity_audit", "q255_last_touch_attribution"]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q254_both_branches_fire(spark):
    rows = {r["relation"]: r for r in
            QUERIES["q254_fk_integrity_audit"].builder(spark, SF_SMOKE).collect()}
    assert len(rows) == 4
    # the live fixture relations are consistent — the clean branch
    for rel in ("orders.o_custkey->customer", "lineitem.l_suppkey->supplier",
                "events.user_id->customer"):
        assert rows[rel]["orphan_rows"] == 0 and rows[rel]["orphan_keys"] == 0
    # the post-delete snapshot audit must observe orphans — the dirty branch
    dirty = rows["lineitem.l_partkey->part(post-delete)"]
    assert dirty["orphan_rows"] > 0 and dirty["orphan_keys"] > 0
    for r in rows.values():
        assert r["orphan_keys"] <= r["distinct_keys"]
        assert r["orphan_rows"] <= r["fact_rows"]


def test_q255_conserves_purchases(spark):
    rows = QUERIES["q255_last_touch_attribution"].builder(spark, SF_SMOKE).collect()
    assert rows
    attributed = sum(r["n_purchases"] for r in rows)
    from lance_namespace_impls_spark.sources.tables import load_table

    purchases = (
        load_table(spark, "events", SF_SMOKE)
        .filter("event_type = 'purchase'")
        .count()
    )
    # every purchase is attributed to exactly one channel (incl. 'direct')
    assert attributed == purchases
    channels = {r["touch"] for r in rows}
    assert "purchase" not in channels  # a purchase never credits itself
