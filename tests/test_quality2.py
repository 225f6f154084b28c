"""Round-7 batch-8 rows (q282–q284): oracle parity plus the defining laws —
the diversity cap genuinely binds, both encoding decisions fire, and the
gate counts exactly the seeded violations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

NEW = [
    "q282_diversified_topk",
    "q283_dict_encoding_plan",
    "q284_embedding_quality_gate",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q282_cap_binds_and_is_respected(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    per_source = {}
    for r in rows:
        assert 1 <= r["srank"] <= 2
        per_source[r["source"]] = per_source.get(r["source"], 0) + 1
    assert max(per_source.values()) <= 2
    # the cap genuinely binds: the UNCAPPED top-20 over-represents a source
    uncapped = (
        load_table(spark, "documents", SF_SMOKE)
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(20)
        .groupBy("source")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert uncapped > 2
    # quality order is non-increasing by grank
    chars = [r["n_chars"] for r in sorted(rows, key=lambda r: r["grank"])]
    assert chars == sorted(chars, reverse=True)


def test_q283_both_decisions_fire(spark):
    rows = {r["col_name"]: r for r in QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()}
    assert rows["event_type"]["use_dict"] == 1  # 5 distinct strings
    assert rows["value"]["use_dict"] == 0  # near-unique doubles
    for r in rows.values():
        assert 1 <= r["ndv"] <= r["n_rows"]
        assert r["plain_bytes"] > 0 and r["dict_bytes"] > 0


def test_q284_gate_counts_exactly_the_seeded_zeros(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    seeded = (
        load_table(spark, "embeddings", SF_SMOKE).filter("vec_id % 100 = 0").count()
    )
    assert sum(r["n_zero"] for r in rows) == seeded > 0
    for r in rows:
        assert r["min_nn_nonzero"] is None or r["min_nn_nonzero"] > 0
        assert r["max_nn"] >= 0
