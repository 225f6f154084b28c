"""Round-4 batch-three corpus operators (operators/corpus2.py).

Each query gets its DuckDB oracle run at smoke scale plus the semantic
invariants a hash match alone would not localize: score bounds, quota
accounting, dup-census consistency, and JVM-equivalence of the Arrow
kernels.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

BATCH = [
    "q175_rare_token_score",
    "q176_temperature_mixture",
    "q177_repeated_span_census",
    "q178_map_in_arrow_census",
    "q179_apply_in_arrow_profile",
    "q180_collocation_lift",
]


@pytest.mark.parametrize("name", BATCH)
def test_oracle_parity_smoke(oracle_check, name):
    res = oracle_check(name)
    assert res["ok"], res


def test_rare_token_score_bounds(spark):
    out = QUERIES["q175_rare_token_score"].builder(spark, SF_SMOKE).toPandas()
    # every token's corpus frequency is >= 1, so the ppm-scaled mean is >= 1e6
    assert (out["mean_cf_ppm"] >= 1_000_000).all()
    assert (out["n_tokens"] > 0).all()
    # one row per document
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert len(out) == docs.count()


def test_temperature_mixture_quota_accounting(spark):
    out = QUERIES["q176_temperature_mixture"].builder(spark, SF_SMOKE).toPandas()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    total = len(docs)
    # the materialized draw spends the whole budget, exactly
    assert len(out) == total // 4
    # per-source draw is a rank prefix (1..k_s, contiguous)
    for _, grp in out.groupby("source"):
        ks = sorted(grp["rk"])
        assert ks == list(range(1, len(ks) + 1))
    # temperature flattens the mixture: no source drops to zero, and the
    # most-upsampled source's share grows vs its raw share
    raw = docs.groupby("source").size()
    assert set(raw.index) == set(out["source"].unique())


def test_repeated_span_census_consistency(spark):
    out = QUERIES["q177_repeated_span_census"].builder(spark, SF_SMOKE).toPandas()
    assert (out["n_dup"] <= out["n_spans"]).all()
    assert (out["dup_ppm"] <= 1_000_000).all()
    # exact-duplicate documents (same text, >= 5 tokens) must census as
    # fully duplicated — every span occurs in the twin
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    docs["ntok"] = docs["text"].str.strip().str.lower().str.split().str.len()
    dup_texts = docs[docs.duplicated("text", keep=False) & (docs["ntok"] >= 5)]
    by_id = out.set_index("doc_id")
    for doc_id in dup_texts["doc_id"]:
        assert by_id.loc[doc_id, "dup_ppm"] == 1_000_000


def test_map_in_arrow_census_matches_jvm(spark):
    out = QUERIES["q178_map_in_arrow_census"].builder(spark, SF_SMOKE)
    jvm = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(
            "doc_id",
            F.octet_length("text").cast("long").alias("n_bytes"),
            F.length("text").cast("long").alias("n_chars"),
            F.expr("CAST(regexp_count(text, '[aeiou]') AS BIGINT)").alias("n_vowels"),
        )
        .orderBy("doc_id")
    )
    assert out.collect() == jvm.collect()


def test_apply_in_arrow_profile_matches_jvm(spark):
    out = QUERIES["q179_apply_in_arrow_profile"].builder(spark, SF_SMOKE)
    jvm = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            F.max(F.length("text")).cast("long").alias("max_chars"),
        )
        .orderBy("source")
    )
    assert out.collect() == jvm.collect()


def test_collocation_lift_support_floor(spark):
    out = QUERIES["q180_collocation_lift"].builder(spark, SF_SMOKE).toPandas()
    assert len(out) <= 100
    assert (out["c_xy"] >= 5).all()
    assert (out["lift_ppm"] > 0).all()
    # ordering: lift descending with deterministic tie-break
    assert list(out["lift_ppm"]) == sorted(out["lift_ppm"], reverse=True)
