"""Portable sketch twins (q221 KMV, q222 Bloom audit): oracle parity plus
the defining sketch guarantees."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = ["q221_kmv_distinct", "q222_bloom_membership_audit"]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q221_estimator_fires_and_is_close(spark):
    rows = QUERIES["q221_kmv_distinct"].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 20  # every source sketched
    fired = [r for r in rows if r["kmv_estimate"] != r["exact_distinct"]]
    # bigram sets are 600+ per source, far above k=64: the estimator path
    # (not the exact passthrough) must be what produced the numbers
    assert len(fired) >= 15, rows
    for r in rows:
        # KMV with k=64 has ~1/sqrt(62) ≈ 13% relative std error; 3 sigma
        err = abs(r["kmv_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert err < 0.4, r


def test_q222_no_false_negatives_and_fp_rate_sane(spark):
    row = QUERIES["q222_bloom_membership_audit"].builder(spark, SF_SMOKE).collect()[0]
    # the Bloom guarantee: every true member hits
    assert row["member_hits"] == row["true_members"] > 0
    # the probe set must genuinely contain non-members for the FP audit
    assert row["non_members"] > 0
    assert 0 <= row["false_positives"] <= row["non_members"]
    # expected FP rate = (lane0 occupancy) * (lane1 occupancy) / m^2; the
    # measured rate should be the same order of magnitude
    exp = (row["lane0_bits_set"] / 1024) * (row["lane1_bits_set"] / 1024)
    measured = row["false_positives"] / row["non_members"]
    assert measured <= min(1.0, 3 * exp + 0.05), (measured, exp)
