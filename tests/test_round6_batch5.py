"""Round-6 batch-5 rows (q234–q239): oracle parity plus each operator's
defining guarantee — estimator-vs-truth coherence, compression spread,
retention monotonicity, transition-row normalization, pruning soundness,
and compaction-plan consistency."""

from __future__ import annotations

from collections import defaultdict

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q234_minhash_accuracy_audit",
    "q235_postings_compression",
    "q236_retention_cohorts",
    "q237_event_transitions",
    "q238_zonemap_pruning",
    "q239_compaction_planning",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q234_estimator_coheres_with_truth(spark):
    rows = QUERIES["q234_minhash_accuracy_audit"].builder(spark, SF_SMOKE).collect()
    assert rows, "banding produced no candidate pairs"
    assert any(r["jaccard_ppm"] >= 800_000 for r in rows)  # true dups surface
    for r in rows:
        assert 0 <= r["sig_matches"] <= 8
        assert r["est_ppm"] == r["sig_matches"] * 125_000
        assert r["union_size"] >= r["inter_size"] >= 0
        # 8 lanes at J>=0.9: P(agreement < 4) is negligible — a violation
        # means the signature and the exact verify disagree structurally
        if r["jaccard_ppm"] >= 900_000:
            assert r["sig_matches"] >= 4, r


def test_q235_compression_wins_and_spreads(spark):
    rows = QUERIES["q235_postings_compression"].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 100
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)  # heaviest lists first
    for r in rows:
        assert r["raw_bits"] == 64 * r["df"]
        assert 0 < r["delta_bits"] < r["raw_bits"]  # gamma always beats raw here
    ratios = [r["ratio_ppm"] for r in rows]
    # dense lists (gap≈1) approach 1 bit/posting; the spread must be real
    assert min(ratios) < 100_000 and max(ratios) > min(ratios)


def test_q236_retention_monotone_per_cohort(spark):
    rows = QUERIES["q236_retention_cohorts"].builder(spark, SF_SMOKE).collect()
    assert len({r["cohort_week"] for r in rows}) >= 2  # cohort axis non-degenerate
    base = {}
    for r in rows:
        assert r["week_offset"] >= 0
        if r["week_offset"] == 0:
            base[r["cohort_week"]] = r["active_users"]
    for r in rows:
        # nobody can be retained who never entered the cohort
        assert r["active_users"] <= base[r["cohort_week"]], r


def test_q237_rows_normalize(spark):
    rows = QUERIES["q237_event_transitions"].builder(spark, SF_SMOKE).collect()
    assert rows
    by_from = defaultdict(int)
    for r in rows:
        assert r["n"] > 0
        by_from[r["from_type"]] += r["row_ppm"]
    for ft, total in by_from.items():
        # integer DIV truncation loses < (fan-out) ppm per row
        assert 1_000_000 - len(rows) <= total <= 1_000_000, (ft, total)


def test_q238_pruning_is_sound_and_fires(spark):
    rows = QUERIES["q238_zonemap_pruning"].builder(spark, SF_SMOKE).collect()
    pruned = [r for r in rows if r["scan_needed"] == 0]
    scanned = [r for r in rows if r["scan_needed"] == 1]
    assert pruned and scanned  # both branches at every SF
    assert all(r["rows_matched"] == 0 for r in pruned)  # skipping is sound
    assert sum(r["rows_matched"] for r in scanned) > 0


def test_q239_plan_is_consistent(spark):
    rows = QUERIES["q239_compaction_planning"].builder(spark, SF_SMOKE).collect()
    assert rows
    cum = 0
    prev_group = 0
    for r in rows:
        assert r["cum_before"] == cum
        cum += r["live_rows"]
        assert r["target_group"] >= prev_group  # groups follow fragment order
        prev_group = r["target_group"]
    assert rows[-1]["target_group"] >= 1  # packing actually coalesces
