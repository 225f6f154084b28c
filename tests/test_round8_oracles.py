"""Oracle parity for every round-8 declared row (q294–q319) at smoke scale —
the same check_query gate the external driver runs, kept in the suite so a
regression to any builder or oracle fails locally before a driver round."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q294_maximal_removal_runs",
    "q295_graph_dedup",
    "q297_gopher_rules_census",
    "q298_ordered_funnel",
    "q299_interarrival_percentiles",
    "q300_cell_radius_audit",
    "q301_charset_hygiene",
    "q302_langid_confusion",
    "q303_copurchase_pairs",
    "q304_revenue_deciles",
    "q305_changelog_compaction",
    "q306_simhash_multitable",
    "q307_linear_attribution",
    "q308_perplexity_tertiles",
    "q309_bloom_sizing_plan",
    "q310_seasonal_anomaly",
    "q311_component_purity",
    "q312_deletion_cascade",
    "q313_incremental_lsh_maintenance",
    "q314_ab_srm_census",
    "q315_sketch_accuracy_census",
    "q316_storage_tiering_plan",
    "q317_selectivity_correlation",
    "q318_clustering_effectiveness",
    "q319_dedup_robustness_matrix",
    "q320_asof_nearest_join",
    "q321_ship_delay_sla",
    "q322_image_phash_neardup",
]
# q296 is rows-only (real streaming runs); its value assertions live in
# tests/test_pyds.py::test_q296_stream_replay_is_idempotent.


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result
