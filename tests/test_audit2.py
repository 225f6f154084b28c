"""Round-7 batch-7 rows (q279–q281): oracle parity plus the defining laws —
leakage branches, peak-vs-rate bound, and CM linearity on every bucket."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q279_cross_split_leakage",
    "q280_stream_state_sizing",
    "q281_countmin_merge_law",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q279_census_consistent(spark):
    row = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()[0]
    assert (
        row["n_cross"] + row["n_within_train"] + row["n_within_test"]
        == row["n_edges"]
        > 0
    )
    assert 0 <= row["cross_ppm"] <= 1_000_000


def test_q280_peak_bounds_rate(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        # the peak 1h window holds at least the mean hourly volume's worth
        # of one minute, and never more than the whole stream
        assert 1 <= r["peak_rows_1h"] <= r["total_events"]
        assert r["rate_x1000_per_min"] >= 0
        # peak must dominate the mean rate over the window length
        assert r["peak_rows_1h"] * 1000 >= r["rate_x1000_per_min"]


def test_q281_linearity_on_every_bucket(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    assert all(r["law_holds"] == 1 for r in rows)
    assert all(r["one_pass_count"] == r["merged_count"] for r in rows)
    assert {r["lane"] for r in rows} == {0, 1}
