"""Regression tests for the round-2/3 driver-red grouped-Python trio.

The q00* driver-divergence diagnostic twins that localized the fault (a
DuckDB HUGEINT->float64 dtype artifact in the driver's hash, fixed by
CAST-AS-BIGINT on every integer-SUM oracle output) served their purpose and
were retired after CORRECTNESS_r04.json confirmed all five green.  What
stays is the trio itself: oracle parity at smoke scale and Arrow-chunking
invariance, the two properties whose absence caused the two-round red.
"""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)

from tests.conftest import SF_SMOKE

HARDENED = [
    "q66_pandas_udaf",
    "q68_apply_in_pandas",
    "q87_stateful_custom_op",
]


@pytest.mark.parametrize("name", HARDENED)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


@pytest.mark.parametrize("name", HARDENED)
def test_arrow_batch_size_invariance(spark, name):
    """The grouped-Python kernels must be invariant to Arrow chunking: a
    driver venv with a different spark.sql.execution.arrow.maxRecordsPerBatch
    feeds the same groups in different chunk shapes (applyInPandasWithState
    iterates per-chunk; UDAF/grouped-map concatenate), and the r03 driver-red
    trio's values must not move.  Forcing 7-row batches exercises the
    many-chunks path the defaults never hit."""
    from lance_namespace_impls_spark.plans.registry import QUERIES

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    baseline = QUERIES[name].builder(spark, SF_SMOKE).collect()
    spark.conf.set(conf, "7")
    try:
        chunked = QUERIES[name].builder(spark, SF_SMOKE).collect()
    finally:
        spark.conf.set(conf, old)
    assert chunked == baseline, f"{name}: result depends on Arrow batch size"
