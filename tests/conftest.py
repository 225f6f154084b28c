from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from lance_namespace_impls_spark import get_spark

    spark = get_spark(app_name="lni-tests", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle_check(spark):
    """``check_query`` at SF_SMOKE, run at most once per query per session.

    tests/test_oracle.py checks every oracle-backed query; a topic module's
    own oracle test for the same query reads the same result instead of
    executing both engines again."""
    from lance_namespace_impls_spark.plans.oracle import check_query, duckdb_connection

    duck = duckdb_connection(SF_SMOKE)
    results: dict[str, dict] = {}

    def check(name: str) -> dict:
        if name not in results:
            results[name] = check_query(spark, duck, name, SF_SMOKE)
        return results[name]

    yield check
    duck.close()
