"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship 5-way star-join revenue query at sf0.001.
``queries()`` returns every declared operator from SURVEY.md §2B, once each,
in registration order; ``oracle_sql()`` returns the DuckDB SQL of the
oracle-backed subset in the same order.  Both read the engine's query
registry (:mod:`lance_namespace_impls_spark.plans.registry`).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

import lance_namespace_impls_spark.operators  # noqa: E402,F401  (registers queries)
from lance_namespace_impls_spark.plans import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: 5-way star-join revenue by region at sf0.001."""
    return registry.QUERIES["q11_multiway_join_revenue"].builder(
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
