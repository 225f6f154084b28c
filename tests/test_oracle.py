"""Oracle parity for every declared query, plus the driver contract.

``test_oracle_match`` runs each oracle-backed query in ``QUERIES`` once at
smoke scale through ``check_query``: row count, column names, an
order-insensitive value hash and the pandas dtype kind of every column must
agree with DuckDB.  A topic module's own oracle test for a query reads the
same session-cached result (the ``oracle_check`` fixture), so each query is
executed against its oracle once per run.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.oracle import check_query
from lance_namespace_impls_spark.plans.registry import QUERIES, QuerySpec

from tests.conftest import SF_SMOKE

ORACLE_BACKED = [name for name, spec in QUERIES.items() if spec.oracle is not None]


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


@pytest.mark.parametrize(
    ("oracle_type", "ok"), [("BIGINT", True), ("VARCHAR", False)]
)
def test_null_column_kind_is_checked(spark, monkeypatch, oracle_type, ok):
    """An int column with NULLs is float64 in pandas: a BIGINT oracle column
    with NULLs matches it, a VARCHAR one with the same canonical values does
    not."""
    name = "zz_null_kind_probe"
    spec = QuerySpec(
        name=name,
        builder=lambda spark, _sf: spark.createDataFrame([(1,), (None,)], "v BIGINT"),
        oracle=f"SELECT CAST(v AS {oracle_type}) AS v FROM (VALUES (1), (NULL)) t(v)",
    )
    monkeypatch.setitem(QUERIES, name, spec)
    result = check_query(spark, duckdb.connect(), name, SF_SMOKE)
    assert result["values_ok"] and result["cols_ok"]
    assert result["ok"] is ok, result


def test_driver_contract_lists_every_query_once_in_registration_order():
    path = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, osql = mod.queries(), mod.oracle_sql()
    assert list(qs) == list(QUERIES)
    assert list(osql) == ORACLE_BACKED
    assert set(osql) <= set(qs)
