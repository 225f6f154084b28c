"""Local oracle harness: run every declared query on Spark AND DuckDB and
compare row-count, column names, and an order-insensitive value hash.

This mirrors the external correctness driver so regressions surface locally
before a round boundary.  Values are canonicalized before hashing:

* floats rounded to 9 significant-ish decimals then repr'd;
* Decimal → float (the registry convention casts money back to DOUBLE, so
  this is belt-and-braces);
* everything else str()'d.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
from pyspark.sql import SparkSession

from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import TABLES


def _canon_value(v: Any) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, int):
        return repr(v)
    return str(v)


def _dtype_kind(dtype_str: str) -> str:
    if dtype_str.startswith(("int", "uint")):
        return "int"
    if dtype_str.startswith("float"):
        return "float"
    if dtype_str.startswith("datetime"):
        return "datetime"
    if dtype_str == "bool":
        return "bool"
    return "object"


def _spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "datetime"
    if isinstance(dt, T.BooleanType):
        return "bool"
    return "object"


_NULL_KIND = {"int": "float", "bool": "object"}


def _canon_rows(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(row[i]) for i in order) for row in rows]
    out.sort()
    return out


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(
    spark: SparkSession, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str
) -> dict:
    # The scale_windows helpers pin their ranged inputs until the result
    # materializes (ADVICE r7); releasing in THIS function's finally makes
    # the per-query release invariant hold for every caller — check_all,
    # the parametrized oracle tests, and ad-hoc sessions alike (ADVICE r8
    # #4).  Both engines' results are fully materialized (collect/fetchall)
    # before return, so nothing re-reads the caches afterwards.
    from lance_namespace_impls_spark.operators.scale_windows import (
        release_ranged_caches,
    )

    try:
        return _check_query_inner(spark, con, name, sf_dir)
    finally:
        release_ranged_caches()


def _check_query_inner(
    spark: SparkSession, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str
) -> dict:
    spec = QUERIES[name]
    sdf = spec.builder(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns
    result: dict[str, Any] = {"name": name, "spark_rows": len(srows)}
    if spec.oracle is None:
        result["status"] = "rows_only"
        result["ok"] = len(srows) >= 0
        return result
    dres = con.execute(spec.oracle)
    dcols = [d[0] for d in dres.description]
    drows = dres.fetchall()
    result["duck_rows"] = len(drows)
    cols_ok = sorted(scols) == sorted(dcols)
    s_canon = _canon_rows(scols, [tuple(r) for r in srows])
    d_canon = _canon_rows(dcols, drows)
    values_ok = s_canon == d_canon
    # Dtype-KIND parity (the r02/r03 driver-red root cause): fetchall()
    # returns DuckDB HUGEINT as exact Python ints, but a pandas-based
    # comparison (the external driver's) sees float64 — so value equality
    # here is not enough; the frame dtypes must agree in kind too.
    dtype_ok = True
    if srows:
        ddf = con.execute(spec.oracle).df()
        d_kinds = {c: _dtype_kind(str(dt)) for c, dt in ddf.dtypes.items()}
        # A column holding NULLs lands in pandas under its null kind
        # (Spark toPandas: int -> float64, bool -> object), so compare the
        # oracle frame against that kind there, not the schema kind.
        s_kinds = {}
        for i, f in enumerate(sdf.schema.fields):
            kind = _spark_kind(f.dataType)
            if any(row[i] is None for row in srows):
                kind = _NULL_KIND.get(kind, kind)
            s_kinds[f.name] = kind
        mismatch = {
            c: (k, d_kinds.get(c))
            for c, k in s_kinds.items()
            if d_kinds.get(c) not in (k, None)
        }
        dtype_ok = not mismatch
        if mismatch:
            result["dtype_mismatch"] = mismatch
    result["cols_ok"] = cols_ok
    result["values_ok"] = values_ok
    result["dtype_ok"] = dtype_ok
    result["ok"] = cols_ok and values_ok and dtype_ok and len(srows) == len(drows)
    if not result["ok"]:
        result["spark_cols"] = scols
        result["duck_cols"] = dcols
        mism = [
            (a, b) for a, b in zip(s_canon[:2000], d_canon[:2000]) if a != b
        ][:3]
        result["first_diffs"] = mism
    return result


def check_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> list[dict]:
    con = duckdb_connection(sf_dir)
    out = []
    for name in names or list(QUERIES):
        try:
            # check_query releases the scale_windows ranged caches in its
            # own finally, so the sweep needs no per-iteration cleanup.
            out.append(check_query(spark, con, name, sf_dir))
        except Exception as exc:  # surface, don't abort the sweep
            out.append({"name": name, "ok": False, "error": f"{type(exc).__name__}: {exc}"})
    return out
