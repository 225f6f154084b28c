"""Declared-query registry.

Every operator the engine claims (SURVEY.md §2B) registers here as a
``QuerySpec``: a Spark DataFrame builder plus (when SQL-expressible) the
equivalent DuckDB SQL the correctness driver runs side-by-side.

Determinism conventions (SURVEY.md §2B):
* every query ends with a total ORDER BY (hashing is order-insensitive, but
  LIMIT/OFFSET queries need deterministic row selection);
* money aggregates run over ``DECIMAL(18,2)``-cast inputs so Spark and DuckDB
  sum identically regardless of summation order, then ``ROUND(..., 2)`` and
  cast back to DOUBLE so output types align;
* computed integers (year, length, row_number, ...) are cast to BIGINT on
  both sides — Spark and DuckDB disagree on default integer widths.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => non-SQL-expressible (rows-only check)
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator registering a (spark, sf_dir) -> DataFrame builder."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(name=name, builder=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return wrap


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.builder for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}
