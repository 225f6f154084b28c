"""Order-insensitive result hashes for the pipeline_ops correctness check.

The canonicalisation matches the repository's DuckDB-oracle harness: columns
are ordered by name, floats are rounded to 9 decimals and ``repr``'d, None,
bools and ints get fixed spellings, and the canonical rows are sorted before
hashing.  Kept in the benchmark's own files so a change to the program cannot
change what the benchmark checks.

Run as a script to regenerate ``oracle_hashes.json`` from the DuckDB oracle
SQL declared for each query, over the fixed pipeline corpus::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import tempfile
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
HASHES_PATH = os.path.join(HERE, "oracle_hashes.json")

# DuckDB 1.0 evaluates a CTE again at every reference, and q99's recursive
# step references its all-pairs edge CTE once per iteration.  Marking that
# CTE MATERIALIZED computes it once; the result is the same (equal hashes
# with and without the hint on a 300-document corpus).
MATERIALIZE = {"q99_neardup_components": (" e AS (SELECT", " e AS MATERIALIZED (SELECT")}


def _canon_value(v: Any) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, int):
        return repr(v)
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_canon_value(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for row in canon:
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return f"{len(rows)}:{h.hexdigest()}"


def load_hashes() -> dict[str, dict[str, str]]:
    with open(HASHES_PATH) as f:
        return json.load(f)


def _duckdb_hashes(corpus_dir: str, names: list[str]) -> dict[str, str]:
    import duckdb

    from lance_namespace_impls_spark.plans.registry import QUERIES

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
        )
    out = {}
    for name in names:
        sql = QUERIES[name].oracle
        if name in MATERIALIZE:
            sql = sql.replace(*MATERIALIZE[name])
            assert sql != QUERIES[name].oracle, f"{name}: oracle SQL changed, update MATERIALIZE"
        res = con.execute(sql)
        out[name] = result_hash([d[0] for d in res.description], res.fetchall())
    return out


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import datagen
    import wl_pipeline

    import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)

    hashes = {}
    for size in wl_pipeline.SIZES:
        with tempfile.TemporaryDirectory(dir=root) as tmp:
            corpus = datagen.write_corpus(tmp, *wl_pipeline.corpus_args(size))
            hashes[size] = _duckdb_hashes(corpus, list(wl_pipeline.QUERY_NAMES))
    with open(HASHES_PATH, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(hashes, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
