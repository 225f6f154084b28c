"""Seeded input generation for the benchmark workloads.

Two input families, both written as parquet with pyarrow:

* ``write_star_tables`` -- the five small dimension tables of the sf0.01
  star schema (region, nation, supplier, part, customer), one directory per
  table holding a single ``part-00000.parquet``; ``sql_resolve`` registers
  catalog tables at these directories.
* ``write_corpus`` -- the ``documents`` and ``embeddings`` tables the LLM
  pipeline queries read (``<dir>/<table>.parquet``, the layout
  ``sources.tables.load_table`` expects).  Text is drawn from the same
  30-word vocabulary as the test fixtures, with 5% near-duplicates (an
  earlier document plus a trailing ``dup`` token); embeddings are unit-norm
  64-d float32 vectors with one of ten labels.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data row column table key value part line customer order query "
    "join hash sort merge filter scan group agg window stream batch spark "
    "vector big small fast slow"
).split()
LANGS = ("en", "en", "zh", "es", "fr", "de")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_WORDS = ("small", "red", "blue", "large", "ring", "widget", "bolt", "gear")
PART_TYPES = ("ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO")

# Row counts of the sf0.01 dimension tables.
STAR_ROWS = {"region": 5, "nation": 25, "supplier": 100, "part": 2000, "customer": 1500}

# (key column, value column) each sql_resolve query projects and filters on.
STAR_COLUMNS = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name"),
    "supplier": ("s_suppkey", "s_acctbal"),
    "part": ("p_partkey", "p_retailprice"),
    "customer": ("c_custkey", "c_acctbal"),
}


def _star_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = STAR_ROWS
    supp = np.arange(n["supplier"], dtype=np.int64)
    part = np.arange(n["part"], dtype=np.int64)
    cust = np.arange(n["customer"], dtype=np.int64)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(n["region"]), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(n["nation"])],
                "n_regionkey": pa.array(
                    rng.integers(0, n["region"], n["nation"]), pa.int32()
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": [f"Supplier#{i:09d}" for i in supp],
                "s_nationkey": pa.array(
                    rng.integers(0, n["nation"], len(supp)), pa.int32()
                ),
                "s_acctbal": np.round(rng.uniform(-999, 9999, len(supp)), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": [
                    f"{PART_WORDS[a]} {PART_WORDS[b]}"
                    for a, b in rng.integers(0, len(PART_WORDS), (len(part), 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(part))],
                "p_type": [PART_TYPES[t] for t in rng.integers(0, 5, len(part))],
                "p_size": pa.array(rng.integers(1, 51, len(part)), pa.int32()),
                "p_retailprice": np.round(900 + part * 0.1, 2),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": [f"Customer#{i:09d}" for i in cust],
                "c_nationkey": pa.array(
                    rng.integers(0, n["nation"], len(cust)), pa.int32()
                ),
                "c_acctbal": np.round(rng.uniform(-999, 9999, len(cust)), 2),
                "c_mktsegment": [SEGMENTS[s] for s in rng.integers(0, 5, len(cust))],
            }
        ),
    }


def write_star_tables(out_dir: str, seed: int) -> dict[str, str]:
    """Write the five dimension tables; return ``{table: directory}``."""
    dirs = {}
    for name, table in _star_tables(np.random.default_rng(seed)).items():
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        dirs[name] = d
    return dirs


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    r = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and r.random() < 0.05:
            texts.append(texts[r.randrange(i)] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB) for _ in range(r.randint(20, 90))))
    documents = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [r.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(seed, n_docs, n_vecs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
