"""Embedding-space operators (q215 JL projection, q218 IVF-PQ search):
oracle parity lives in test_traindata2/check_query sweeps; here the ANN
semantics — recall vs brute force and pipeline invariants."""

from __future__ import annotations

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.operators.embedding_ops import (
    _IVFPQ_CODES,
    _IVFPQ_K,
)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE


def test_oracle_match_q218(oracle_check):
    result = oracle_check("q218_ivfpq_search")
    assert result["ok"], result


def _brute_topk(spark, k):
    from pyspark.sql import functions as F

    from lance_namespace_impls_spark.functions.vectors import int_projected
    from lance_namespace_impls_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_SMOKE)
    proj = {
        r["vec_id"]: r["v"]
        for r in emb.select(
            "vec_id", int_projected(F.col("embedding")).alias("v")
        ).collect()
    }
    out = {}
    for qid in range(_IVFPQ_CODES):
        qv = proj[qid]
        d = sorted(
            (sum((x - y) ** 2 for x, y in zip(qv, v)), vid)
            for vid, v in proj.items()
            if vid != qid
        )
        out[qid] = [vid for _, vid in d[:k]]
    return out


def test_q218_structure_and_recall_vs_brute_force(spark):
    rows = QUERIES["q218_ivfpq_search"].builder(spark, SF_SMOKE).collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(r)
    assert set(got) == set(range(_IVFPQ_CODES))
    for qid, rs in got.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, _IVFPQ_K + 1))
        # re-rank output is ordered by exact distance
        assert all(
            a["exact_d2"] <= b["exact_d2"] for a, b in zip(rs, rs[1:])
        )
        assert all(r["vec_id"] != qid for r in rs)
    truth = _brute_topk(spark, _IVFPQ_K)
    hits = total = 0
    for qid, rs in got.items():
        found = {r["vec_id"] for r in rs}
        hits += len(found & set(truth[qid]))
        total += _IVFPQ_K
    # nprobe=2 of 4 cells scans ~half the corpus; ADC quantization on top —
    # a weak index on purpose (hash-stability first), so bound recall
    # loosely but meaningfully
    assert hits / total >= 0.5, (hits, total)


def test_q218_adc_is_exact_on_codebook_members(spark):
    """A codebook row's PQ codes are itself (own-slice distance 0), so ADC
    to a codebook candidate must equal the exact distance — the sharp
    wiring check that the LUT join reads the RIGHT codes (the fixture's
    top-5 contains no codebook rows, so constructed geometry forces some:
    seeds 0..7 in pairs 2k,2k+1 close together, perturbed copies around
    each seed)."""
    import random

    from lance_namespace_impls_spark.operators.embedding_ops import ivfpq_search

    rng = random.Random(7)
    rows = []
    seeds = []
    for k in range(8):
        base = [float((k // 2) * 40 + rng.randrange(3)) for _ in range(64)]
        if k % 2 == 1:  # twin of the previous seed, offset slightly
            base = [x + 0.004 for x in seeds[-1]]
        seeds.append(base)
        rows.append((k, base))
    nid = 8
    for k in range(8):
        for _ in range(4):
            rows.append(
                (nid, [x + rng.choice([-0.002, 0.002]) for x in seeds[k]])
            )
            nid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivfpq_search(emb).collect()
    cb = [r for r in out if r["vec_id"] < 8]
    assert cb, "constructed twins must surface codebook rows in the top-5"
    for r in cb:
        assert r["adc_d2"] == r["exact_d2"], r
