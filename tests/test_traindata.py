"""Training-data curation additions (q205–q207): oracle parity plus the
semantic properties that make each trustworthy at scale."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.operators.traindata import semdedup
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

NEW = [
    "q205_semdedup",
    "q206_bigram_lm_bits",
    "q207_containment_dedup",
    "q208_kcenter_selection",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q205_twins_dropped_and_originals_kept(spark):
    rows = QUERIES["q205_semdedup"].builder(spark, SF_SMOKE).collect()
    by_id = {r["vec_id"]: r for r in rows}
    twins = [r for r in rows if r["vec_id"] >= 1000000]
    assert twins, "seeded twins missing from the output"
    for t in twins:
        orig = by_id[t["vec_id"] - 1000000]
        # the perturbed twin lands in its original's cluster and, having the
        # higher id, is the one dropped; the original survives
        assert t["cluster"] == orig["cluster"]
        assert t["is_kept"] == 0
        assert orig["is_kept"] == 1
    # every drop decision is cluster-local by construction; kept+dropped
    # partitions the corpus
    assert all(r["is_kept"] in (0, 1) for r in rows)


def test_q205_higher_tau_drops_fewer(spark):
    emb = load_table(spark, "embeddings", SF_SMOKE)
    loose = semdedup(emb, tau_sq_bp=4900).filter("is_kept = 0").count()
    tight = semdedup(emb, tau_sq_bp=9801).filter("is_kept = 0").count()
    assert loose >= 10  # at τ²=0.49 the natural near-pairs join the twins
    assert tight <= loose


def test_q206_bits_lower_bound_and_repetition_monotonicity(spark):
    rows = QUERIES["q206_bigram_lm_bits"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # each bigram's head count >= its bigram count, so every surprisal
        # term is >= 0 bits; a doc with bigrams always has c1 >= c12
        assert r["bits"] >= 0
        assert r["n_bigrams"] >= 0
        # ⌊log2 c1⌋ - ⌊log2 c12⌋ <= 63 bits per bigram by int64 range
        assert r["bits"] <= 63 * max(r["n_bigrams"], 1)


def test_q207_drop_branch_fires_on_natural_containments(spark):
    rows = QUERIES["q207_containment_dedup"].builder(spark, SF_SMOKE).collect()
    dropped = [r for r in rows if r["is_kept"] == 0]
    # the fixture contains natural snippet-containments at every scale
    assert dropped, "containment drop branch did not fire"
    assert len(dropped) < len(rows) / 2, "containment should be the exception"


def test_q208_maxmin_sequence_non_increasing_and_distinct(spark):
    rows = QUERIES["q208_kcenter_selection"].builder(spark, SF_SMOKE).collect()
    assert [r["step"] for r in rows] == list(range(1, 9))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    minds = [r["mind"] for r in rows[1:]]
    # greedy max-min distances can only shrink as the set grows
    assert minds == sorted(minds, reverse=True)
    assert minds[-1] > 0


def test_q207_verified_containment_is_real(spark):
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", SF_SMOKE).collect()
    }
    rows = QUERIES["q207_containment_dedup"].builder(spark, SF_SMOKE).collect()
    for r in rows:
        if r["is_kept"] == 0:
            a = docs[r["doc_id"]]
            assert any(
                a in b
                and (len(b) > len(a) or (len(b) == len(a) and bid < r["doc_id"]))
                for bid, b in docs.items()
                if bid != r["doc_id"]
            ), f"doc {r['doc_id']} dropped without a containing super-doc"


def test_bigram_bits_closed_form_on_constructed_corpus(spark):
    from lance_namespace_impls_spark.operators.traindata import bigram_bits

    docs = spark.createDataFrame(
        [
            (1, "x x x x"),      # only bigram (x,x): c12 == c1 -> 0 bits
            (2, "x x x"),
            (3, "y z"),          # unique bigram: c12=1 (1 bit), head c1=1 (1 bit) -> 0
            (4, "x q"),          # rare bigram under a frequent head: c1=6, c12=1
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_bits(docs).collect()}
    # doc1: 3 bigrams (x,x) with c12=5, c1=6 -> bitlen 3 vs 3 -> 0 bits each
    assert (rows[1]["n_bigrams"], rows[1]["bits"]) == (3, 0)
    assert (rows[2]["n_bigrams"], rows[2]["bits"]) == (2, 0)
    assert (rows[3]["n_bigrams"], rows[3]["bits"]) == (1, 0)
    # doc4: bigram (x,q) c12=1 (bitlen 1), head x c1=6 (bitlen 3) -> 2 bits
    assert (rows[4]["n_bigrams"], rows[4]["bits"]) == (1, 2)
