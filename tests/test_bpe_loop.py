"""q226 BPE training loop: oracle parity + the algorithm's invariants."""

from __future__ import annotations

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.operators.bpe_loop import bpe_train_rounds
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE


def test_oracle_match_q226(oracle_check):
    result = oracle_check("q226_bpe_train_rounds")
    assert result["ok"], result


def test_q226_merge_trajectory_invariants(spark):
    rows = QUERIES["q226_bpe_train_rounds"].builder(spark, SF_SMOKE).collect()
    assert [r["round"] for r in rows] == [1, 2, 3]
    pairs = [r["merged_pair"] for r in rows]
    assert len(set(pairs)) == 3  # a pair, once merged, cannot recur
    for r in rows:
        # pair syntax: two bracketed symbols
        assert r["merged_pair"].count("<") == 2 and " " in r["merged_pair"]
        assert r["freq"] > 0
    # every merge strictly shrinks the corpus symbol count, by at most
    # freq symbols (greedy non-overlapping application merges <= census freq)
    prev = None
    for r in rows:
        if prev is not None:
            shrink = prev - r["corpus_symbols_after"]
            assert 0 < shrink <= rows[[x["round"] for x in rows].index(r["round"])]["freq"]
        prev = r["corpus_symbols_after"]


def test_q226_known_corpus_learns_the_obvious_merge(spark):
    docs = spark.createDataFrame(
        [(1, "hello hello hello world"), (2, "hello help")],
        "doc_id long, text string",
    )
    rows = bpe_train_rounds(docs, rounds=1).collect()
    # 'hel' words dominate: the top pair must come from them, and with
    # ties broken lexicographically the winner is deterministic
    assert rows[0]["merged_pair"] in {"<h> <e>", "<e> <l>", "<l> <l>", "<l> <o>"}
    assert rows[0]["freq"] >= 4
