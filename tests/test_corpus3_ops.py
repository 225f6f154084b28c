"""Batch-four corpus operators (q196–q198): oracle parity plus the
shape properties that make each one trustworthy at scale."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = ["q196_bpe_merge_pairs", "q197_pq_encode", "q198_bm25_retrieval"]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q196_pairs_are_two_chars(spark):
    rows = QUERIES["q196_bpe_merge_pairs"].builder(spark, SF_SMOKE).collect()
    assert rows and all(len(r["pair"]) == 2 for r in rows)
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)


def test_q197_codes_in_range_and_codebook_self_encodes(spark):
    df = QUERIES["q197_pq_encode"].builder(spark, SF_SMOKE)
    rows = df.collect()
    code_cols = [c for c in df.columns if c.startswith("code_")]
    assert len(code_cols) == 8
    for r in rows:
        for c in code_cols:
            assert 0 <= r[c] < 8
    # a codebook vector's nearest centroid in every subspace is itself
    # (d²=0 beats any tie because the struct encoding breaks ties by code,
    # and code==vec_id for these rows)
    for r in rows:
        if r["vec_id"] < 8:
            assert all(r[c] == r["vec_id"] for c in code_cols), r


def test_q198_scores_positive_and_bounded_terms(spark):
    rows = QUERIES["q198_bm25_retrieval"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["score"] > 0
        assert 1 <= r["terms_matched"] <= 3
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_q198_single_corpus_pass(spark):
    """The four consumers (dl, stats, tf, dfreq) must share ONE corpus
    materialization: the naive formulation scanned documents.parquet four
    times (Catalyst pushes each branch's filter through the aggregate, so
    ReuseExchange never fires); the checkpointed term-frequency frame
    leaves at most one parquet scan in the executed plan."""
    plan = (
        QUERIES["q198_bm25_retrieval"]
        .builder(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") <= 1, plan


def test_q196_pair_expansion_runs_on_vocabulary_not_corpus(spark):
    """The explode(sequence(...)) pair generator must sit ABOVE the word
    aggregate in the plan — i.e. the corpus-sized side is tokenized once
    and pair expansion touches only the vocabulary table."""
    plan = (
        QUERIES["q196_bpe_merge_pairs"]
        .builder(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    gen = plan.index("Generate explode(sequence")
    agg_positions = [i for i in range(len(plan)) if plan.startswith("Aggregate", i)]
    # at least one aggregate (the word count) appears BELOW (after, in
    # top-down plan text) the pair generator
    assert any(i > gen for i in agg_positions), plan


def test_q201_oracle_and_hamming_bound(spark, oracle_check):
    """Portable SimHash: oracle parity plus the radius contract."""
    result = oracle_check("q201_simhash_portable")
    assert result["ok"], result
    rows = QUERIES["q201_simhash_portable"].builder(spark, SF_SMOKE).collect()
    assert rows, "smoke fixture should contain near-dup pairs"
    for r in rows:
        assert 0 <= r["hamming"] <= 3


def test_q203_oracle_and_encoding_contract(spark, oracle_check):
    """Vocab encode: oracle parity plus the id-space contract."""
    result = oracle_check("q203_vocab_encode")
    assert result["ok"], result
    rows = QUERIES["q203_vocab_encode"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_tokens"] >= 1
        assert 0 <= r["n_unk"] <= r["n_tokens"]
        # ids_head is a comma-joined string (the driver's canonicalizer
        # cannot hash array cells — VERDICT r5 What's-wrong #1).
        ids = [int(x) for x in r["ids_head"].split(",")]
        assert len(ids) == min(8, r["n_tokens"])
        for tid in ids:
            assert 0 <= tid <= 1000
