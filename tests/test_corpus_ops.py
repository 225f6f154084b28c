"""Property tests for the round-4 corpus batch (operators/corpus.py).

The oracle harness (test_relational-style check_query runs live in
test_analytics and the external driver) covers value parity; these tests pin
the SEMANTIC invariants that a hash match alone would not localize: chunk
coverage/overlap geometry, LSH recall of exact duplicates, representative
membership, decay bounds, and equi-depth balance.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.oracle import duckdb_connection
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

CHUNK, STRIDE = 64, 48


@pytest.fixture(scope="module")
def duck():
    return duckdb_connection(SF_SMOKE)


@pytest.fixture(scope="module")
def docs_pdf(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return df.toPandas()


def _toks(text: str) -> list[str]:
    return text.strip().lower().split()


def test_chunking_covers_every_token_with_correct_overlap(spark, docs_pdf):
    out = QUERIES["q162_doc_chunking"].builder(spark, SF_SMOKE).toPandas()
    by_doc = dict(iter(out.groupby("doc_id")))
    for _, row in docs_pdf.iterrows():
        n = max(len(_toks(row["text"])), 1)
        got = by_doc[row["doc_id"]].sort_values("chunk_id")
        starts = [1 + STRIDE * int(c) for c in got["chunk_id"]]
        lens = list(got["chunk_len"])
        # contiguous ids from 0
        assert list(got["chunk_id"]) == list(range(len(got)))
        # full coverage: last chunk reaches the last token
        assert starts[-1] + lens[-1] - 1 == n
        # every chunk is CHUNK tokens except possibly the last
        assert all(ln == CHUNK for ln in lens[:-1])
        # no chunk is a subset of its predecessor (start clamp)
        if len(starts) > 1:
            assert starts[-1] + lens[-1] - 1 > starts[-2] + CHUNK - 1 or lens[-1] == CHUNK
        # overlap between consecutive chunks is CHUNK - STRIDE
        for s_prev, s_next in zip(starts, starts[1:]):
            assert s_next - s_prev == STRIDE


def test_minhash_signature_recall_on_identical_and_perturbed_texts(spark):
    """Identical texts => identical 8-component signature (so every band
    matches and LSH recall of exact duplicates is 1.0 by construction);
    a one-token edit leaves most components agreeing.  Runs the query's own
    signature expression over synthetic texts (the parquet fixtures carry no
    exact duplicates, so this invariant can't be observed there)."""
    from lance_namespace_impls_spark.operators.corpus import (
        _exploded_shingles,
        _portable_minhash_sig,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    edited = base.replace("lazy", "sleepy")
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited)], ["doc_id", "text"]
    )
    sigs = dict(_portable_minhash_sig(_exploded_shingles(df, 3)).collect())
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert 1 <= agree < 8  # perturbed text: mostly-agreeing, not identical


def test_zip_shingles_equal_hof_shingles(spark):
    """The arrays_zip shingle formulation produces the identical
    (doc_id, shingle) multiset as the word_shingles() higher-order-function
    form it replaced for speed."""
    from lance_namespace_impls_spark.functions.text import tokens, word_shingles
    from lance_namespace_impls_spark.operators.corpus import _exploded_shingles

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    new = _exploded_shingles(docs, 3).select("doc_id", "t")
    old = docs.select(
        "doc_id", F.explode(word_shingles(tokens(F.col("text")), 3)).alias("t")
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_minhash_est_sim_is_matches_over_k(spark):
    out = QUERIES["q161_minhash_portable_lsh"].builder(spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["est_sim"] == out["sig_matches"] / 8.0).all()
    # banding guarantees at least one band (2 consecutive components) agrees
    assert (out["sig_matches"] >= 2).all()


def test_canonical_selection_rep_is_best_quality_member(spark, docs_pdf, duck):
    out = QUERIES["q163_canonical_doc_selection"].builder(spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    # independent recomputation of clusters + the integer quality score
    q = duck.execute(
        "SELECT doc_id, "
        "md5(array_to_string((regexp_split_to_array(lower(trim(text)), '\\s+'))[1:8], ' ')) AS digest, "
        "(10000 * (LEAST(n_chars, 400) * GREATEST(n_chars, 1)"
        " + 400 * len(string_split(text, ' ')))"
        " + 400 * GREATEST(n_chars, 1)) // (800 * GREATEST(n_chars, 1)) AS q10k "
        f"FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).df()
    for _, row in out.iterrows():
        grp = q[q["digest"] == row["digest"]]
        assert len(grp) == row["cluster_size"] >= 2
        best = grp.sort_values(["q10k", "doc_id"], ascending=[False, True]).iloc[0]
        assert best["doc_id"] == row["rep_doc_id"]
        assert int(best["q10k"]) == row["rep_quality_e4"]


def test_time_decay_is_bounded_by_raw_sum(spark, duck):
    out = QUERIES["q164_time_decay_agg"].builder(spark, SF_SMOKE).toPandas()
    raw = duck.execute(
        "SELECT event_type, SUM(CAST(round(value*100) AS BIGINT)) AS cents "
        f"FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY 1"
    ).df()
    merged = out.merge(raw, on="event_type")
    assert len(merged) == len(out) > 0
    assert (merged["decayed_cents"] <= merged["cents"]).all()
    assert (merged["decayed_cents"] >= 0).all()


def test_doclen_histogram_partitions_the_corpus(spark, docs_pdf):
    out = QUERIES["q166_doclen_log_histogram"].builder(spark, SF_SMOKE).toPandas()
    assert out["n_docs"].sum() == len(docs_pdf)
    assert out["chars_total"].sum() == docs_pdf["n_chars"].sum()
    # bucket = bit_length(ntok): min/max token counts must live in-range
    for _, row in out.iterrows():
        b = int(row["log2_bucket"])
        assert 2 ** (b - 1) <= row["min_tokens"] <= row["max_tokens"] < 2**b


def test_equi_depth_buckets_are_balanced_and_ordered(spark, duck):
    out = QUERIES["q167_equi_depth_histogram"].builder(spark, SF_SMOKE).toPandas()
    n_orders = duck.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).fetchone()[0]
    assert list(out["bucket"]) == list(range(1, 11))
    assert out["n_orders"].sum() == n_orders
    assert out["n_orders"].max() - out["n_orders"].min() <= 1  # equi-depth
    # boundaries weakly increase across buckets
    assert (out["lo"] <= out["hi"]).all()
    assert (out["hi"].values[:-1] <= out["lo"].values[1:]).all()


def test_source_overlap_exact_agrees_with_pandas(spark, docs_pdf):
    out = QUERIES["q165_source_overlap_exact"].builder(spark, SF_SMOKE).toPandas()
    import hashlib

    base = docs_pdf.assign(
        dg=[
            hashlib.md5(t.strip().lower().encode()).hexdigest()
            for t in docs_pdf["text"]
        ]
    )
    # the query mirrors every 100th doc's digest into 'seeded_mirror'
    mirror = base[base["doc_id"] % 100 == 0][["dg"]].assign(source="seeded_mirror")
    import pandas as pd

    norm = pd.concat(
        [base[["dg", "source"]], mirror], ignore_index=True
    ).drop_duplicates()
    m = norm.merge(norm, on="dg")
    m = m[m["source_x"] < m["source_y"]]
    want = (
        m.groupby(["source_x", "source_y"]).size().reset_index(name="shared_docs")
    )
    got = out.sort_values(["src_a", "src_b"]).reset_index(drop=True)
    want = want.sort_values(["source_x", "source_y"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["shared_docs"].values == want["shared_docs"].values).all()


@pytest.mark.parametrize(
    "name",
    [n for n in QUERIES if n.startswith(("q161", "q162", "q163", "q164", "q165", "q166", "q167"))],
)
def test_corpus_batch_oracle_green_at_smoke(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_apportionment_quotas_sum_to_budget_exactly(spark):
    """q174: Hamilton apportionment — quotas sum to exactly N and each
    quota is within 1 of the exact proportional share."""
    out = QUERIES["q174_proportional_allocation"].builder(spark, SF_SMOKE).toPandas()
    assert out["quota"].sum() == 1000
    total = out["n_docs"].sum()
    for _, r in out.iterrows():
        exact = 1000 * r["n_docs"] / total
        assert abs(r["quota"] - exact) < 1.0
        assert r["base"] <= r["quota"] <= r["base"] + 1
