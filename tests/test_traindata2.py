"""Selection & mixing additions (q210–q214): oracle parity plus the
semantic properties that make each operator trustworthy."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q210_dsir_importance",
    "q211_calibration_sweep",
    "q212_domain_mixture",
    "q213_sequence_packing",
    "q214_heaps_growth",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q210_target_lang_scores_higher_on_average(spark):
    rows = QUERIES["q210_dsir_importance"].builder(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    by_lang: dict[str, list[float]] = {}
    for r in rows:
        # normalize by length so doc size doesn't dominate the comparison
        by_lang.setdefault(r["lang"], []).append(r["dsir_mu"] / max(r["n_tokens"], 1))
    mean = {k: sum(v) / len(v) for k, v in by_lang.items()}
    # the target slice must out-score every non-target language under its
    # own importance model — the defining DSIR property
    for lang, m in mean.items():
        if lang != "en":
            assert mean["en"] > m, (lang, mean)


def test_q211_confusion_counts_are_consistent(spark):
    rows = QUERIES["q211_calibration_sweep"].builder(spark, SF_SMOKE).collect()
    assert rows
    tpos = rows[0]["tp"] + rows[0]["fn"]
    tneg = rows[0]["fp"] + rows[0]["tn"]
    prev_tp, prev_fp = 0, 0
    for r in rows:  # descending threshold: tp and fp are non-decreasing
        assert r["tp"] + r["fn"] == tpos
        assert r["fp"] + r["tn"] == tneg
        assert r["tp"] >= prev_tp and r["fp"] >= prev_fp
        prev_tp, prev_fp = r["tp"], r["fp"]
    # the loosest threshold keeps everything
    assert rows[-1]["fn"] == 0 and rows[-1]["tn"] == 0


def test_q212_excess_is_zero_for_at_least_one_domain(spark):
    rows = QUERIES["q212_domain_mixture"].builder(spark, SF_SMOKE).collect()
    assert rows
    # excess is measured against the global mean, so at least one domain
    # sits at or below baseline (excess 0) and not all can be above it
    assert any(r["excess_per_mbigram"] == 0 for r in rows)
    for r in rows:
        assert r["excess_per_mbigram"] >= 0
        assert r["bits_per_mbigram"] > 0


def test_q213_packing_is_gapless_within_each_stream(spark):
    rows = QUERIES["q213_sequence_packing"].builder(spark, SF_SMOKE).collect()
    streams: dict[tuple, list] = {}
    for r in rows:
        streams.setdefault((r["source"], r["shard"]), []).append(r)
    assert len(streams) > 1
    for key, docs in streams.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in docs:  # head-to-tail: each doc starts where the last ended
            assert r["seq_id"] * 2048 + r["seq_offset"] == cum, (key, r)
            cum += r["n_tokens"]


def test_q214_growth_curve_is_monotone_and_complete(spark):
    rows = QUERIES["q214_heaps_growth"].builder(spark, SF_SMOKE).collect()
    assert [r["bucket"] for r in rows] == sorted(r["bucket"] for r in rows)
    assert all(r["new_vocab"] >= 0 for r in rows)
    assert rows[0]["cum_vocab"] == rows[0]["new_vocab"]
    for a, b in zip(rows, rows[1:]):
        assert b["cum_vocab"] >= a["cum_vocab"]
        assert b["cum_tokens"] > a["cum_tokens"]
    # sublinear growth: the first prefix discovers more new types per token
    # than the last (Heaps' law direction)
    first_rate = rows[0]["new_vocab"] / rows[0]["bucket_tokens"]
    last_rate = rows[-1]["new_vocab"] / rows[-1]["bucket_tokens"]
    assert first_rate > last_rate


NEW2 = [
    "q215_jl_projection",
    "q216_vocab_coverage",
    "q217_gate_agreement",
]


@pytest.mark.parametrize("name", NEW2)
def test_oracle_match_batch2(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q215_projection_preserves_distance_ordering(spark):
    import itertools
    import math

    from lance_namespace_impls_spark.functions.vectors import int_projected
    from lance_namespace_impls_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", SF_SMOKE).limit(40)
    orig = {
        r["vec_id"]: r["v"]
        for r in emb.select(
            "vec_id", int_projected(F.col("embedding")).alias("v")
        ).collect()
    }
    proj_rows = QUERIES["q215_jl_projection"].builder(spark, SF_SMOKE).collect()
    proj: dict[int, list[int]] = {}
    for r in proj_rows:
        proj.setdefault(r["vec_id"], []).append((r["j"], r["proj"]))
    pv = {k: [p for _, p in sorted(v)] for k, v in proj.items() if k in orig}

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    pairs = list(itertools.combinations(sorted(orig), 2))[:300]
    d_orig = [dist(orig[a], orig[b]) for a, b in pairs]
    d_proj = [dist(pv[a], pv[b]) for a, b in pairs]
    # Rademacher JL: E[|proj(a)-proj(b)|^2] = k * |a-b|^2 with k=16 output
    # dims — the aggregate ratio must sit near 16
    ratio = sum(d * d for d in d_proj) / sum(d * d for d in d_orig)
    assert 10.0 < ratio < 22.0, ratio
    # per-pair ordering: random 64-d vectors are near-equidistant (distance
    # concentration), so the per-pair correlation is weak-positive by
    # nature; require it clearly above zero rather than tight
    n = len(pairs)
    mo, mp = sum(d_orig) / n, sum(d_proj) / n
    cov = sum((x - mo) * (y - mp) for x, y in zip(d_orig, d_proj))
    so = math.sqrt(sum((x - mo) ** 2 for x in d_orig))
    sp = math.sqrt(sum((y - mp) ** 2 for y in d_proj))
    assert cov / (so * sp) > 0.2


def test_q216_coverage_monotone_in_vocab_size(spark):
    rows = QUERIES["q216_vocab_coverage"].builder(spark, SF_SMOKE).collect()
    assert [r["vocab_size"] for r in rows] == [100, 300, 1000, 3000]
    total = rows[0]["total_tokens"]
    prev = -1
    for r in rows:
        assert r["total_tokens"] == total
        assert prev <= r["covered"] <= total
        assert 0 <= r["oov_per_m"] <= 1_000_000
        prev = r["covered"]
    # the fixture vocabulary is small: a 3000-type budget must cover it all
    assert rows[-1]["covered"] == total and rows[-1]["oov_per_m"] == 0


def test_q217_confusion_is_mixed_and_kappa_bounded(spark):
    row = QUERIES["q217_gate_agreement"].builder(spark, SF_SMOKE).collect()[0]
    assert row["a"] + row["b"] + row["c"] + row["d"] == row["n"] > 0
    # the corpus-relative LM cut guarantees both gates fire both ways
    assert row["a"] + row["b"] > 0 and row["c"] + row["d"] > 0
    assert row["a"] + row["c"] > 0 and row["b"] + row["d"] > 0
    kappa = row["kappa_num_m"] / (1_000_000 * row["kappa_den"])
    assert -1.0 <= kappa <= 1.0
