"""q223 median/MAD and q224 priority sampling: oracle parity + semantics."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES
from lance_namespace_impls_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

NEW = ["q223_median_mad", "q224_priority_sample"]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q223_matches_python_median_definition(spark):
    import statistics

    docs = load_table(spark, "documents", SF_SMOKE).collect()
    by_lang: dict[str, list[int]] = {}
    for r in docs:
        by_lang.setdefault(r["lang"], []).append(r["n_chars"])
    rows = {r["lang"]: r for r in QUERIES["q223_median_mad"].builder(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_lang)
    for lang, vals in by_lang.items():
        vals.sort()
        lower_median = vals[(len(vals) + 1) // 2 - 1]  # integer lower-median
        assert rows[lang]["median"] == lower_median, lang
        devs = sorted(abs(v - lower_median) for v in vals)
        assert rows[lang]["mad"] == devs[(len(devs) + 1) // 2 - 1], lang
        assert rows[lang]["n_docs"] == len(vals)
        # robustness sanity: median within the observed range, MAD >= 0
        assert vals[0] <= rows[lang]["median"] <= vals[-1]
        assert rows[lang]["mad"] >= 0


def test_q224_higher_weight_raises_inclusion(spark):
    rows = QUERIES["q224_priority_sample"].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 50
    # keys ascend with rank and decompose as h DIV weight
    for a, b in zip(rows, rows[1:]):
        assert (a["pkey"], a["doc_id"]) < (b["pkey"], b["doc_id"])
    # weighting bites: the sampled docs skew heavier than the corpus
    docs = load_table(spark, "documents", SF_SMOKE).collect()
    corpus_w = [1 + len(r["text"].strip()) // 100 for r in docs]
    sample_w = [r["weight"] for r in rows]
    assert sum(sample_w) / len(sample_w) > sum(corpus_w) / len(corpus_w)
