"""Round-9 sixth batch: oracle parity at the smoke scale plus each row's
defining property — the full gram matrix recomputed with an independent
NumPy path (q376), quantile-normalization anchor monotonicity and mapped
-mean closure (q377), NDCG dominance/ceiling bounds (q378), the
median-of-medians containment and shard recount (q379), and a direct
Theil-Sen recompute per event type (q380)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q376_gram_matrix_census",
    "q377_quantile_normalization",
    "q378_ndcg_graded_eval",
    "q379_median_of_medians_law",
    "q380_theil_sen_trend",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q376_gram_recomputed_independently(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 64 * 65 // 2
    emb = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{SF_SMOKE}/embeddings.parquet')"
    ).fetchall()
    m = np.array([e[0] for e in emb], dtype="float64") * 1000.0
    a = np.abs(m)
    fl = np.floor(a)
    v = (np.sign(m) * (fl + (a - fl >= 0.5))).astype("int64")
    g = v.T @ v
    sd = {}
    for d in range(64):
        s = int(np.floor(np.sqrt(float(g[d, d]))))
        if (s + 1) * (s + 1) <= g[d, d]:
            s += 1
        elif s * s > g[d, d]:
            s -= 1
        sd[d + 1] = max(s, 1)
    def tdiv(a_, b_):
        q = abs(a_) // b_
        return q if a_ >= 0 else -q
    for r in rows:
        gij = int(g[r["i"] - 1, r["j"] - 1])
        assert r["g"] == gij
        assert r["is_diag"] == (1 if r["i"] == r["j"] else 0)
        assert r["cos_ppm"] == tdiv(tdiv(1000 * gij, sd[r["i"]]) * 1000, sd[r["j"]])
    # diagonal energy is positive; Cauchy-Schwarz caps every cosine up to
    # the isqrt truncation slack (isqrt underestimates each norm by < 1,
    # inflating the ratio by at most ~(1 + 1/sd)^2)
    for r in rows:
        assert abs(r["cos_ppm"]) <= 1_005_000
        if r["is_diag"]:
            assert r["g"] > 0 and r["cos_ppm"] >= 999_000


def test_q377_anchor_monotone_and_mapped_mean_closes(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, cells in by_src.items():
        cells.sort(key=lambda c: c["decile"])
        # anchors and source-decile uppers are non-decreasing in decile
        for a, b in zip(cells, cells[1:]):
            assert a["anchor_chars"] <= b["anchor_chars"]
            assert a["src_hi_chars"] <= b["src_hi_chars"]
        tot = sum(c["docs"] for c in cells)
        mapped = sum(c["anchor_chars"] * c["docs"] for c in cells)
        assert all(c["mapped_mean_milli"] == 1000 * mapped // tot for c in cells)
        # normalization moves every source's mean toward one shared profile:
        # mapped means across sources must be tighter than raw means
    raw_spread = max(r["raw_mean_milli"] for r in rows) - min(
        r["raw_mean_milli"] for r in rows
    )
    map_spread = max(r["mapped_mean_milli"] for r in rows) - min(
        r["mapped_mean_milli"] for r in rows
    )
    assert map_spread <= raw_spread


_NDCG_MAX_IDCG = 31 * 1000 + 15 * 630 + 7 * 500 + 3 * 430 + 1 * 386


def test_q378_ndcg_dominance_and_ceiling(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r["dcg"] <= r["idcg"] <= _NDCG_MAX_IDCG
        assert 0 <= r["ndcg_ppm"] <= 1_000_000
        assert r["ndcg_ppm"] == 1_000_000 * r["dcg"] // max(r["idcg"], 1)


def test_q379_containment_and_counts(spark):
    (r,) = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    n = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    ).fetchone()[0]
    assert r["n"] == n and r["shards"] == 16
    assert r["p25_cents"] <= r["p50_cents"] <= r["p75_cents"]
    # the classical MoM guarantee, measured (md5 shards are near-equal)
    assert r["within_iqr"] == 1
    assert r["p25_cents"] <= r["mom_cents"] <= r["p75_cents"]
    assert 0 <= r["err_ppm_of_iqr"] < 1_000_000


def test_q380_theil_sen_recomputed_independently(spark):
    rows = {r["event_type"]: r for r in QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect()}
    raw = duckdb.sql(
        f"SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) "
        f"FROM read_parquet('{SF_SMOKE}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    by_type: dict[str, dict[int, int]] = {}
    for t, day, n in raw:
        by_type.setdefault(t, {})[day] = n
    def tdiv(a_, b_):
        q = abs(a_) // abs(b_)
        return q if (a_ >= 0) == (b_ > 0) else -q
    for t, series in by_type.items():
        days = sorted(series)
        slopes = sorted(
            tdiv(1_000_000 * (series[d2] - series[d1]), d2 - d1)
            for i, d1 in enumerate(days)
            for d2 in days[i + 1 :]
        )
        npairs = len(slopes)
        med = slopes[(npairs + 1) // 2 - 1]  # smallest s with 2*rank >= n
        r = rows[t]
        assert r["days"] == len(days)
        assert r["pairs"] == npairs
        assert r["ts_slope_micro"] == med
