"""Round-9 fifth batch: oracle parity at the smoke scale plus each row's
defining property — the seeded Apriori twin provably pruned (q371), CUPED
theta and adjusted means recomputed directly with hashlib arms (q372), the
postings-index correctness law occurrences == corpus_count plus a direct
phrase recount (q373), funnel-latency monotonicity and window bounds
(q374), and a direct pandas winsorized-mean recompute (q375)."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.operators.mining import _TRI_DENOM
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q371_frequent_triples",
    "q372_cuped_adjusted_readout",
    "q373_phrase_retrieval",
    "q374_funnel_latency_percentiles",
    "q375_winsorized_mean",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q371_seeded_twin_pruned_and_confidence_bounded(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        # the out-of-domain seed brand must never survive the prune
        assert "Brand#zz" not in (r["brand_a"], r["brand_b"], r["brand_c"])
        assert r["brand_a"] < r["brand_b"] < r["brand_c"]
        assert 1 <= r["support"] <= r["pair_support"]
        assert 0 < r["conf_ppm"] <= 1_000_000
        assert r["conf_ppm"] == 1_000_000 * r["support"] // r["pair_support"]
    # every reported triple meets the relative support floor
    n = duckdb.sql(
        f"""SELECT COUNT(DISTINCT l_orderkey) FROM (
              SELECT DISTINCT l.l_orderkey, p.p_brand
              FROM read_parquet('{SF_SMOKE}/lineitem.parquet') l
              JOIN read_parquet('{SF_SMOKE}/part.parquet') p
                ON p.p_partkey = l.l_partkey)"""
    ).fetchone()[0] + 1  # + the seeded twin basket
    for r in rows:
        assert _TRI_DENOM * r["support"] >= n


def _md5_mod(prefix: str, key, mod: int) -> int:
    return int(hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:8], 16) % mod


def test_q372_cuped_recomputed_independently(spark):
    rows = {r["arm"]: r for r in QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()}
    assert set(rows) == {"A", "B"}
    raw = duckdb.sql(
        f"SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, "
        f"CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS pre "
        f"FROM read_parquet('{SF_SMOKE}/events.parquet') WHERE value IS NOT NULL"
    ).fetchall()
    users: dict[int, list[int]] = {}
    for uid, v, pre in raw:
        u = users.setdefault(uid, [0, 0])
        u[pre == 0] += v  # [x, y]
    nu = len(users)
    sx = sum(u[0] for u in users.values())
    sy = sum(u[1] for u in users.values())
    mxd, myd = (sx // 100) // nu, (sy // 100) // nu
    sxy = sum((u[0] // 100 - mxd) * (u[1] // 100 - myd) for u in users.values())
    sxx = sum((u[0] // 100 - mxd) ** 2 for u in users.values())
    theta = 1_000_000 * sxy // max(sxx, 1)
    for arm_name in ("A", "B"):
        arm_users = [
            (uid, u)
            for uid, u in users.items()
            if (_md5_mod("ab|", uid, 100) < 50) == (arm_name == "A")
        ]
        n = len(arm_users)
        asx = sum(u[0] for _, u in arm_users)
        asy = sum(u[1] for _, u in arm_users)
        r = rows[arm_name]
        assert r["users"] == n
        assert r["x_mean_milli"] == 10 * asx // n
        assert r["y_mean_milli"] == 10 * asy // n
        assert r["theta_ppm"] == theta
        # Python // floors while the engines truncate toward zero: replicate
        adj_delta = theta * (10 * asx // n - 10 * sx // nu)
        adj = 10 * asy // n - (
            abs(adj_delta) // 1_000_000 * (1 if adj_delta >= 0 else -1)
        )
        assert r["adj_mean_milli"] == adj


def test_q373_postings_law_and_direct_recount(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 3
    texts = duckdb.sql(
        f"SELECT doc_id, lower(trim(text)) FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    import re as _re

    for r in rows:
        # the postings-index correctness law: every adjacency site in the
        # corpus is found exactly once by the pos+1 self-join
        assert r["occurrences"] == r["corpus_count"]
        w1, w2 = r["phrase"].split(" ")
        occ = docs = 0
        first = None
        for doc_id, t in texts:
            toks = [x for x in _re.split(r"\s+", t) if x != ""]
            hits = sum(
                1
                for i in range(len(toks) - 1)
                if toks[i] == w1 and toks[i + 1] == w2
            )
            if hits:
                occ += hits
                docs += 1
                first = doc_id if first is None else min(first, doc_id)
        assert (r["occurrences"], r["docs"], r["first_doc"]) == (occ, docs, first)


def test_q374_latency_monotone_and_bounded(spark):
    rows = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    assert [r["step"] for r in rows] == [
        "1_signup_to_view",
        "2_view_to_click",
        "3_click_to_purchase",
    ]
    # each step's completers are a subset of the previous step's
    users = [r["users"] for r in rows]
    assert users[0] >= users[1] >= users[2] > 0
    for r in rows:
        assert 0 <= r["p50_s"] <= r["p95_s"] <= r["max_s"] <= 86_400


def test_q375_winsorized_recomputed_independently(spark):
    rows = QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect()
    raw = duckdb.sql(
        f"SELECT source, n_chars FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    by_src: dict[str, list[int]] = {}
    for s, n in raw:
        by_src.setdefault(s, []).append(n)
    assert {r["source"] for r in rows} == set(by_src)
    for r in rows:
        vals = sorted(by_src[r["source"]])
        n = len(vals)
        assert r["n_docs"] == n
        # crossing rule: smallest value with 20*cc >= n (P5) / >= 19n (P95)
        cum = 0
        lo = hi = None
        seen: dict[int, int] = {}
        for v in vals:
            seen[v] = seen.get(v, 0) + 1
        for v in sorted(seen):
            cum += seen[v]
            if lo is None and 20 * cum >= n:
                lo = v
            if hi is None and 20 * cum >= 19 * n:
                hi = v
        assert (r["lo_cut"], r["hi_cut"]) == (lo, hi)
        win = sum(min(max(v, lo), hi) for v in vals)
        assert r["win_mean_milli"] == 1000 * win // n
        assert r["raw_mean_milli"] == 1000 * sum(vals) // n
