"""Round-9 fourth batch: oracle parity at the smoke scale plus each row's
defining property — the KS statistic recomputed directly from the parquet
with an independent Python md5/ECDF path (q366), the salting census
recomputed per key with hashlib salts (q367), PSI grid/total closure and
the uniform lower bound (q368), stratified-fold share closure and spread
recomputation (q369), and a direct interval-weighted recompute of the TWAP
for every event type (q370)."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q366_ks_ab_drift",
    "q367_salting_skew_census",
    "q368_psi_drift",
    "q369_stratified_kfold_census",
    "q370_time_weighted_average",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def _md5_mod(prefix: str, key, mod: int) -> int:
    return int(hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:8], 16) % mod


def test_q366_ks_recomputed_independently(spark):
    rows = {r["event_type"]: r for r in QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()}
    raw = duckdb.sql(
        f"SELECT event_type, user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v "
        f"FROM read_parquet('{SF_SMOKE}/events.parquet') WHERE value IS NOT NULL"
    ).fetchall()
    by_type: dict[str, list[tuple[int, int]]] = {}
    for t, uid, v in raw:
        arm_a = _md5_mod("ab|", uid, 100) < 50
        by_type.setdefault(t, []).append((v, arm_a))
    for t, sample in by_type.items():
        a = sorted(v for v, in_a in sample if in_a)
        b = sorted(v for v, in_a in sample if not in_a)
        na, nb = len(a), len(b)
        best, best_at = -1, None
        ia = ib = 0
        for v in sorted(set(a) | set(b)):
            while ia < na and a[ia] <= v:
                ia += 1
            while ib < nb and b[ib] <= v:
                ib += 1
            gap = abs(1_000_000 * ia // na - 1_000_000 * ib // nb)
            if gap > best:
                best, best_at = gap, v
        r = rows[t]
        assert (r["n_a"], r["n_b"]) == (na, nb)
        assert r["ks_ppm"] == best
        assert r["ks_at_cents"] == best_at
        assert 0 <= r["ks_ppm"] <= 1_000_000


def test_q367_salting_recomputed_and_bounded(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    raw = duckdb.sql(
        f"SELECT user_id, event_id FROM read_parquet('{SF_SMOKE}/events.parquet')"
    ).fetchall()
    per_user: dict[int, dict[int, int]] = {}
    for uid, eid in raw:
        salts = per_user.setdefault(uid, {})
        s = _md5_mod("salt|", eid, 8)
        salts[s] = salts.get(s, 0) + 1
    stats = sorted(
        (
            (sum(s.values()), uid, max(s.values()), len(s))
            for uid, s in per_user.items()
        ),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    for r, (events, uid, mx, used) in zip(rows, stats):
        assert (r["user_id"], r["events"], r["max_salted"], r["salts_used"]) == (
            uid,
            events,
            mx,
            used,
        )
        assert r["reduction_ppm"] == 1_000_000 * mx // events
        # an 8-way salt can never beat the uniform ideal ceil(n/8)
        assert r["max_salted"] >= (r["events"] + 7) // 8
        assert 1 <= r["salts_used"] <= 8


def test_q368_grid_closure_and_total(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    assert [r["bucket"] for r in rows] == list(range(10))
    # Laplace shares close to 1e6 up to one DIV truncation per cell
    for col in ("p_ppm", "q_ppm"):
        s = sum(r[col] for r in rows)
        assert 1_000_000 - 10 < s <= 1_000_000
    psi = sum(r["contrib_ppm_bits"] for r in rows)
    assert all(r["psi_ppm_bits"] == psi for r in rows)
    # contrib sign always matches (p - q) * dlog2 arithmetic
    for r in rows:
        assert r["contrib_ppm_bits"] == (r["p_ppm"] - r["q_ppm"]) * r["dlog2_bits"]


def test_q369_fold_shares_and_spread(spark):
    rows = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, cells in by_lang.items():
        assert sorted(c["fold"] for c in cells) == list(range(5))
        tot = sum(c["docs"] for c in cells)
        assert tot > 0
        s = sum(c["share_ppm"] for c in cells)
        assert 1_000_000 - 5 < s <= 1_000_000
        spread = 1_000_000 * (
            max(c["docs"] for c in cells) - min(c["docs"] for c in cells)
        ) // tot
        assert all(c["stratum_spread_ppm"] == spread for c in cells)


def test_q370_twap_recomputed_independently(spark):
    rows = {r["event_type"]: r for r in QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect()}
    raw = duckdb.sql(
        f"SELECT event_type, user_id, epoch_us(ts) AS us, "
        f"CAST(floor(value * 100 + 0.5) AS BIGINT) AS v "
        f"FROM read_parquet('{SF_SMOKE}/events.parquet') WHERE value IS NOT NULL "
        f"ORDER BY user_id, event_type, us"
    ).fetchall()
    agg: dict[str, list[int]] = {}
    prev = None
    for t, uid, us, v in raw:
        if prev is not None and prev[0] == t and prev[1] == uid:
            gap_s = (us - prev[2]) // 1_000_000
            a = agg.setdefault(t, [0, 0, 0])
            a[0] += 1
            a[1] += gap_s
            a[2] += prev[3] * gap_s
        prev = (t, uid, us, v)
    for t, (n, held, weighted) in agg.items():
        r = rows[t]
        assert (r["held_events"], r["held_s"], r["weighted_cents_s"]) == (
            n,
            held,
            weighted,
        )
        assert r["twap_cents"] == weighted // max(held, 1)
