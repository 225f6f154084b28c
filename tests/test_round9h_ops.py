"""Round-9 eighth batch: oracle parity at the smoke scale plus each row's
defining property — MRR reciprocal consistency (q386), Pareto class
partition/closure and the concentration inequality (q387), the full RFM
coding recomputed in Python (q388), funnel-by-arm anchors and deltas
(q389), and a direct sessionization replay (q390)."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q386_mrr_retrieval_eval",
    "q387_abc_pareto_classes",
    "q388_rfm_segmentation",
    "q389_funnel_by_arm",
    "q390_session_stats_census",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q386_reciprocal_consistency(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r["found_at_pos"] <= 5
        if r["found_at_pos"] == 0:
            assert r["rr_ppm"] == 0
        else:
            assert r["rr_ppm"] == 1_000_000 // r["found_at_pos"]
        assert r["exact_nn"] != r["query_id"]


def test_q387_partition_and_concentration(spark):
    rows = {r["cls"]: r for r in QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()}
    assert set(rows) == {"A", "B", "C"}
    n_parts = duckdb.sql(
        f"SELECT COUNT(DISTINCT l_partkey) FROM "
        f"read_parquet('{SF_SMOKE}/lineitem.parquet')"
    ).fetchone()[0]
    assert sum(r["parts"] for r in rows.values()) == n_parts
    shares = sum(r["revenue_share_ppm"] for r in rows.values())
    assert 1_000_000 - 3 < shares <= 1_000_000
    # the A band holds ~80% of revenue (its crossing part closes the band,
    # so the share lands at or just past 800000)
    assert rows["A"]["revenue_share_ppm"] >= 800_000
    # Pareto concentration: A's revenue share strictly exceeds its part share
    assert rows["A"]["revenue_share_ppm"] > rows["A"]["part_share_ppm"]
    assert rows["C"]["revenue_share_ppm"] < rows["C"]["part_share_ppm"]


def test_q388_rfm_recomputed_independently(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 27
    raw = duckdb.sql(
        f"SELECT o_custkey, date_diff('day', o_orderdate, DATE '2001-08-02'), "
        f"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) FROM "
        f"read_parquet('{SF_SMOKE}/orders.parquet')"
    ).fetchall()
    cust: dict[int, list] = {}
    for c, age, cents in raw:
        u = cust.setdefault(c, [10**9, 0, 0])
        u[0] = min(u[0], age)
        u[1] += 1
        u[2] += cents

    def cuts(vals):
        freq: dict[int, int] = {}
        for v in vals:
            freq[v] = freq.get(v, 0) + 1
        t = len(vals)
        cum = 0
        t1 = t2 = None
        for v in sorted(freq):
            cum += freq[v]
            if t1 is None and 3 * cum >= t:
                t1 = v
            if t2 is None and 3 * cum >= 2 * t:
                t2 = v
        return t1, t2

    rc = cuts([u[0] for u in cust.values()])
    fc = cuts([u[1] for u in cust.values()])
    mc = cuts([u[2] for u in cust.values()])

    def code(v, c):
        return 1 if v <= c[0] else (2 if v <= c[1] else 3)

    cells: dict[tuple, int] = {}
    for u in cust.values():
        k = (code(u[0], rc), code(u[1], fc), code(u[2], mc))
        cells[k] = cells.get(k, 0) + 1
    for r in rows:
        k = (r["r_code"], r["f_code"], r["m_code"])
        assert r["customers"] == cells.get(k, 0)
    assert sum(r["customers"] for r in rows) == len(cust)


def _md5_mod(prefix: str, key, mod: int) -> int:
    return int(hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:8], 16) % mod


def test_q389_anchors_and_deltas(spark):
    rows = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    assert [r["step"] for r in rows] == [
        "1_signup",
        "2_view",
        "3_click",
        "4_purchase",
    ]
    s1 = rows[0]
    # the anchor step self-converts in both arms
    assert s1["conv_a_ppm"] == s1["conv_b_ppm"] == 1_000_000
    # the arm split covers every signup user
    n_signup = duckdb.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet') WHERE event_type = 'signup'"
    ).fetchone()[0]
    assert s1["users_a"] + s1["users_b"] == n_signup
    for r in rows:
        assert r["delta_ppm"] == r["conv_a_ppm"] - r["conv_b_ppm"]
        assert r["users_a"] >= 0 and r["users_b"] >= 0
    # funnels shrink monotonically in both arms
    for a, b in zip(rows, rows[1:]):
        assert b["users_a"] <= a["users_a"] and b["users_b"] <= a["users_b"]


def test_q390_sessionization_replayed(spark):
    (r,) = QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect()
    raw = duckdb.sql(
        f"SELECT user_id, epoch_us(ts) FROM read_parquet('{SF_SMOKE}/events.parquet') "
        f"ORDER BY user_id, epoch_us(ts)"
    ).fetchall()
    sessions = []
    cur_u = None
    start = last = None
    n = 0
    for uid, us in raw:
        if uid != cur_u or us - last > 1_800_000_000:
            if cur_u is not None:
                sessions.append((n, (last - start) // 1_000_000))
            cur_u, start, n = uid, us, 0
        n += 1
        last = us
    sessions.append((n, (last - start) // 1_000_000))
    users = len({uid for uid, _ in raw})
    durs = sorted(d for _, d in sessions)
    assert r["sessions"] == len(sessions)
    assert r["users"] == users
    assert r["events"] == sum(n for n, _ in sessions)
    assert r["events_per_session_milli"] == 1000 * r["events"] // len(sessions)
    assert r["mean_dur_s"] == sum(durs) // len(sessions)
    assert r["p50_dur_s"] == durs[(len(durs) + 1) // 2 - 1]
