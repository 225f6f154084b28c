"""Round-9 third batch: oracle parity at the smoke scale plus each row's
defining property — Benford grid closure (q360), the Cauchy-Schwarz bound
and an independent direct recomputation of the autocorrelations (q361),
lattice monotonicity for k-anonymity (q362), CUSUM change-point recomputed
directly (q363), strict vocabulary growth (q364), and contingency-table
closure (q365)."""

from __future__ import annotations

import duckdb
import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q360_benford_audit",
    "q361_autocorr_census",
    "q362_k_anonymity_census",
    "q363_cusum_changepoint",
    "q364_heaps_law",
    "q365_chi2_independence",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q360_dense_grid_and_ppm_closure(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    by_p: dict[str, list] = {}
    for r in rows:
        by_p.setdefault(r["priority"], []).append(r)
    assert len(by_p) == 5
    for p, cells in by_p.items():
        assert sorted(c["digit"] for c in cells) == list(range(1, 10))
        # exp constants close exactly; obs closes up to 9 DIV truncations
        assert sum(c["exp_ppm"] for c in cells) == 1_000_000
        assert 1_000_000 - 9 < sum(c["obs_ppm"] for c in cells) <= 1_000_000
        l1 = sum(abs(c["obs_ppm"] - c["exp_ppm"]) for c in cells)
        assert all(c["priority_l1_ppm"] == l1 for c in cells)
        # the synthetic prices are far from Benford — the audit is live
        assert l1 > 100_000


def _daily_counts(sf_dir: str) -> dict[str, list[int]]:
    con = duckdb.connect()
    rows = con.sql(
        f"""
        WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type
                   FROM '{sf_dir}/events.parquet'),
        spine AS (SELECT d.day, t.event_type
                  FROM (SELECT DISTINCT day FROM e) d,
                       (SELECT DISTINCT event_type FROM e) t)
        SELECT s.event_type, s.day, COUNT(e.day) AS n
        FROM spine s LEFT JOIN e ON e.day = s.day AND e.event_type = s.event_type
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    out: dict[str, list[int]] = {}
    for et, _, n in rows:
        out.setdefault(et, []).append(int(n))
    return out


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_q361_direct_recompute_and_bounds(spark):
    series = _daily_counts(SF_SMOKE)
    expect = {}
    for et, ns in series.items():
        nd, s = len(ns), sum(ns)
        c = [nd * n - s for n in ns]
        den = sum(x * x for x in c)
        for k in range(1, 6):
            num = sum(c[i] * c[i + k] for i in range(nd - k))
            expect[(et, k)] = _trunc_div(1_000_000 * num, den)
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == len(expect) == 25
    for r in rows:
        assert r["r_ppm"] == expect[(r["event_type"], r["lag"])]
        # Cauchy-Schwarz: |sum c_d c_{d+k}| <= sum c_d^2
        assert abs(r["r_ppm"]) <= 1_000_000
    # the series is not white noise at every lag for every type
    assert len({r["r_ppm"] for r in rows}) > 1


def test_q362_lattice_monotonicity(spark):
    rows = {r["qi_set"]: r for r in QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()}
    a, b, c = rows["a_nation"], rows["b_nation_band2000"], rows["c_nation_band500"]
    assert a["n_rows"] == b["n_rows"] == c["n_rows"]
    # finer QI: more classes, k never rises, suppression never falls
    assert a["n_classes"] <= b["n_classes"] <= c["n_classes"]
    assert a["k_min"] >= b["k_min"] >= c["k_min"]
    assert a["suppressed_ppm"] <= b["suppressed_ppm"] <= c["suppressed_ppm"]
    assert a["l_min"] >= b["l_min"] >= c["l_min"]
    for r in rows.values():
        assert r["rows_below_k"] >= r["classes_below_k"] * 1  # each class >= 1 row
        assert 0 <= r["suppressed_ppm"] <= 1_000_000


def test_q363_direct_recompute(spark):
    series = _daily_counts(SF_SMOKE)
    rows = {r["event_type"]: r for r in QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()}
    assert set(rows) == set(series)
    for et, ns in series.items():
        nd, s = len(ns), sum(ns)
        cusum, best, best_idx = 0, -1, -1
        pre = 0
        pres = []
        for i, n in enumerate(ns[:-1], start=1):
            cusum += nd * n - s
            pre += n
            pres.append(pre)
            if abs(cusum) > best:
                best, best_idx = abs(cusum), i
        r = rows[et]
        assert r["cp_idx"] == best_idx
        assert r["max_abs_cusum"] == best
        pre_sum = pres[best_idx - 1]
        assert r["pre_mean_milli"] == 1000 * pre_sum // best_idx
        assert r["post_mean_milli"] == 1000 * (s - pre_sum) // (nd - best_idx)
        assert r["delta_milli"] == r["post_mean_milli"] - r["pre_mean_milli"]
        # a level shift is measured, not asserted zero
        assert r["max_abs_cusum"] > 0


def test_q364_strict_growth(spark):
    rows = sorted(
        QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect(), key=lambda r: r["decile"]
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert b["cum_toks"] > a["cum_toks"]
        # the 3-gram type inventory genuinely grows (no 31-word degeneracy)
        assert b["vocab"] > a["vocab"]
        assert b["ttr_ppm"] <= a["ttr_ppm"]
    # sublinear growth: TTR falls across the curve
    assert rows[-1]["ttr_ppm"] < rows[0]["ttr_ppm"]
    assert rows[0]["vocab"] > 1000


def test_q365_contingency_closure(spark):
    rows = QUERIES[NEW[5]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 25
    total = rows[0]["total_chi2_micro"]
    assert all(r["total_chi2_micro"] == total for r in rows)
    assert total == sum(r["cell_chi2_micro"] for r in rows)
    # truncation toward zero keeps both factors same-signed: cells >= 0
    assert all(r["cell_chi2_micro"] >= 0 for r in rows)
    by_seg: dict[str, int] = {}
    for r in rows:
        by_seg[r["seg"]] = by_seg.get(r["seg"], 0) + r["n"]
    for r in rows:
        assert by_seg[r["seg"]] == r["r_tot"]
    # BIGINT guard: the scaled statistic stays far from overflow at test SFs
    assert all(abs(r["cell_chi2_micro"]) < 2**62 for r in rows)
