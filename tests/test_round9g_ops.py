"""Round-9 seventh batch: oracle parity at the smoke scale plus each row's
defining property — the hazard table recomputed directly from per-user
timelines (q381), the trigram top-k recounted (q382), Mann-Kendall S and
tie-corrected variance recomputed (q383), the weighted median recomputed
with explicit weight accumulation (q384), and the stump gains recomputed
with the same ppm arithmetic plus a single-argmax check (q385)."""

from __future__ import annotations

import duckdb
import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q381_purchase_hazard_census",
    "q382_event_path_trigrams",
    "q383_mann_kendall_test",
    "q384_weighted_median",
    "q385_decision_stump_gain",
]

_DAY_US = 86_400_000_000
_END_US = 1_706_659_200_000_000  # 2024-01-31 00:00:00 UTC in micros


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q381_hazard_recomputed_independently(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    assert [r["t_days"] for r in rows] == list(range(4))
    raw = duckdb.sql(
        f"SELECT user_id, event_type, epoch_us(ts) FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet') "
        f"WHERE event_type IN ('signup', 'purchase')"
    ).fetchall()
    signup: dict[int, int] = {}
    purchases: dict[int, list[int]] = {}
    for uid, t, us in raw:
        if t == "signup":
            signup[uid] = min(signup.get(uid, us), us)
        else:
            purchases.setdefault(uid, []).append(us)
    exits: dict[int, list[int]] = {}
    for uid, sus in signup.items():
        climit = min(3, (_END_US - sus) // _DAY_US)
        pus = min((p for p in purchases.get(uid, []) if p > sus), default=None)
        if pus is not None and (pus - sus) // _DAY_US <= climit:
            t, ev = (pus - sus) // _DAY_US, 1
        else:
            t, ev = climit, 0
        e = exits.setdefault(t, [0, 0])
        e[ev] += 1
    at_risk = len(signup)
    for r in rows:
        ev = exits.get(r["t_days"], [0, 0])
        assert (r["events"], r["censored"]) == (ev[1], ev[0])
        assert r["at_risk"] == at_risk
        assert r["hazard_ppm"] == 1_000_000 * ev[1] // max(at_risk, 1)
        at_risk -= ev[0] + ev[1]
    assert at_risk == 0  # every signup exits by the horizon
    # both exit modes are live
    assert sum(r["events"] for r in rows) > 0
    assert sum(r["censored"] for r in rows) > 0


def test_q382_trigrams_recounted(spark):
    rows = QUERIES[NEW[1]].builder(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    raw = duckdb.sql(
        f"SELECT user_id, event_type FROM read_parquet('{SF_SMOKE}/events.parquet') "
        f"ORDER BY user_id, epoch_us(ts), event_id"
    ).fetchall()
    seqs: dict[int, list[str]] = {}
    for uid, t in raw:
        seqs.setdefault(uid, []).append(t)
    counts: dict[str, int] = {}
    for seq in seqs.values():
        for i in range(len(seq) - 2):
            k = ">".join(seq[i : i + 3])
            counts[k] = counts.get(k, 0) + 1
    total = sum(counts.values())
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    for r, (path, n) in zip(rows, top):
        assert (r["path"], r["paths"]) == (path, n)
        assert r["share_ppm"] == 1_000_000 * n // total


def test_q383_mann_kendall_recomputed(spark):
    rows = {r["event_type"]: r for r in QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()}
    raw = duckdb.sql(
        f"SELECT event_type, epoch_us(ts) // {_DAY_US}, COUNT(*) FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    by_type: dict[str, dict[int, int]] = {}
    for t, day, n in raw:
        by_type.setdefault(t, {})[day] = n
    for t, series in by_type.items():
        days = sorted(series)
        nd = len(days)
        s = sum(
            (series[d2] > series[d1]) - (series[d2] < series[d1])
            for i, d1 in enumerate(days)
            for d2 in days[i + 1 :]
        )
        tie_groups: dict[int, int] = {}
        for v in series.values():
            tie_groups[v] = tie_groups.get(v, 0) + 1
        tie_term = sum(
            tc * (tc - 1) * (2 * tc + 5) for tc in tie_groups.values() if tc > 1
        )
        var18 = nd * (nd - 1) * (2 * nd + 5) - tie_term
        r = rows[t]
        assert (r["days"], r["s_stat"], r["var18"]) == (nd, s, var18)
        assert r["direction"] == (s > 0) - (s < 0)
        expect_sig = int(s != 0 and 90000 * (abs(s) - 1) ** 2 >= 19208 * var18)
        assert r["significant"] == expect_sig


def test_q384_weighted_median_recomputed(spark):
    rows = {r["flag"]: r for r in QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()}
    raw = duckdb.sql(
        f"SELECT l_returnflag, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT), "
        f"CAST(l_quantity AS BIGINT) FROM read_parquet('{SF_SMOKE}/lineitem.parquet')"
    ).fetchall()
    by_flag: dict[str, dict[int, int]] = {}
    for fl, cents, w in raw:
        g = by_flag.setdefault(fl, {})
        g[cents] = g.get(cents, 0) + w
    for fl, weights in by_flag.items():
        tot = sum(weights.values())
        cum = 0
        med = None
        for v in sorted(weights):
            cum += weights[v]
            if med is None and 2 * cum >= tot:
                med = v
        r = rows[fl]
        assert (r["total_weight"], r["wmedian_cents"]) == (tot, med)


def test_q385_stump_gains_recomputed_and_single_argmax(spark):
    rows = QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect()
    assert [r["decile"] for r in rows] == list(range(1, 10))
    assert sum(r["is_best"] for r in rows) == 1
    raw = duckdb.sql(
        f"SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    vals = sorted(raw)
    n = len(vals)
    np_ = sum(p for _, p in vals)

    def gini(pos, tot):
        pp = 1_000_000 * pos // max(tot, 1)
        qq = 1_000_000 * (tot - pos) // max(tot, 1)
        return 1_000_000 - (pp * pp + qq * qq) // 1_000_000

    parent = gini(np_, n)
    # candidate thresholds from the crossing rule on the frequency relation
    freq: dict[int, list[int]] = {}
    for v, p in vals:
        e = freq.setdefault(v, [0, 0])
        e[0] += 1
        e[1] += p
    cum = cump = 0
    cc = []
    for v in sorted(freq):
        cum += freq[v][0]
        cump += freq[v][1]
        cc.append((v, cum, cump))
    for r in rows:
        j = r["decile"]
        thr = min(v for v, c, _ in cc if 10 * c >= j * n)
        nl, pl = next((c, p) for v, c, p in cc if v == thr)
        assert r["thr"] == thr
        assert (r["n_left"], r["n_right"]) == (nl, n - nl)
        gl, gr = gini(pl, nl), gini(np_ - pl, n - nl)
        assert (r["gini_left_ppm"], r["gini_right_ppm"]) == (gl, gr)
        assert r["parent_gini_ppm"] == parent
        assert r["gain_ppm"] == parent - (nl * gl + (n - nl) * gr) // n
