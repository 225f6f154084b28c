"""Round-9 second batch: oracle parity at the smoke scale plus each row's
defining property — CoW delete execution's three live actions (q337), the
schema-evolution column contract (q338), zonemap-prune soundness and
economics (q339), and scalar-quantization recall sanity (q340)."""

from __future__ import annotations

import os

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.operators.snapshots import (
    cow_fixture_dir,
    read_schema_version,
    schema_evolution_dir,
)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q337_cow_delete_execution",
    "q338_schema_evolution_read",
    "q339_zonemap_prune_execution",
    "q340_sq_recall_audit",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q337_all_three_actions_live_and_conserved(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    actions = {r["action"] for r in rows}
    assert actions == {"carry", "rewrite", "drop"}
    for r in rows:
        assert r["rows_before"] == r["rows_deleted"] + r["rows_after"]
        if r["action"] == "carry":
            assert r["rows_deleted"] == 0
        if r["action"] == "drop":
            assert r["rows_after"] == 0 and r["live_xor"] == 0
        if r["action"] == "rewrite":
            assert 0 < r["rows_after"] < r["rows_before"]
    # the dropped fragment's files are genuinely absent from the manifest:
    # a v2 scan never reads fragment 1's directory
    root = cow_fixture_dir(spark, SF_SMOKE)
    import json

    with open(os.path.join(root, "_versions", "2.json")) as f:
        manifest = json.load(f)
    assert not any("fragment=1" in p for p in manifest["files"])
    # the CoW rewrite only wrote the rewritten fragments (economics)
    rw = {p for p in manifest["files"] if p.startswith("files/rw/")}
    assert rw == {"files/rw/fragment=0", "files/rw/fragment=2"}


def test_q338_v1_read_has_no_cents_column(spark):
    root = schema_evolution_dir(spark, SF_SMOKE)
    v1 = read_schema_version(spark, root, 1)
    assert "cents" not in v1.columns
    v2 = read_schema_version(spark, root, 2)
    assert "cents" in v2.columns
    # every v1-file row surfaces NULL cents in the v2 read; every added row
    # carries a real value
    nulls = v2.filter("cents IS NULL").count()
    old = v2.filter("o_orderkey % 3 <> 0").count()
    assert nulls == old


def test_q339_soundness_and_economics(spark):
    rows = {r["pred_id"]: r for r in QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()}
    # the execution law: pruned scan == full scan, every predicate
    assert all(r["rows_exact"] == 1 and r["cents_exact"] == 1 for r in rows.values())
    # clustered-key predicates prune; the scattered cents predicate cannot
    assert rows[1]["frags_touched"] < rows[1]["frags_total"]
    assert rows[3]["frags_touched"] == rows[3]["frags_total"]
    assert rows[1]["rows_scanned"] < rows[1]["rows_total"]
    for r in rows.values():
        assert r["n_matched"] > 0  # every predicate branch is live


def test_q340_recall_bounds(spark):
    rows = QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r["overlap"] <= 10
        assert r["recall_ppm"] == r["overlap"] * 1_000_000 // 10
        assert r["top1_match"] in (0, 1)
    # 254-level quantization of 64-dim vectors barely moves ranks: the
    # audit should report near-perfect recall (probed: 10/10 for all 8
    # queries at every SF; assert a loose floor so the test states the law,
    # not the fixture)
    assert sum(r["overlap"] for r in rows) >= 8 * 8


NEW2 = [
    "q341_neyman_allocation",
    "q342_normalization_idempotence",
    "q343_dup_ngram_coverage",
    "q344_heavy_hitter_merge_law",
    "q345_conjunctive_retrieval",
]


@pytest.mark.parametrize("name", NEW2)
def test_oracle_match_batch2(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q341_allocation_sums_to_budget(spark):
    rows = QUERIES[NEW2[0]].builder(spark, SF_SMOKE).collect()
    assert sum(r["n_alloc"] for r in rows) == 100
    for r in rows:
        assert r["n_sampled"] == r["n_alloc"] <= r["n_docs"]
        assert r["w_sigma"] > 0  # lengths vary inside every stratum


def test_q342_idempotence_universal_and_live(spark):
    rows = QUERIES[NEW2[1]].builder(spark, SF_SMOKE).collect()
    for r in rows:
        assert r["n_idempotent"] == r["n_docs"]  # the law: converged in one pass
        assert r["n_changed"] > 0  # the first application really rewrites


def test_q343_coverage_branches_live(spark):
    rows = QUERIES[NEW2[2]].builder(spark, SF_SMOKE).collect()
    assert sum(r["n_dup_docs"] for r in rows) > 0
    for r in rows:
        assert 0 <= r["agg_cov_milli"] <= 1000
        assert r["n_dup_docs"] < r["n_docs"]  # clean docs exist everywhere
        assert r["max_cov_milli"] <= 1000


def test_q344_theorem_bound_holds(spark):
    rows = QUERIES[NEW2[3]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["err"] >= 0  # survivors-only sum never overestimates
        assert r["within_bound"] == 1
        assert r["true_cnt"] == r["est"] + r["err"]
    # the merged estimate must underestimate SOMEWHERE for the bound to be
    # exercised (the fixture's bigram distribution is nearly flat, so most
    # heavy hitters lose survivors in some shard)
    assert any(r["err"] > 0 for r in rows)
    # flat distributions are the heavy-hitter worst case: recall of the
    # true top-10 is fixture-low (probed 3/10 at k=16); assert the column
    # is live, not a fixture constant
    assert 1 <= sum(r["in_true_topk"] for r in rows) <= 10


def test_q345_index_matches_direct_scan(spark):
    rows = QUERIES[NEW2[4]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["decode_errors"] == 0
        assert r["direct_match"] == 1
        assert r["n_results"] > 0  # intersections are live at every SF


NEW3 = [
    "q346_optimistic_commit",
    "q347_systematic_resampling",
    "q348_index_remap_after_compaction",
]


@pytest.mark.parametrize("name", NEW3)
def test_oracle_match_batch3(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q346_conflict_detected_and_rebased(spark):
    import json

    from lance_namespace_impls_spark.operators.snapshots import (
        concurrent_commit_dir,
    )

    root = concurrent_commit_dir(spark, SF_SMOKE)
    with open(os.path.join(root, "commits.json")) as f:
        rec = json.load(f)
    # writer B's first attempt MUST have failed the put-if-absent create
    assert rec == {"attempts": 3, "conflicts": 1}
    # the rebased manifest carries both appends exactly once
    with open(os.path.join(root, "_versions", "3.json")) as f:
        v3 = json.load(f)
    assert sorted(v3["files"]) == ["files/a", "files/b", "files/base"]


def test_q347_conserves_draw_count_and_multi_draw_live(spark):
    rows = QUERIES[NEW3[1]].builder(spark, SF_SMOKE).collect()
    assert sum(r["n_draws"] for r in rows) == 64  # systematic conservation
    assert max(r["max_mult"] for r in rows) >= 2  # with-replacement branch live
    for r in rows:
        assert r["n_distinct_drawn"] <= r["n_draws"]


def test_q348_remap_lossless(spark):
    rows = QUERIES[NEW3[2]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 8  # every cell populated
    assert all(r["remap_exact"] == 1 for r in rows)
    assert all(r["resolved_xor"] == r["rebuilt_xor"] for r in rows)


NEW4 = [
    "q349_multiprobe_lsh_audit",
    "q350_crossmodal_dedup_agreement",
    "q351_subject_access_extract",
]


@pytest.mark.parametrize("name", NEW4)
def test_oracle_match_batch4(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q349_curve_monotone_and_live(spark):
    rows = {r["depth"]: r for r in QUERIES[NEW4[0]].builder(spark, SF_SMOKE).collect()}
    assert list(rows) == [0, 1, 2]
    # cost and recall both rise with probe depth; deeper probes dominate
    assert rows[0]["candidates"] < rows[1]["candidates"] < rows[2]["candidates"]
    assert rows[0]["found"] <= rows[1]["found"] <= rows[2]["found"]
    assert rows[2]["found"] > rows[0]["found"]  # multi-probe really recovers
    assert rows[2]["top1_found"] >= 1  # the top-1 recovery branch is live
    assert rows[0]["buckets_probed"] == 1 and rows[2]["buckets_probed"] == 16


def test_q350_all_classes_live(spark):
    rows = {r["cls"]: r for r in QUERIES[NEW4[1]].builder(spark, SF_SMOKE).collect()}
    assert set(rows) == {"both", "image_only", "text_only"}
    for r in rows.values():
        assert r["n_pairs"] > 0
        assert r["pair_xor"] != 0
    # every seeded image+text twin lands in 'both'; every text twin in
    # 'text_only' (10 of each under doc_id < 200)
    assert rows["both"]["n_pairs"] >= 10
    assert rows["text_only"]["n_pairs"] >= 10


def test_q351_branches_live_and_reconciled(spark):
    rows = {r["subject"]: r for r in QUERIES[NEW4[2]].builder(spark, SF_SMOKE).collect()}
    full, noev, absent = rows[7], rows[20], rows[999999]
    assert full["n_customer"] == 1 and full["n_events"] > 0 and full["n_lineitems"] > 0
    assert noev["n_customer"] == 1 and noev["n_orders"] > 0 and noev["n_events"] == 0
    assert all(absent[c] == 0 for c in absent.asDict() if c != "subject")


NEW5 = [
    "q352_version_tags",
    "q353_ushaped_attribution",
    "q354_merge_idempotence",
]


@pytest.mark.parametrize("name", NEW5)
def test_oracle_match_batch5(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q352_deleted_tag_gone_and_retarget_isolated(spark):
    from lance_namespace_impls_spark.operators.snapshots import (
        read_tag,
        tagged_dataset_dir,
    )

    root = tagged_dataset_dir(spark, SF_SMOKE)
    with pytest.raises(FileNotFoundError):
        read_tag(spark, root, "tmp")
    # retargeting 'main' must not have moved 'stable'
    import json

    with open(os.path.join(root, "_tags", "stable.json")) as f:
        assert json.load(f)["version"] == 1
    with open(os.path.join(root, "_tags", "main.json")) as f:
        assert json.load(f)["version"] == 2


def test_q353_conserves_credit_and_u_shape(spark):
    rows = QUERIES[NEW5[1]].builder(spark, SF_SMOKE).collect()
    total = sum(r["credit_ppm"] for r in rows)
    purchases = QUERIES["q307_linear_attribution"].builder(spark, SF_SMOKE)
    # conservation: the same 1e6-per-purchase unit as q307 (same window)
    q307_total = sum(r["credit_ppm"] for r in purchases.collect())
    assert total == q307_total
    roles = {(r["event_type"], r["role"]) for r in rows}
    # first/last/middle/edge/none all live
    assert {"first", "last", "middle", "edge"} <= {r for _, r in roles if r != "none"}
    # the U: per-touch first credit ~2x per-touch middle credit
    by_role = {}
    for r in rows:
        if r["role"] in ("first", "middle"):
            t, c = by_role.get(r["role"], (0, 0))
            by_role[r["role"]] = (t + r["touches"], c + r["credit_ppm"])
    ft, fc = by_role["first"]
    mt, mc = by_role["middle"]
    assert fc * mt > mc * ft  # first touches out-earn middles per touch


def test_q354_idempotent_everywhere(spark):
    rows = QUERIES[NEW5[2]].builder(spark, SF_SMOKE).collect()
    assert all(r["idempotent"] == 1 for r in rows)
    # the insert branch is live: the fresh 'N' status exists with 10 rows
    n = {r["o_orderstatus"]: r for r in rows}["N"]
    assert n["n_rows"] == 10


NEW6 = [
    "q355_allowed_lateness_accounting",
    "q356_bucketed_topk_law",
    "q357_incremental_changed_scan",
]


@pytest.mark.parametrize("name", NEW6)
def test_oracle_match_batch6(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q355_all_lanes_live_and_partition(spark):
    rows = QUERIES[NEW6[0]].builder(spark, SF_SMOKE).collect()
    assert sum(r["on_time"] for r in rows) > 0
    assert sum(r["late_accepted"] for r in rows) > 0
    assert sum(r["dropped"] for r in rows) > 0
    for r in rows:
        assert r["n_events"] == r["on_time"] + r["late_accepted"] + r["dropped"]


def test_q356_device_exact_everywhere(spark):
    rows = QUERIES[NEW6[1]].builder(spark, SF_SMOKE).collect()
    assert all(r["exact_match"] == 1 for r in rows)
    assert all(r["k_emitted"] == 3 for r in rows)


def test_q357_reconciles_everywhere(spark):
    rows = QUERIES[NEW6[2]].builder(spark, SF_SMOKE).collect()
    assert all(r["reconciles"] == 1 for r in rows)
    assert sum(r["n_changed"] for r in rows) > 0


NEW7 = ["q358_exact_auc", "q359_fellegi_sunter_linkage"]


@pytest.mark.parametrize("name", NEW7)
def test_oracle_match_batch7(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q358_auc_bounds_and_classes(spark):
    rows = QUERIES[NEW7[0]].builder(spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r["auc_ppm"] <= 1_000_000
        assert r["n_pos"] > 0 and r["n_neg"] > 0
    # the interval rule makes the signal non-monotone: AUC is not a
    # constant across sources (live spread, probed 0.24-0.70)
    assert len({r["auc_ppm"] for r in rows}) > 1


def test_q359_three_decisions_and_twin_recall(spark):
    rows = {r["decision"]: r for r in QUERIES[NEW7[1]].builder(spark, SF_SMOKE).collect()}
    assert set(rows) == {"link", "possible", "nonlink"}
    # every seeded twin pair scores as a link; no twin leaks elsewhere
    assert rows["link"]["n_twin_pairs"] > 0
    assert rows["possible"]["n_twin_pairs"] == 0
    assert rows["nonlink"]["n_twin_pairs"] == 0
    # the decision bands are ordered and separated
    assert rows["link"]["min_score"] >= 6000
    assert 0 <= rows["possible"]["min_score"] < 6000
    assert rows["nonlink"]["max_score"] < 0
