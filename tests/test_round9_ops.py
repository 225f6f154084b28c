"""Round-9 rows: oracle parity at the smoke scale plus each row's defining
property — the quantile-summary error law (q323), the WAV container decode
guarantee (q324), compaction conservation (q325), SNM second-pass recovery
(q326), snapshot append-invariance (q327), sub-linear HNSW descent (q328),
vacuum's negative contract (q329), set-op estimator sanity (q330),
truncation-recall branches (q331), backtest split hygiene (q332),
readability identities (q333), tokenizer invertibility (q334), calibration
branches (q335), and margin non-negativity (q336)."""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q323_quantile_merge_law",
    "q324_audio_window_census",
    "q325_compaction_execution",
    "q326_snm_second_pass",
    "q327_snapshot_read",
    "q328_hnsw_layered_search",
    "q329_vacuum_execution",
    "q330_kmv_set_ops",
    "q331_matryoshka_truncation",
    "q332_markov_backtest",
    "q333_readability_census",
    "q334_tokenizer_roundtrip",
    "q335_quality_dup_calibration",
    "q336_contrastive_margins",
]


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q323_error_law_and_summary_bound(spark):
    rows = QUERIES[NEW[0]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    assert all(r["within_bound"] == 1 for r in rows)
    assert all(r["merged_err"] <= r["err_bound"] for r in rows)
    # the one-pass summary at the same k is at least as accurate in the
    # aggregate: its compaction never crosses shard boundaries
    assert sum(r["onepass_err"] for r in rows) <= sum(
        r["merged_err"] for r in rows
    ) + sum(r["err_bound"] for r in rows)
    # estimates bracket reality: a summary estimate sits within bound ranks
    # of the target, so its VALUE is >= the exact value whenever err == 0
    exact0 = [r for r in rows if r["onepass_err"] == 0]
    assert all(r["onepass_cents"] == r["exact_cents"] for r in exact0)


def test_q324_wav_codec_is_a_real_chunk_walker():
    """A single flipped byte, a skipped pad rule, or a fixed data offset
    must not decode silently — the q322-style byte-exactness guarantee."""
    import numpy as np

    from lance_namespace_impls_spark.functions.audio import (
        decode_wav_pcm8,
        synth_wav,
    )

    blob = synth_wav(7)
    pcm = decode_wav_pcm8(blob)
    n = 200 + (7 * 13) % 97
    r = (7 * 2654435761) % (1 << 32)
    want = [(r + 37 * i) % 256 for i in range(n)]
    want = [b if b < 128 else b - 256 for b in want]
    assert pcm.dtype == np.int8 and list(pcm.astype(int)) == want

    # the data offset varies with the doc-dependent LIST chunk (a fixed
    # offset reader cannot be right for all docs)
    offsets = {synth_wav(d).index(b"data") for d in range(30)}
    assert len(offsets) > 1

    # corrupted magic / truncated chunk / size mismatch all refuse
    with pytest.raises(ValueError):
        decode_wav_pcm8(b"RIFX" + blob[4:])
    with pytest.raises(ValueError):
        decode_wav_pcm8(blob[:-3])
    # odd-sized LIST chunks exist in the fixture (pad rule exercised)
    assert any((1 + d % 23) % 2 == 1 for d in range(200))


def test_q325_conservation_and_plan_agreement(spark):
    rows = QUERIES[NEW[2]].builder(spark, SF_SMOKE).collect()
    assert rows, "no compaction groups"
    assert all(r["conserved_rows"] == 1 and r["conserved_xor"] == 1 for r in rows)
    # groups pack ADJACENT fragments: spans never overlap and ascend
    spans = sorted((r["frag_lo"], r["frag_hi"]) for r in rows)
    assert all(a <= b for a, b in spans)
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    # the executed grouping agrees with q239's published plan
    plan = {
        r["fragment"]: r["target_group"]
        for r in QUERIES["q239_compaction_planning"].builder(spark, SF_SMOKE).collect()
    }
    for r in rows:
        for frag in range(r["frag_lo"], r["frag_hi"] + 1):
            if frag in plan:
                assert plan[frag] == r["target_group"]


def test_q326_set_algebra_and_seeded_recovery(spark):
    m = {
        r["metric"]: r["value"]
        for r in QUERIES[NEW[3]].builder(spark, SF_SMOKE).collect()
    }
    assert m["6_seeded_recovered"] > 0  # the boundary-straddling branch is live
    assert m["4_recovered_pairs"] >= m["6_seeded_recovered"]
    assert m["3_overlap_pairs"] + m["4_recovered_pairs"] == m["2_pass2_pairs"]
    assert m["5_union_pairs"] == m["1_pass1_pairs"] + m["4_recovered_pairs"]


def test_q328_descent_is_sublinear_and_recall_is_honest(spark):
    from lance_namespace_impls_spark.sources.tables import load_table

    rows = QUERIES[NEW[5]].builder(spark, SF_SMOKE).collect()
    n = load_table(spark, "embeddings", SF_SMOKE).count()
    assert len(rows) == 8
    assert all(0 <= r["hits"] <= r["k"] for r in rows)
    assert any(r["hits"] == r["k"] for r in rows)  # the descent does work...
    assert all(r["top1_match"] in (0, 1) for r in rows)
    for r in rows:
        # every layer actually participated
        assert r["l2_scanned"] > 0 and r["l1_scanned"] > 0 and r["l0_scanned"] > 0
        # the HNSW point: total scanned work is well below the brute scan
        assert r["l2_scanned"] + r["l1_scanned"] + r["l0_scanned"] < n


def test_q327_append_invariance_and_idempotence(spark):
    rows1 = QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect()
    v1 = {r["o_orderstatus"]: r for r in rows1 if r["version"] == 1}
    v2 = {r["o_orderstatus"]: r for r in rows1 if r["version"] == 2}
    assert v1 and set(v1) == set(v2)
    for status, r in v1.items():
        assert v2[status]["n_orders"] >= r["n_orders"]  # append-only
        assert v2[status]["total_cents"] >= r["total_cents"]
    assert any(v2[s]["n_orders"] > v1[s]["n_orders"] for s in v1)
    # the fixture is materialize-once: a second run reads the SAME versions
    rows2 = QUERIES[NEW[4]].builder(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))


def test_q329_orphans_really_deleted_and_v1_unreadable(spark):
    import json
    import os

    from lance_namespace_impls_spark.operators.snapshots import (
        read_version,
        vacuum_fixture_dir,
    )

    # builder has run at least once via the oracle test; the fixture exists
    root = vacuum_fixture_dir(spark, SF_SMOKE)
    with open(os.path.join(root, "vacuum.json")) as f:
        vac = json.load(f)
    assert vac["removed"] == ["files/v1", "files/v2"]
    assert vac["retained"] == [3]
    assert not os.path.exists(os.path.join(root, "files", "v1"))
    assert not os.path.exists(os.path.join(root, "files", "v2"))
    assert os.path.exists(os.path.join(root, "files", "v3"))
    # the retention contract's other half: vacuumed versions no longer read
    # (their manifests survive but their data is gone)
    with pytest.raises(Exception):
        read_version(spark, root, 1).collect()
    # the survivor still reads end to end
    assert read_version(spark, root, 3).count() > 0


def test_q330_estimator_sanity(spark):
    rows = QUERIES[NEW[7]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 4
    for r in rows:
        assert 0 < r["exact_inter"] <= r["exact_union"]
        assert r["est_inter"] <= r["est_union"]
        assert 0 <= r["est_jaccard_ppm"] <= 1_000_000
        # a k=64 bottom-k union estimate should land within ~35% here
        assert abs(r["est_union"] - r["exact_union"]) * 100 <= 35 * r["exact_union"]
        assert abs(r["est_jaccard_ppm"] - r["exact_jaccard_ppm"]) <= 350_000


def test_q331_truncation_branches_live(spark):
    rows = QUERIES[NEW[8]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 8
    assert any(r["hits"] > 0 for r in rows)
    assert any(r["hits"] < r["k"] for r in rows)  # truncation really loses
    for r in rows:
        # rank drift is consistent with the hit census: a top1 match means
        # the winner kept truncated rank 1
        if r["top1_match"] == 1:
            assert r["full_top1_trunc_rank"] == 1
        assert r["full_top1_trunc_rank"] >= 1


def test_q332_split_hygiene(spark):
    rows = QUERIES[NEW[9]].builder(spark, SF_SMOKE).collect()
    assert rows
    total_tests = sum(r["n_tests"] for r in rows)
    # one held-out transition per user with >= 2 events
    from lance_namespace_impls_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF_SMOKE)
    n_multi = ev.groupBy("user_id").count().filter("count >= 2").count()
    assert total_tests == n_multi
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_tests"]


def test_q333_flesch_identity(spark):
    rows = QUERIES[NEW[10]].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 20  # every source has documents
    for r in rows:
        assert r["n_docs"] > 0 and r["words"] > 0 and r["sentences"] >= r["n_docs"]
        assert r["vowel_runs"] > 0


def test_q334_roundtrip_law_and_branches(spark):
    rows = QUERIES["q334_tokenizer_roundtrip"].builder(spark, SF_SMOKE).collect()
    n = sum(r["n_docs"] for r in rows)
    assert sum(r["roundtrip_ok"] for r in rows) == n  # the invertibility law
    unk = sum(r["n_unk_docs"] for r in rows)
    assert 0 < unk < n  # OOV docs AND UNK-free docs both exist


def test_q335_calibration_branches(spark):
    rows = QUERIES["q335_quality_dup_calibration"].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    assert sum(r["n_dup_docs"] for r in rows) > 0  # seeded twins live
    assert any(r["dup_ppm"] == 0 for r in rows) or any(
        r["dup_ppm"] != rows[0]["dup_ppm"] for r in rows
    )  # the calibration table is not flat
    # deciles are near-equal-sized (exact NTILE semantics)
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1


def test_q336_margins_nonnegative_and_bucketed(spark):
    rows = QUERIES["q336_contrastive_margins"].builder(spark, SF_SMOKE).collect()
    assert len(rows) >= 3  # a real distribution, not one bucket
    assert all(r["min_margin"] >= 0 for r in rows)  # rank-4 >= rank-1
    assert all(r["max_margin"] >= r["min_margin"] for r in rows)
    assert all(r["n_triplets"] > 0 for r in rows)
