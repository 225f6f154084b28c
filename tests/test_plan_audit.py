"""Suite-wide physical-plan audit.

Builds every declared (non-streaming) query's executed plan at smoke scale
once and asserts that cartesian products / broadcast nested-loop joins
appear ONLY where they are a deliberate, bounded design choice, and Python
executor nodes only in the declared Python surfaces.  A new query that
accidentally introduces an unbounded cross join fails here before it ever
reaches a benchmark.
"""

from __future__ import annotations

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

# name -> why the cartesian/nested-loop is intentional AND bounded
CARTESIAN_ALLOWED = {
    "q16_cross_join": "declared CROSS JOIN surface item (5x5 dims)",
    "q51_ngram_jaccard_pairs": "bounded pairwise verify kernel (documented parity item)",
    "q54_cosine_topk_int": "brute-force correctness baseline: 8 query rows x corpus",
    "q55_cosine_topk_brute": "brute-force correctness baseline: 8 query rows x corpus",
    "q90_funnel": "scalar first-step bound broadcast (1-row side)",
    "q106_kmeans_assign": "broadcast K=8 centroid assignment (corpus never shuffles)",
    "q122_contamination_check": "two 1-row audit aggregates joined",
    "q124_source_overlap_sketch": "20-source sketch pair grid (190 rows)",
    "q125_hypertable_rollup": "1-row bounds x 720-hour axis x 5-type dim",
    "q126_gap_fill_locf": "1-row bounds x 720-hour axis x 5-type dim",
    "q130_histogram": "1-row (min,max) bounds broadcast into the bucketing expr",
    "q154_quality_weighted_sample": "1-row max-weight bound broadcast into the acceptance test",
    "q164_time_decay_agg": "1-row max-date bound broadcast into the decay weight",
    "q174_proportional_allocation": "1-row corpus total broadcast into the quota arithmetic",
    "q176_temperature_mixture": "1-row weight-sum/total broadcasts into the quota arithmetic",
    "q180_collocation_lift": "1-row total-token-count broadcast into the lift expression",
    "q195_tpch_q22_sales_opportunity": "1-row segment-average balance threshold broadcast",
    "q253_tpch_q11_shape": "1-row (total, cnt) threshold broadcast into the HAVING filter",
    "q197_pq_encode": "deterministic 8-row codebook broadcast (PQ assignment; corpus never shuffles)",
    "q205_semdedup": "broadcast corpus-derived-K centroid assignment + 1-row k bound (corpus never shuffles)",
    "q198_bm25_retrieval": "1-row corpus stats (N, avgdl) broadcast into the scoring expression",
    "q210_dsir_importance": "1-row (nr, nt) model-total broadcast into the ratio expression",
    "q211_calibration_sweep": "1-row (tpos, tneg) total broadcast into the confusion arithmetic",
    "q212_domain_mixture": "1-row global-baseline broadcast into the excess expression",
    "q215_jl_projection": "16-row sign-matrix broadcast (corpus map-only, zero shuffles)",
    "q216_vocab_coverage": "4-row vocabulary-size grid broadcast over the vocab count table",
    "q217_gate_agreement": "1-row corpus-mean bits/bigram broadcast into the gate predicate",
    "q218_ivfpq_search": "4-row coarse + 8-row PQ codebook broadcasts (index build is map-only)",
    "q219_hybrid_rrf_retrieval": "1-row query-vector and corpus-stats broadcasts into the scoring",
    "q220_kmeans_lloyd_rounds": "k=4 broadcast-centroid assignment per round (corpus never shuffles)",
    "q222_bloom_membership_audit": "two 1-row occupancy aggregates cross-joined onto the 1-row audit",
    "q226_bpe_train_rounds": "1-row top-merge and symbol-count broadcasts per round (state is vocab-sized)",
    "q232_ann_recall_audit": "q218's bounded index broadcasts + 8-query brute-force ground truth (the audit sample)",
    "q242_scalar_index_audit": "two 1-row path summaries (direct vs index) cross-joined into the audit row",
    "q243_bloom_skipping": "fragment list x 2-row broadcast probe grid (bounded audit axes)",
    "q246_bloom_join_reduction": "four 1-row path summaries cross-joined into the audit row",
    # round 7
    "q259_late_interaction": "8-row query-token broadcast (requests are request-sized at any corpus size)",
    "q260_epoch_allocation": "two 1-row total broadcasts into source-sized allocation arithmetic",
    "q262_shard_rebalance_audit": "<=64-row virtual-node ring broadcasts (fixed at any corpus size)",
    "q264_pq_distortion_audit": "deterministic 8-row codebook broadcast (q197's encode pass)",
    "q265_ivf_growth_audit": "4-row coarse-centroid broadcast + 1-row total into share arithmetic",
    "q267_corpus_drift": "1-row slice-total broadcast into the ppm-share expression",
    "q268_bitmap_day_index": "1-row min-day bound + 5-row mask-table pair grid (type-count-sized)",
    "q270_knn_graph": "q205's routed assignment: 1-row (k, m) bounds + sqrt(k) super broadcasts",
    "q271_retrain_transition": "k=4 old/new centroid broadcasts (corpus never shuffles to be assigned)",
    "q276_tpch_refresh": "1-row MAX(o_orderkey) re-key bound broadcast into the insert slice",
    "q288_weekly_churn": "1-row (min, max) week bounds broadcast into the lapse predicates",
    "q291_order_backlog_aging": "1-row MAX(o_orderdate) bound broadcast into the bucket arithmetic",
    "q293_user_concentration": "1-row (n_users, n_events, k) bound broadcast into the top-k cut",
    # round 8
    "q300_cell_radius_audit": "q205's routed assignment: 1-row (k, m) bounds + sqrt(k) super broadcasts",
    "q303_copurchase_pairs": "1-row distinct-order-count bound broadcast into the lift expression",
    "q307_linear_attribution": "two 1-row purchase/attributed censuses cross-joined into the none row",
    "q308_perplexity_tertiles": "1-row corpus-total + two 1-row tertile-threshold bounds broadcast into the classifier",
    "q309_bloom_sizing_plan": "2-row constant fpp-target grid broadcast over the fragment census",
    "q312_deletion_cascade": "three (total, deleted) 1-row census pairs cross-joined per table row",
    "q313_incremental_lsh_maintenance": "1-row full/base/delta pair counts cross-joined into the law row",
    "q314_ab_srm_census": "1-row total-users bound broadcast into the mismatch arithmetic",
    "q316_storage_tiering_plan": "1-row max-day anchor + 1-row total broadcast over the day census",
    "q318_clustering_effectiveness": "1-row width bound + ~30-row probe list against 40 zonemap rows",
    # round 9
    "q272_lsh_tuning_curve": "4-row config spine + 1-row truth census cross-joined into the ppm arithmetic",
    "q325_compaction_execution": "two 1-row conservation censuses (direct vs grouped) cross-joined onto the group relation",
    "q323_quantile_merge_law": "5-row target grid against k*S-bounded summaries (non-equi crossing joins) + 1-row N/bound broadcasts",
    "q328_hnsw_layered_search": "8-row query broadcasts against the md5-thinned L2 layer and the brute-force audit side (q232's device); routed 1-row (k, m) bounds",
    "q331_matryoshka_truncation": "8-row query broadcasts against the corpus for both metrics (the q232 brute-force audit sample) + 8-row anchor broadcast",
    "q336_contrastive_margins": "q205's routed assignment: 1-row (k, m) bounds + sqrt(k) super broadcasts (q270's blocking)",
    "q339_zonemap_prune_execution": "per-predicate 1-row census/economics aggregates cross-joined onto the 3-predicate spine",
    "q340_sq_recall_audit": "8-row query broadcast against the corpus (the q232 brute-force audit sample)",
    "q341_neyman_allocation": "1-row weight-total/deficit broadcasts into stratum-sized allocation arithmetic",
    "q344_heavy_hitter_merge_law": "1-row theorem-bound broadcast onto the 10-row heavy-hitter relation",
    "q345_conjunctive_retrieval": "3-row query-pair spine self-join + 1-row decode-audit broadcast",
    "q347_systematic_resampling": "1-row corpus-mass broadcast calibrates the stress weight (map-side arithmetic)",
    "q349_multiprobe_lsh_audit": "5-row sign-matrix + 8-row query + 3-row depth-spine broadcasts (the q232 audit sample)",
    "q353_ushaped_attribution": "two 1-row purchase/attributed censuses cross-joined into the none row (q307's shape)",
    "q369_stratified_kfold_census": "5-row fold spine crossed with the distinct-lang relation (bounded dense grid)",
    # round-9 third batch (statistical audit censuses): every cross is a
    # fixed dim spine or a 1-row bound against an aggregate relation
    "q360_benford_audit": "9-digit spine crossed with the distinct-priority relation (45-cell dense grid)",
    "q361_autocorr_census": "5-row lag spine crossed with the day-count aggregate relation (calendar-bounded)",
    "q363_cusum_changepoint": "1-row (N, S) centering bounds broadcast into the day-walk arithmetic",
    "q364_heaps_law": "10-row decile spine + 1-row total bound against the crossing relation",
    "q365_chi2_independence": "1-row N bound + 5x5 dense contingency grid (marginal relations are dim-sized)",
    # round-9 fifth batch
    "q371_frequent_triples": "two 1-row basket-count bounds broadcast into the relative-support filters",
    "q372_cuped_adjusted_readout": "1-row grand-moment/theta bounds broadcast into the 2-row arm census",
    # round-9 sixth batch
    "q377_quantile_normalization": "1-row global-total bound broadcast into the decile arithmetic",
    "q379_median_of_medians_law": "1-row N bound + four 1-row quantile censuses cross-joined into the audit row",
    # round-9 seventh batch
    "q381_purchase_hazard_census": "1-row exit-total bound broadcast into the 4-row at-risk backsum",
    "q382_event_path_trigrams": "1-row trigram-total bound broadcast into the share arithmetic",
    "q385_decision_stump_gain": "9-row decile spine + threshold non-equi crossing joins against the frequency relation (q323's class) + 1-row label totals",
    # round-9 eighth batch
    "q386_mrr_retrieval_eval": "8-row query broadcast against the corpus (the q232 brute-force audit sample)",
    "q387_abc_pareto_classes": "1-row (revenue, part-count) totals broadcast into the class arithmetic",
    "q388_rfm_segmentation": "three 1-row tercile-cut broadcasts + the fixed 27-cell grid spine",
    "q390_session_stats_census": "1-row p50/total censuses cross-joined into the summary row",
    # round 10
    "q391_experiment_readout": "1-row grand-moment/theta/total bounds broadcast into the 2-arm censuses (q372's shape) + the fixed arm x step spine",
    "q392_ivf_append_maintenance": "1-row (k, m) routed bounds + sqrt(k) super broadcasts, three times (base postings, batch-only increment, rebuild) under the frozen router",
    # round 11
    "q394_hnsw_neighbor_search": "8-row query broadcasts against the md5-thinned N/64 entry layer and into the per-hop pool scoring (pool x fan-out rows); routed 1-row (k, m) bounds (q328's class)",
    "q395_lsh_fragment_pruning": "1-row fragment-width bound broadcast into the range assignment and the batch slice",
    "q396_hnsw_append_maintenance": "1-row (k, m) routed bounds + sqrt(k) super broadcasts under the frozen full-corpus router (substrate node set, rebuild, touched-cell recompute — q392's class)",
    "q397_ivf_delete_maintenance": "1-row (k, m) routed bounds + sqrt(k) super broadcasts, three times (stored postings, tombstone routing, rebuild) under the frozen full-corpus router (q392's class)",
}

# streaming builders start real runs; their plans are covered by the
# streaming tests instead
_STREAMING_PREFIXES = (
    "q61", "q62", "q79", "q80", "q87", "q104", "q105", "q109", "q245",
    "q296",  # the builder runs two real streams + a checkpoint replay
)


# Queries whose plans legitimately contain Python execution nodes: the
# declared Python-surface items (scalar/pandas UDF, UDAF, UDTF,
# applyInPandas, mapInPandas multimodal, Python DataSource) — everything
# else must stay pure JVM so whole-stage codegen and vectorized readers
# apply end-to-end.
PYTHON_ALLOWED = {
    "q44_python_udf": "declared Arrow-batched scalar pandas_udf surface",
    "q52_minhash_neardup": "Arrow-batched NumPy signature kernel (documented)",
    "q53_simhash_neardup": "Arrow-batched NumPy vote kernel (documented)",
    "q55_cosine_topk_brute": "Arrow-batched NumPy verifier baseline",
    "q56_cosine_topk_lsh": "Arrow matmul bucket keys (documented)",
    "q66_pandas_udaf": "declared pandas UDAF surface",
    "q67_python_udtf": "declared Python UDTF surface",
    "q68_apply_in_pandas": "declared applyInPandas surface",
    "q60_multimodal_features": "mapInPandas decode stage (multimodal surface)",
    "q70_ivf_topk": "Arrow-batched centroid assignment kernel",
    "q81_frame_sample": "mapInPandas 1->N frame fan-out (multimodal surface)",
    "q106_kmeans_assign": "Arrow-batched distance kernel",
    "q113_python_datasource": "Python DataSource scan (declared surface)",
    "q117_label_centroid_matrix": "Arrow-batched vector aggregation kernel",
    "q89_skyline": "partition-local NumPy sweep kernel (two-phase skyline design)",
    "q144_image_channel_stats": "real netpbm decode via mapInPandas (multimodal surface)",
    "q209_patch_pool": "real netpbm decode + patch pooling via mapInPandas (multimodal surface)",
    "q322_image_phash_neardup": "real netpbm decode + aHash via mapInPandas (multimodal surface)",
    "q178_map_in_arrow_census": "declared mapInArrow surface (Arrow-native census kernel)",
    "q179_apply_in_arrow_profile": "declared applyInArrow surface (grouped Arrow kernel)",
    "q324_audio_window_census": "real RIFF/WAV chunk-walk decode + windowing via mapInPandas (multimodal surface)",
    "q376_gram_matrix_census": "dim^2-bounded NumPy int64 X^T X kernel via mapInPandas (declared Arrow surface; sits behind the cell checkpoint boundary)",
    "q394_hnsw_neighbor_search": "per-query greedy-walk kernel via applyInPandas over the bounded cell-subgraph (route relationally, walk locally — 16 hop-joins as separate jobs cost 24 s in scheduling alone)",
}

_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "PythonMapInArrow")


@pytest.fixture(scope="module")
def plan_offenders(spark):
    """One walk over every declared plan for both audits: the queries with
    an unallowlisted cartesian / nested-loop join, and those with Python
    executor nodes outside the declared Python surfaces."""
    cartesian, python = {}, {}
    for name, spec in QUERIES.items():
        if name.startswith(_STREAMING_PREFIXES):
            continue
        plan = (
            spec.builder(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and (
            name not in CARTESIAN_ALLOWED
        ):
            cartesian[name] = True
        hits = [n for n in _PY_NODES if n in plan]
        if hits and name not in PYTHON_ALLOWED:
            python[name] = hits
    return cartesian, python


@pytest.mark.slow
def test_no_unintended_cartesian_products(plan_offenders):
    offenders = plan_offenders[0]
    assert not offenders, (
        f"unallowlisted cartesian/nested-loop joins in: {sorted(offenders)} — "
        "either fix the plan or document why it is bounded in CARTESIAN_ALLOWED"
    )


@pytest.mark.slow
def test_no_python_outside_declared_surfaces(plan_offenders):
    """Python executor nodes may appear ONLY in the declared Python-surface
    queries — a regression here silently drops a hot path out of codegen."""
    offenders = plan_offenders[1]
    assert not offenders, (
        f"undeclared Python execution nodes: {offenders} — vectorize via "
        "built-in functions or add to PYTHON_ALLOWED with a documented reason"
    )
