"""Catalog aggregator: importing this module registers every query
family into ``CATALOG`` (see ``registry.py`` for parity conventions)."""

from .registry import CATALOG, QuerySpec, register  # noqa: F401

from . import q_core  # noqa: E402,F401
from . import q_agg  # noqa: E402,F401
from . import q_window  # noqa: E402,F401
from . import q_join  # noqa: E402,F401
from . import q_ml  # noqa: E402,F401
from . import q_ts  # noqa: E402,F401
from . import q_pipeline  # noqa: E402,F401
from . import q_ml2  # noqa: E402,F401
from . import q_anomaly  # noqa: E402,F401
from . import q_anomaly_full  # noqa: E402,F401
from . import q_misc  # noqa: E402,F401
from . import q_lsh  # noqa: E402,F401
from . import q_range  # noqa: E402,F401
from . import q_bands  # noqa: E402,F401
from . import q_enrichment  # noqa: E402,F401
from . import q_composites  # noqa: E402,F401
from . import q_fitness_risk  # noqa: E402,F401
from . import q_retrieval  # noqa: E402,F401
from . import q_incremental  # noqa: E402,F401
from . import q_funnel  # noqa: E402,F401
from . import q_graph  # noqa: E402,F401
from . import q_skew  # noqa: E402,F401
from . import q_layout  # noqa: E402,F401


# Catalog iteration order.  The external correctness harness snapshots
# only the FIRST 50 entries, so the head of ORDER is the window: it
# fronts the entries with the oldest (or no) external correctness row,
# as listed by `python scripts/check_parity.py --staleness`, plus any
# entry whose code changed since its last row.  Moving the window means
# editing this tuple.  Entries registered but not named here keep their
# registration order after it.
ORDER = (
    # the window: the first 50 entries
    "a32_winsorized_mean", "a33_mad_robust_scale", "a35_grouped_mode",
    "c22_leave_last_out_split", "c23_source_contamination_matrix",
    "c25_context_budget_curve", "d11_minhash_calibration",
    "g7_degree_powerlaw", "g8_hits", "k4_range_partition_planner",
    "mm8_scene_cuts", "o14_map_precision_recall",
    "o15_bradley_terry_strengths", "t20_binary_segmentation", "t21_ljung_box",
    "t22_bh_fdr", "t23_seasonal_mann_kendall", "v13_centroid_drift_matrix",
    "x29_distinct_ngram_diversity", "x30_unigram_js_source_drift",
    "x31_tokenizer_fertility", "x32_pmi_collocations",
    "x33_judge_agreement_kappa", "x34_gopher_quality_rules", "g3_bfs_hops",
    "g5_kcore", "g6_label_propagation", "x12_bpe_merges",
    "i3_stream_window_replay", "i4_stream_join_replay",
    "i8_stream_runs_replay", "i9_stream_outer_join_replay",
    "c18_cluster_safe_split", "v9_semantic_dedup", "d10_performance_trends",
    "v12_mips_norm_pruned", "d3_minhash_lsh_pairs", "d4b_simhash_pairs",
    "d6_decontamination", "d8_containment_pairs", "g1_pagerank",
    "i1_incremental_dedup_replay", "i5_stream_dedup_replay",
    "i6_stream_session_replay", "i7_cdc_versioned_replay", "j14_scd2_lookup",
    "j7_nearest_date_asof", "j9_backward_asof", "m14_star_rating",
    "m15_training_gaps",
    # the rest
    "a29_poisson_bootstrap", "a31_trimmed_mean", "c19_split_leakage_audit",
    "c20_effective_tokens", "c21_mixture_waterfill", "k3_hot_key_report",
    "m17_isotonic_calibration", "o13_mrr_hit_eval", "t19_seasonal_strength",
    "w19_sliding_distinct_hll", "x24_calibration_ece",
    "x25_auc_discrimination", "x28_good_turing", "j12_interval_overlap",
    "j1_revenue_by_nation", "j4_having_incomplete", "j5_using_join_trend",
    "j6_preagg_join", "m5b_huber_baseline", "m5c_huber_irls",
    "o2_topk_closeness", "o4_pagination", "p2_point_lookup", "p3_date_range",
    "p4_null_guards", "p5_tolerance_band", "p6_like_filter",
    "p8_pushed_postfilter", "p9_in_list", "s3_projection_scan",
    "s7_sql_passthrough", "t10_gap_fill_ffill", "t11_time_weighted_avg",
    "v1_cosine_topk", "v4_srp_lsh_pairs", "w10_downsample",
    "w11_scd2_intervals", "w4_centered_rolling", "w6_rolling_90d_max",
    "x14_bigram_logprob", "x15_heavy_hitters", "a17_retention_cohorts",
    "a18_cube_volumes", "a19_percentile_bands", "a1_stats_block",
    "a20_sketch_rollup", "a9_profile_table", "c15_weighted_sample",
    "d1_exact_hash_groups", "a24_ks_two_sample", "a25_weighted_median",
    "a27_chi_square_drift", "a28_higher_moments", "c17_psi_drift",
    "i10_stream_static_enrich_replay", "mm6_image_ahash_neardup",
    "mm7_audio_energyhash_neardup", "o12_kwic_snippets", "s12_orc_roundtrip",
    "t18_mann_kendall", "v11_prefix_dim_rerank", "w18_rolling_corr",
    "x19_token_entropy", "x21_zipf_fit", "x23_langid_eval",
    "t5_recommendations", "t5_severity_clusters", "t6_interval_fatigue",
    "t6_work_recovery", "t7_range_resolution_stats", "t8_material_event_rates",
    "w3_latest_record", "w7_baseline_band", "w9_durability_decoupling",
    "x10_unigram_logprob", "x11_boilerplate_segments", "x13_bpe_token_counts",
    "a11_weighted_avg", "a13_distribution", "a2_time_range_stats",
    "a4_daily_rollup", "a5_monthly_volume", "a5_weekly_volume",
    "a6_conditional_halves", "a8_count_distinct", "a9b_profile_approx",
    "c11_doc_chunks", "c12_quality_budget_select", "c13_per_group_sample",
    "c14_top_p_select", "d2b_jaccard_capped_shingles",
    "d7_segment_dedup_rewrite", "i2_incremental_lsh_replay", "j10_cdc_apply",
    "j11_snapshot_diff", "a21_hdr_quantile_sketch", "a22_countmin_sketch",
    "a23_hll_audience_overlap", "c16_temperature_mix",
    "g2_connected_components", "g4_triangle_count", "j16_bloom_pruned_join",
    "m16_theil_sen", "o10_keyset_pagination", "o9_ndcg_eval",
    "s10_partition_pruned_scan", "s11_corrupt_tolerant_json",
    "s9_schema_evolution", "t16_holt_linear", "t17_holt_winters",
    "w16_sliding_distinct_users", "x17_trigram_backoff", "x18_heaps_law",
    "z1_zorder_layout", "a12_group_collect", "a14_weekly_median_delta",
    "a7_zone_distribution", "c10_leakage_safe_split", "c7_sequence_packing",
    "c8_shard_assignment", "c9_webdataset_roundtrip", "d8_form_efficiency",
    "d9_hr_efficiency", "e2_cadence_rating", "e3_power_efficiency",
    "e4_terrain_type", "e5_environmental", "e6_role_phase",
    "e7_pace_cumulative", "j2_filtered_dim_join", "m10_fitness_curve",
    "m11_race_prediction", "m2_loo_fragility", "m4_ols_vif",
    "m9_critical_speed", "mm4_audio_decode", "mm5_frame_sample",
    "o3_top5_by_abs_z", "o5_tiebreak_ranking", "s5_export_roundtrip",
    "k1_salted_hot_key_agg", "k2_salted_skew_join", "w15_ewma_blocked",
    "d9_bloom_decontaminate", "j15_bucketed_colocated_join", "o8_rrf_hybrid",
    "a10_histogram", "a15_multi_rollup", "c1_training_prep",
    "c2_stratified_sample", "c3_curation_record", "c5_quality_audit",
    "c6_mixture_report", "d2_ngram_jaccard_pairs", "d4_simhash_fingerprints",
    "d5_dedup_clusters", "j8_nearest_covariate", "m13_weighted_similarity",
    "m3_multivariate_ols", "m7_vdot", "m8_best_segment", "mm1_binary_metadata",
    "p7_json_predicate", "s2_descriptor_pivot", "s4_watermark_cursor",
    "t2_t4_anomaly_pipeline", "t5_cluster_buckets", "t9_event_sessions",
    "v2_cosine_dup_pairs", "v4b_srp_multiprobe", "v5_batch_topk", "v6_sq_topk",
    "v7_embedding_outliers", "w1_zscore_outliers", "w2_latest_per_key",
    "w8_streaks", "x5_redact_pii", "x6_tfidf_topk", "x7_bm25_search",
    "x8_repetition_signals", "x9_vocab_stats", "s1_json_schema_parse",
    "j3_join_latest_in_window", "a3_bulk_per_key_avg", "e1_hr_zone",
    "m12_injury_risk", "t4_full_causes", "mm2_decoded_features",
    "t12_funnel_conversion", "v10_ivf_recall_verdict", "w12_ewma_halflife",
    "w13_rolling_median_7d", "x16_dsir_importance",
    "t13_seasonal_naive_backtest", "s8_csv_roundtrip", "v10b_ivf_query_path",
    "o7_mmr_rerank", "t14_cusum_drift", "t15_autocorr_lag1",
    "w14_seasonal_decompose", "v3_ivf_topk", "v8_pq_topk", "v8b_pq_query_path",
    "m3b_hinge_heat_model", "m5_powerlaw_baseline", "m6_baseline_scoring",
    "p1_allowlist_projection", "x1_text_quality", "x2_language_id",
    "x3_content_fingerprint", "x4_token_counts", "q1_pricing_summary",
    "m1_linregress_by_group", "t3_sustained_islands", "w5_acwr_rolling_loads",
    "mm3_image_decode",
)


def apply_order(catalog: dict, order: tuple) -> None:
    """Reorder ``catalog`` in place: ``order`` first, then every other
    entry in registration order."""
    seen: set[str] = set()
    for name in order:
        if name in seen:
            raise ValueError(f"duplicate catalog name in ORDER: {name}")
        if name not in catalog:
            raise ValueError(f"unknown catalog name in ORDER: {name}")
        seen.add(name)
    ordered = {n: catalog[n] for n in order}
    ordered.update((n, s) for n, s in catalog.items() if n not in seen)
    catalog.clear()
    catalog.update(ordered)


apply_order(CATALOG, ORDER)
