"""Operator registry: every driver-visible query in one place.

``registry()`` returns {name: callable(spark, sf_dir) -> DataFrame}, the
backing store for ``__spark_entry__.queries()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    curation,
    dedup,
    multimodal,
    relational,
    rollups,
    similarity,
    text,
    timeseries,
    windows,
)
from ..sources import files as _sources_files
from ..sources import pydatasource as _sources_pyds
from ..storage import bucketing as _storage_bucketing
from ..storage import layout as _storage_layout
from ..streaming import pipeline as _streaming_pipeline

# Ordered (module, names) blocks.  ORDER MATTERS: the driver's correctness
# gate checks the first 50 registry entries, so the order is a ROTATION
# LEDGER — entries sorted by (1) changed this round, (2) staleness of
# their last green driver row.  Each round: sections that just earned
# green rows rotate to the tail; the stalest promote into the gate, so
# no entry goes 2 rounds unchecked.
#
# r14 pass: the r13 gate went 50/50 (the first all-green round).  Per
# verdict #2 those 50 rows rotate to the tail (section 11) and the gate
# refills with the STALEST evidence: the r5/r6 rows the r13 new-op
# influx displaced past position 50 (user_sessionization,
# last_purchase_asof, customers_without_orders, scene_change_flags,
# kmeans_train + the rest of the old r5 section, all r5-green) lead,
# then the round-6 section fills to 50.  Section 1 holds the ops BORN
# or CHANGED this round (r14) — each takes a gate slot the day it
# lands, sliding the r6 fill out; re-run the position-50 boundary
# check after every addition.
# STANDING RULE (verdict #2): a NEW op's first driver row lands the
# round it is born; park only metadata-only ops, never two rounds
# running.
#
# r14 FINAL gate composition (position check run at close): 10 new r14
# ops + the 24 displaced r5 rows + the r6 section through
# cohort_retention (position 50); zero gate rows whose latest green is
# r13.  The r6 remainder from value_quantity_correlation onward (r6
# section tail + r8 section) is next-stalest and leads the r15 refill
# after any r15 births.
#
# r16 pass: the r15 gate re-ran the r14 50 unchanged (VERDICT r15), so
# those rows, green twice, rotate to the tail (section 12).  Section 1
# holds the 40 ops whose build path the driver-memo routing moved, or
# that now share its epoch-split / A1 re-sum helpers; six of them were
# r14/r15 gate rows (bpe_train_merges, bpe_tokenize_stats,
# statestore_inspect, the orc/json/csv round-trips) and re-gate as
# changed.  The stalest rows fill the rest: the r6 section tail from
# value_quantity_correlation (last driver rows r13).  Position check at
# close: 40 changed ops + 10 r6-tail rows through
# arrow_grouped_label_profile (position 50); hybrid_search_topk is 51st.
#
# r17 pass: global_totals, category_revenue_share and hourly_trend now
# read the stored A1 rollup (``rollups.stored_a1``), and
# mv_consistency_report scans events itself: those four lead section 1 and
# push 4 r6-tail rows out.  Position check: 44 changed ops + 6 r6-tail
# rows through dense_hourly_series (position 50); approx_value_percentiles
# is 51st.
#
# r18 pass: ZSTD became the engine's parquet and state-store codec, and
# the wire path sorts each raw epoch by the ORDER BY key.  Section 1 now
# leads with the ops that read Spark-written files outside Spark's
# parquet reader (pyarrow footers: explain_estimate_scan and the txlog
# zone-map reads, txlog_pruned_read, txlog_zorder_pruned_read and the
# three IVF index ops) and the state-store ops (statestore_inspect,
# stream_dedup_events).  Five of them were already gate rows; the three
# IVF ops push 3 r6-tail rows out.  Position check: 47 changed ops + 3
# r6-tail rows through value_equidepth_histogram (position 50);
# interpolated_hourly_series is 51st.
#
# r19 pass: the ten streaming proofs now run through one replay harness
# (``pipeline._replay_stream``) in a child session, from one replay-source
# builder.  They lead section 1; all ten were already gate rows (two in
# r18's section, eight in r16's), so the gate's membership is unchanged.
# Position check: 47 changed ops + 3 r6-tail rows through
# value_equidepth_histogram (position 50); interpolated_hourly_series is
# 51st.
#
_NAMES = [
    # -- 1. CHANGED this round (r19): the streaming proofs that run
    #    through the one replay harness --
    (_streaming_pipeline, [
        "statestore_inspect",
        "stream_dedup_events",
        "stream_ohlc_bars",
        "stream_sessionize_events",
        "stream_windowed_rollup_events",
        "stream_sliding_rollup_events",
        "stream_running_totals_events",
        "stream_join_orders_acks",
        "stream_join_orders_acks_outer",
        "stream_static_enrich",
    ]),
    # -- CHANGED in r18: pyarrow footer readers of Spark-written
    #    parquet (the state-store ops moved up in r19) --
    (_streaming_pipeline, [
        "txlog_pruned_read",
        "explain_estimate_scan",
        "txlog_zorder_pruned_read",
    ]),
    (similarity, [
        "ann_ivf_delete_vectors",
        "stream_ivf_index_ingest",
        "ann_ivf_incremental",
    ]),
    # -- CHANGED in r17: the stored-A1 panels and the MV
    #    audit's raw path --
    (rollups, [
        "global_totals",
        "category_revenue_share",
        "hourly_trend",
        "mv_consistency_report",
    ]),
    # -- CHANGED in r16: every op whose build path the
    #    memo routing moved (build-once tables, replay sources, file
    #    mirrors, the IVF index table, BPE merges -> _memo; the bucketed
    #    tables and DLQ scans -> the session memo), then the ops that
    #    now share the one epoch split / A1 re-sum helpers --
    (_streaming_pipeline, [
        "hourly_trend_from_rollup",
        "table_parts_report",
        "txlog_time_travel",
        "txlog_changes_feed",
        "txlog_restore_version",
        "txlog_bloom_pruned_read",
    ]),
    (_storage_layout, [
        "order_update_mutation",
        "gdpr_delete_audit",
        "dynamic_partition_backfill",
        "ttl_move_tiering",
    ]),
    (_storage_bucketing, [
        "bucketed_orders_lineitem_join",
    ]),
    (_sources_files, [
        "json_roundtrip_rollup",
        "csv_roundtrip_stats",
        "orc_roundtrip_stats",
        "xml_roundtrip_stats",
    ]),
    (similarity, [
        "ann_ivf_persisted",
    ]),
    (text, [
        "bpe_train_merges",
        "bpe_tokenize_stats",
    ]),
    (_streaming_pipeline, [
        "incremental_hourly_rollup",
        "incremental_daily_region_rollup",
        "incremental_rollup_txlog",
        "compacted_rollup_txlog",
        "txlog_vacuum_retention",
        "txlog_schema_evolution",
        "aggregating_merge_sketch_mv",
        "percentile_kll_mv",
        "percentile_merge_mv",
    ]),
    # -- 2. stalest evidence fills the gate: the r6 section tail from
    #    value_quantity_correlation on (last driver rows r13) --
    (timeseries, [
        "value_quantity_correlation",
        "value_histogram",
        "value_equidepth_histogram",
        "interpolated_hourly_series",
        "daily_revenue_trend",
        "dense_hourly_series",
        "approx_value_percentiles",
        "top_event_types_sketch",
        "value_dispersion",
    ]),
    (similarity, [
        "arrow_grouped_label_profile",
        "hybrid_search_topk",
        "embedding_prototypicality",
    ]),
    (relational, [
        "recursive_decay_ladder",
        "lateral_top_customer_per_nation",
        "similar_customer_names",
        "priority_status_grouping_sets",
        "order_event_days_full_outer",
    ]),
    (_sources_pyds, [
        "python_datasource_scan",
    ]),
    (curation, [
        "shard_packing_efficiency",
        "train_test_split",
        "temperature_mix_weights",
    ]),
    (rollups, [
        "events_column_profile",
    ]),
    (text, [
        "vocab_oov_rate",
    ]),
    (multimodal, [
        "media_phash_clusters",
    ]),
    (windows, [
        "ewma_daily_revenue",
        "revenue_anomaly_days",
        "trailing_30d_revenue",
    ]),
    # -- 6. round-8 section --
    (_sources_pyds, [
        "python_stream_datasource_rollup",
        "python_stream_datasource_sink_rollup",
    ]),
    (similarity, [
        "ann_pq_adc_topk",
        "ann_ivfpq_topk",
    ]),
    (text, [
        "ngram_phrases_udtf",
    ]),
    (relational, [
        "cdc_scd2_history",
        "scd2_asof_lookup",
        "join_size_estimate",
    ]),
    (_storage_bucketing, [
        "join_key_skew_report",
    ]),
    (curation, [
        "source_quota_cap",
        "leakage_safe_split",
    ]),
    (timeseries, [
        "event_sequence_counts",
        "event_type_transitions",
    ]),
    (relational, [
        "customer_blocking_linkage",
    ]),
    (_streaming_pipeline, [
        "scd2_stored_history",
    ]),
    (similarity, [
        "ann_ivfpq_rerank_topk",
    ]),
    (dedup, [
        "minhash_index_ingest",
    ]),
    (curation, [
        "global_shuffle_shards",
    ]),
    (timeseries, [
        "window_funnel_strict",
        "max_concurrent_intervals",
        "weighted_value_percentiles",
        "error_recovery_asof",
        "delta_sum_counters",
        "interval_union_length",
        "argminmax_battery",
        "robust_outlier_days",
        "funnel_step_latency",
        "welch_ttest_values",
        "mann_whitney_u",
        "ks_test_statistic",
        "simple_linreg_trend",
        "skew_kurt_battery",
        "cramers_v_assoc",
        "retention_conditions",
        "sequence_next_node",
        "student_ttest_values",
        "lttb_downsample_daily",
    ]),
    (rollups, [
        "conditional_agg_rollup",
    ]),
    (dedup, [
        "ngram_novelty_score",
    ]),
    (curation, [
        "quality_linear_probe_train",
    ]),
    (text, [
        "quality_pr_sweep",
    ]),
    (multimodal, [
        "audio_vad_segments",
    ]),
    # -- 7. round-9 section --
    (timeseries, [
        "summap_event_values",
    ]),
    (windows, [
        "group_array_moving_sum",
    ]),
    (similarity, [
        "ann_recall_at_k",
        "ann_pq_recall_at_k",
        "ann_ivfpq_recall_at_k",
    ]),
    (dedup, [
        "minhash_scurve_report",
    ]),
    (timeseries, [
        "dau_wau_stickiness",
        "corr_matrix_daily",
    ]),
    (similarity, [
        "mrl_truncation_recall",
        "ann_mrl_adaptive_rerank",
    ]),
    (timeseries, [
        "holt_linear_forecast",
        "spearman_rank_corr",
        "kendall_tau_b",
        "revenue_concentration",
        "cohort_ltv_curve",
        "cusum_changepoint",
        "seasonal_dow_index",
        "weekday_anova_f",
        "daily_revenue_acf",
        "window_funnel_default",
        "topk_weighted_users",
    ]),
    (similarity, [
        "ann_hamming_topk",
        "ann_hamming_recall_at_k",
    ]),
    (timeseries, [
        "minmax_map_event_values",
        "uniq_upto_battery",
        "quantile_conventions_battery",
    ]),
    (similarity, [
        "embedding_source_drift",
    ]),
    (timeseries, [
        "bitwise_agg_battery",
        "daily_ohlc_bars",
        "hourly_gap_fill_locf",
        "ab_assignment_srm",
        "k_anonymity_report",
        "conversion_rate_wilson_ci",
        "split_gini_gain",
        "rfm_segments",
    ]),
    (similarity, [
        "ann_hamming_rerank_topk",
    ]),
    (multimodal, [
        "media_exact_dedup",
    ]),
    (text, [
        "tokenizer_fertility_by_source",
        "vocab_growth_curve",
    ]),
    (similarity, [
        "embedding_quality_audit",
    ]),
    (timeseries, [
        "session_path_topk",
        "yoy_monthly_growth",
        "new_vs_returning_daily",
    ]),
    # -- 8. round-10-green evidence (freshest driver rows: the r10
    #    gate block incl. the refreshed r4 dashboard/TPC-H family) --
    (timeseries, [
        "window_funnel_strict_dedup",
        "sequence_match_gap_battery",
    ]),
    (curation, [
        "epoch_mixture_schedule",
    ]),
    (multimodal, [
        "media_shard_packing",
    ]),
    (similarity, [
        "ann_ivf_nprobe_sweep",
    ]),
    (dedup, [
        "lsh_band_autotune",
        "near_dup_threshold_sweep",
        "minhash_near_dup",
        "near_dup_source_matrix",
    ]),
    (timeseries, [
        "power_user_curve",
    ]),
    (relational, [
        "q22_idle_rich_customers",
    ]),
    (rollups, [
        "hourly_category_rollup",
        "daily_region_rollup",
        "region_revenue_sorted",
    ]),
    (relational, [
        "q1_pricing_summary",
        "q2_min_cost_supplier",
        "q3_shipping_priority",
        "q5_region_supplier_volume",
        "q6_forecast_revenue",
        "q8_market_share",
        "q9_product_type_profit",
        "q10_returned_items",
        "q11_important_parts",
        "q12_ship_channel_priority",
        "q13_customer_order_distribution",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q16_supplier_part_counts",
        "q17_small_quantity_revenue",
        "q18_large_volume_customers",
        "q19_bracket_predicates",
        "q20_promotion_suppliers",
        "q21_waiting_suppliers",
        "market_segment_totals",
        "customers_with_orders",
        "top_customers_by_revenue",
        "distinct_customers_per_nation",
        "repeat_customers_both_years",
        "one_year_only_customers",
        "priority_status_rollup",
        "status_pivot",
    ]),
    # -- 9. round-11-green evidence (freshest driver rows: the r11
    #    section-1 block, rotated to the tail after earning its rows;
    #    the re-gated r12 entries stay in section 1 above) --
    (timeseries, [
        "sparkbar_hourly_revenue",
        "bounding_ratio_battery",
        "quantile_timing_battery",
        "ip_functions_battery",
        "l_diversity_report",
        "prometheus_histogram_quantile",
        "date_functions_battery",
        "resample_combinator_battery",
        "proportions_ztest_cohorts",
        "min_sample_size_conversion",
        "contingency_coefficients",
        "derivative_battery",
        "asof_tolerance_enrich",
        "limit_with_ties_card",
        "bitmap_set_algebra",
        "array_set_ops_battery",
        "group_array_intersect",
        "bag_set_ops_battery",
    ]),
    (windows, [
        "group_array_moving_avg",
        "array_transform_battery",
    ]),
    (text, [
        "dsir_importance",
        "dsir_resample",
        "bigram_fluency",
        "contamination_check",
        "url_functions_battery",
        "token_diversity_simpson",
        "string_functions_battery",
    ]),
    (similarity, [
        "embedding_top_pc_power_iter",
        "embedding_near_dup",
        "ann_lsh_bucketed",
        "hard_negative_mining",
    ]),
    (dedup, [
        "minhash_contamination",
    ]),
    (curation, [
        "dedup_keep_best",
        "corpus_mix_report",
        "pack_training_shards",
        "span_corruption_plan",
    ]),
    (_streaming_pipeline, [
        "optimize_deduplicate_rollup",
    ]),
    (rollups, [
        "status_unpivot_roundtrip",
    ]),
    (relational, [
        "dq_expectations_report",
    ]),
    # -- 10. round-12-green evidence (freshest driver rows: the entire
    #    r12 gate minus time_bucket_battery — which re-gates with its
    #    fixed oracle — and ntile_value_bands — changed again r13;
    #    rotated to the tail after earning its rows, verdict #6) --
    (timeseries, [
        "distinct_agg_battery",
    ]),
    (windows, [
        "rolling_median_daily_revenue",
    ]),
    (relational, [
        "paste_join_battery",
        "any_join_battery",
        "limit_by_battery",
    ]),
    (text, [
        "language_id",
        "langid_confusion_matrix",
    ]),
    (_streaming_pipeline, [
        "stream_curation_ingest",
    ]),
    (relational, [
        "part_type_stats",
        "customer_name_features",
        "order_date_features",
        "price_band_join",
        "priority_status_cube",
    ]),
    (timeseries, [
        "session_window_rollup",
        "sliding_hourly_trend",
        "median_value_grouped_udf",
        "dashboard_cards_sql",
        "value_percentiles",
    ]),
    (similarity, [
        "embedding_quantize_int8",
    ]),
    (windows, [
        "cumulative_daily_revenue",
        "order_gaps_per_customer",
        "customer_order_rank",
    ]),
    (multimodal, [
        "decode_features",
    ]),
    (timeseries, [
        "events_props_normalize",
        "event_feature_map",
        "revenue_union_ledger",
        "approx_distinct_users",
    ]),
    (windows, [
        "top_parts_per_brand",
        "moving_avg_daily_revenue",
    ]),
    (dedup, [
        "dedup_exact",
        "simhash_near_dup",
        "substring_dedup_docs",
        "simhash_fingerprints",
    ]),
    (text, [
        "token_stats",
        "bpe_token_stats",
        "quality_score",
        "doc_fingerprint",
        "deterministic_sample",
        "stratified_sample",
        "tfidf_top_terms",
        "quality_filter_pipeline",
        "chunk_documents",
        "best_doc_per_source",
        "pii_scrub",
        "repetition_score",
        "gopher_quality_rules",
        "boilerplate_spans",
    ]),
    # -- 11. round-13-green evidence (the entire 50/50 r13 gate,
    #    rotated to the tail after earning its rows, verdict #6) --
    (timeseries, [
        "time_bucket_battery",
        "asof_nearest_battery",
    ]),
    (text, [
        "retrieval_eval_card",
    ]),
    (windows, [
        "ntile_value_bands",
    ]),
    (_streaming_pipeline, [
        "stream_media_ingest",
        "stream_semantic_ingest",
    ]),
    (timeseries, [
        "t_closeness_report",
    ]),
    (text, [
        "encoding_functions_battery",
        "quality_score_calibration",
        "quality_score_auc",
    ]),
    (multimodal, [
        "media_phash_near_dup",
    ]),
    (dedup, [
        "dedup_audit_sample",
    ]),
    (text, [
        "unicode_functions_battery",
    ]),
    (relational, [
        "schema_introspection_card",
    ]),
    (timeseries, [
        "avg_map_event_values",
        "null_semantics_battery",
    ]),
    (text, [
        "bpe_merge_topk",
    ]),
    (similarity, [
        "ann_query_broadcast_topk",
        "ann_cosine_topk",
        "ann_ivf_topk",
        "label_centroids",
        "ann_quantized_topk",
    ]),
    (multimodal, [
        "media_metadata_stats",
        "frame_sample_features",
        "resize_thumbnail",
        "media_phash",
    ]),
    (curation, [
        "lang_balance_resample",
    ]),
    (windows, [
        "order_value_distribution",
    ]),
    (relational, [
        "q4_late_shipment_priority",
        "q7_nation_volume_shipping",
    ]),
    (_streaming_pipeline, [
        "incremental_nation_rollup",
    ]),
    # -- 12. r14/r15-green evidence (the r14 gate, re-run unchanged in
    #    r15: two green driver rows; rotated to the tail) --
    (similarity, [
        "ann_ivf_quantizer_refresh",  # NEW r14: drift RESPONSE (verdict
        # #4) — refit quantizer on index ∪ drifted batch, re-cluster the
        # persisted index via one re-assigning ranged OPTIMIZE, serve
        # under the new quantizer; closes the last ANN production loop
    ]),
    (relational, [
        "dict_get_battery",  # NEW r14: ClickHouse dictionary family
        # (dictGet/OrDefault/Has/Hierarchy/IsIn) as literal in-plan maps
    ]),
    (_streaming_pipeline, [
        "projection_auto_route",  # NEW r14: ClickHouse PROJECTION —
        # per-insert partial-agg maintenance + transparent query routing
    ]),
    (timeseries, [
        "rounding_functions_battery",  # NEW r14: roundToExp2/roundDown/
        # roundAge/roundDuration ladders (bit-trick exp2, no log2)
    ]),
    (_streaming_pipeline, [
        "atomic_publish_consistent_serve",  # NEW r14: cross-table atomic
        # publish via one group commit; crash-sim staged batch excluded
    ]),
    (text, [
        "multisearch_functions_battery",  # NEW r14: position/multiSearch
        # family (leftmost-needle first-index, countSubstrings identity)
    ]),
    (dedup, [
        "exact_span_scrub",  # NEW r14: Lee-et-al span REMOVAL — excise
        # cross-doc duplicated 4-gram spans, reconstruct surviving text
    ]),
    (timeseries, [
        "sample_factor_estimate",  # NEW r14: SAMPLE k + _sample_factor
        # (portable-hash user cohort, x5 scale-up next to exact + ppm err)
    ]),
    (_streaming_pipeline, [
        "stream_exact_ingest",  # NEW r14: the FOURTH arrival-lifecycle
        # modality — exact content-key dedup, proving the harness claim
        # (a new modality costs a kernel); closed-form window oracle
    ]),
    (multimodal, [
        "cdc_chunk_dedup",  # NEW r14: content-defined chunking dedup
        # (rolling-hash boundaries; rsync/restic-style byte dedup card)
    ]),
    (_storage_bucketing, [
        "top_orders_per_priority_salted",
    ]),
    (timeseries, [
        "user_sessionization",
        "last_purchase_asof",
    ]),
    (relational, [
        "customers_without_orders",
    ]),
    (multimodal, [
        "scene_change_flags",
    ]),
    (similarity, [
        "kmeans_train",
        "ann_ivf_kmeans",
        "semantic_dedup",
        "embedding_norm_arrow",
        "embedding_random_projection",
        "ann_rp_topk",
    ]),
    (dedup, [
        "near_dup_clusters",
        "near_dup_pagerank",
        "near_dup_triangles",
    ]),
    (curation, [
        "weighted_sample_aes",
    ]),
    (relational, [
        "brand_basket_lift",
        "cdc_apply",
    ]),
    (rollups, [
        "rollup_cascade",
    ]),
    (windows, [
        "value_rank_battery",
    ]),
    (text, [
        "build_inverted_index",
        "bm25_topk",
        "split_sentences_udtf",
    ]),
    (dedup, [
        "ngram_jaccard_pairs",
    ]),
    (_streaming_pipeline, [
        "replacing_merge_latest",
        "replacing_merge_tombstone",
        "collapsing_merge_net",
        "versioned_collapse_current",
        "dedup_ingest_documents",
    ]),
    (timeseries, [
        "variant_props_rollup",
        "user_overlap_matrix",
        "sketch_rollup_distinct_users",
        "winsorized_value_stats",
        "funnel_steps",
        "cohort_retention",
    ]),
]



def registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod, names in _NAMES:
        for n in names:
            if n in out:
                raise ValueError(f"duplicate registry entry: {n}")
            out[n] = getattr(mod, n)
    return out
