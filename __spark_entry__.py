"""Driver contract for the spark-graft builder (PySpark target).

Registers every implemented operator from SURVEY.md §2 plus the
LLM-data-pipeline extensions, each with a DuckDB oracle twin in
:func:`oracle_sql` (order-insensitive value-hash comparison at sf0.01).

Cross-engine determinism conventions (see beauty_lakehouse_spark.functions):
- hashes are md5-derived (``portable_hash64``) — identical in both engines;
- money/ratios are rounded AND aliased identically on both sides;
- timestamps compare as integer epoch-µs (DuckDB truncates the fixtures'
  TIMESTAMP(NANOS) to µs exactly like our catalog's nanos→µs rebuild);
- DuckDB ``sum(int)`` returns HUGEINT and ``len``/``year``/``row_number``
  return BIGINT, so oracles cast to BIGINT/INTEGER to match Spark's types.

Approximate / non-SQL-expressible ops (ANN search, multimodal feature
extraction) are registered WITHOUT an oracle — the driver records a
rows-only check, and tests assert their semantic properties (recall,
determinism) instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beauty_lakehouse_spark import catalog, streaming, tables
from beauty_lakehouse_spark.functions import epoch_us
from beauty_lakehouse_spark.functions import halfup_div_sql as _hud
from beauty_lakehouse_spark.functions import isqrt_sql as _isq
from beauty_lakehouse_spark.functions import ln_micro_sql as _lnm
from beauty_lakehouse_spark.functions import normalized_text_hash_sql as _nth
from beauty_lakehouse_spark.functions import portable_hash64_sql as _p64
from beauty_lakehouse_spark.functions import splitmix60_sql as _smx
from beauty_lakehouse_spark.operators import (
    curation,
    decision_support,
    dedup,
    documents,
    events,
    graph,
    multimodal,
    quality,
    relational,
    similarity,
    temporal,
    text,
    warehouse,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H Q1-shaped pricing summary on sf0.001."""
    return warehouse.q_pricing_summary(spark, "/root/testdata/sf0.001")


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched multimodal feature extraction (fake kernel — the
    container has no codecs; rows-only check, determinism via pytest)."""
    t = catalog.load(spark, sf_dir)
    media = multimodal.media_from_documents(t.documents)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
        F.round(F.element_at("feature", 2), 6).alias("f1"),
    )


#: Tables (and their columns) the quality report runs over — must match
#: the oracle SQL generated in _quality_report_sql().
_QUALITY_TABLES = [
    "orders", "lineitem", "customer", "part", "supplier", "nation", "region",
]


def _q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    return quality.validate({n: t.table(n) for n in _QUALITY_TABLES})


#: Driver-gate walk order, round 12 (generated by
#: scripts/refront_order.py — rerun it whenever the registry changes
#: or a new CORRECTNESS_r*.json lands): the gate walks the first ~50
#: entries of queries(), so the front of this list IS the round's
#: verification budget. Invariant (enforced by
#: tests/test_sql_and_plans.py::test_driver_gate_front_policy): the
#: front slots are exactly (never-driver-verified oracle entries,
#: i.e. prior red rows + overflow residue + new-this-round entries);
#: then the previously-green rows stalest-first; the rows-only
#: entries dead last so no gate slot ever returns `no_oracle`.
_DRIVER_ORDER_R14 = [
    # --- never driver-verified: red rows + overflow residue +
    # --- new-this-round entries (gate front) ---
    # --- driver-green entries, stalest first ---
    # last driver-green r6
    "sole_late_supplier_orders",
    "min_cost_part_supplier",
    "nation_product_profit",
    "part_supplier_counts",
    "daily_revenue_gapfill",
    "basket_rules",
    "customer_spend_outliers",
    "product_pagerank_exact",
    "product_triangles",
    "minhash_estimate_error",
    "bigram_cross_entropy",
    "vocab_coverage",
    "decontaminate",
    "bloom_decontaminate",
    "mixture_temperature",
    "semantic_neardup",
    "corpus_survivors",
    "embedding_quantize_int8",
    "pca_power_iteration",
    "embedding_random_projection",
    "merge_upsert_state",
    "merge_changes_feed",
    "incremental_agg_state",
    "hll_distinct",
    "hll_users_by_event_type",
    "hll_set_algebra",
    "value_drift_report",
    "winsorized_value_stats",
    "mad_outlier_stats",
    "categorical_entropy",
    "revenue_gini",
    "events_hourly_streamed",
    "events_sessions_streamed",
    "dedup_groups_streamed",
    "latest_event_streamed",
    "events_dedup_streamed",
    "purchase_attribution_streamed",
    "hll_distinct_streamed",
    "dedup_incremental",
    "term_pmi_top_pairs",
    "part_golden_record",
    "copurchase_jaccard_top",
    "heavy_hitter_terms",
    "next_token_suggestions",
    "ccnet_buckets",
    # last driver-green r7
    "parts_per_type",
    "null_profile_orders",
    "events_by_type",
    "orders_per_customer",
    "order_revenue",
    "order_enriched_salted",
    "view_to_purchase_lag",
    "customer_rfm_segments",
    "nation_trade_volume",
    "never_urgent_rich_customers",
    "important_part_value",
    "dominant_part_suppliers",
    "order_docs_stats",
    "copurchase_edges",
    "customer_copurchase_top",
    "ngram_jaccard_top_pairs",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash_near_pairs",
    "setsim_prefix_join",
    "setsim_clusters",
    "substring_dedup",
    "lsh_index_maintained",
    "ann_topk_exactint",
    "winnow_overlap_top",
    "winnow_fps_streamed",
    "fuzzy_part_names",
    "bpe_train_merges",
    "bigram_novelty",
    "weighted_sample",
    "interleaved_mixture",
    "length_bucketed_batches",
    "curriculum_order",
    "corpus_training_plan",
    "contrastive_pairs",
    "corpus_datacard",
    "embedding_outliers",
    "label_embedding_scatter",
    "incremental_join_state",
    "quality_report",
    "cms_term_estimates",
    "hll_users_hourly_streamed",
    "cms_cells_streamed",
    "event_anomalies_streamed",
    "tfidf_top_terms",
    "embedding_neardup",
    # last driver-green r8
    "events_by_type_salted",
    "duplicate_orderkeys",
    "repeat_customers",
    "ri_orphan_lineitems",
    "region_mapping_conformance",
    "mktsegment_distribution",
    "order_enriched",
    "customer_order_stats",
    "topk_customers_by_revenue",
    "price_consistency",
    "date_rule_violations",
    "date_parse_roundtrip",
    "urgent_order_customers",
    "order_metrics_unpivot",
    "events_hourly",
    "events_sliding",
    "events_sessions",
    "events_json_props",
    "user_activity",
    "event_funnel",
    "purchase_time_since_view",
    "event_transitions",
    "events_preceding_5min",
    "user_type_pivot",
    "latest_event_per_user",
    "purchase_error_burst",
    "rolling_distinct_users",
    "fact_sales_summary",
    "revenue_rollup",
    "order_rank_per_customer",
    "customer_running_spend",
    "top_order_share",
    "order_latency",
    "customer_order_gaps",
    "sales_cube",
    "sales_grouping_sets",
    "customer_spend_ntile",
    "orders_above_customer_avg",
    "revenue_moving_avg",
    "order_value_percentiles",
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "revenue_forecast_delta",
    "ivf_topk_exactint",
    "pq_topk_exactint",
    "ivfpq_topk_exactint",
    "ddsketch_value_quantiles",
    "table_stats",
    "table_stats_streamed",
    # last driver-green r9
    "events_multires_rollup",
    "user_activity_streaks",
    "copurchase_cosine_top",
    "kaplan_meier_repeat",
    "segment_price_ttest",
    "events_rate_capped_streamed",
    "part_price_band_join",
    "status_bitmap_algebra",
    "kaplan_meier_streamed",
    "er_blocking_quality",
    "negative_sampling_table",
    "ldiversity_profile",
    "bootstrap_mean_ci",
    "copurchase_eval_hitrate",
    "price_drift_ks",
    "revenue_theil_sen",
    "view_purchase_join_streamed",
    "markov_conversion_prob",
    "segment_price_utest",
    "cuped_adjusted_diff",
    "bootstrap_mean_streamed",
    "brand_price_elasticity",
    "feature_hash_stats",
    "term_burstiness",
    "revenue_cusum",
    "knn_label_accuracy",
    "join_cardinality_estimate",
    "window_funnel_strict",
    "bbit_minhash_estimates",
    "fk_discovery",
    "range_partition_boundaries",
    "shapley_channel_attribution",
    "copurchase_kcore",
    "lang_id_kappa",
    "brand_return_bayes_rank",
    "revenue_pareto_cut",
    "supplier_hhi",
    "interpurchase_regularity",
    "neyman_allocation",
    "shard_rendezvous_stats",
    "zone_map_pruning",
    "part_pareto_frontier",
    "segment_weighted_quantiles",
    "copurchase_bfs_hops",
    "benford_price_digits",
    "table_checksums",
    "key_skew_profile",
    "events_multires_streamed",
    "orders_checksum_streamed",
    "bm25_topk",
    # last driver-green r10
    "order_interval_overlaps",
    "temporal_gap_coalesce",
    "sprt_decision",
    "sprt_streamed",
    "user_modal_event",
    "user_behavior_entropy",
    "events_rate_capped",
    "retention_decay_fit",
    "user_stickiness",
    "position_attribution",
    "time_decay_attribution",
    "selectivity_audit",
    "column_encoding_stats",
    "part_stock_balance",
    "nation_revenue_trend",
    "ngram_containment_top_pairs",
    "lsh_tuning_curve",
    "zipf_law_fit",
    "heaps_law_fit",
    "source_vocab_overlap",
    "bloom_semijoin_pushdown",
    "span_corruption_masks",
    "source_quota_apportionment",
    "orders_antientropy_sync",
    "segment_priority_chisq",
    "hot_keys_top",
    "randomization_test_diff",
    "ann_ndcg_exactint",
    "info_gain_features",
    "deterministic_random_walks",
    "label_propagation_communities",
    "fellegi_sunter_weights",
    "rake_keyword_scores",
    "rrf_fusion_exactint",
    "revenue_runs_test",
    "kmv_distinct_estimate",
    "bloom_fpr_audit",
    "mmr_rerank_exactint",
    "incremental_topk_state",
    "matryoshka_prefix_recall",
    "orders_partition_checksums",
    "orders_merkle_root",
    "kanonymity_profile",
    "table_release_gate",
    "ddsketch_quantiles_streamed",
    "user_modal_streamed",
    "copurchase_adamic_adar",
    "media_phash_pairs_exactint",
    "media_audio_pairs_exactint",
    "media_phash_stream",
    # last driver-green r11
    "mann_kendall_trend",
    "kruskal_wallis_segments",
    "brand_return_woe_iv",
    "spearman_price_qty",
    "gopher_quality_flags",
    "js_divergence_sources",
    "compaction_plan",
    "copurchase_ktruss",
    "silhouette_simplified",
    "twonn_intrinsic_dim",
    "gopher_quality_streamed",
    "revenue_acf",
    "tcloseness_profile",
    "mcnemar_lang_classifiers",
    "fleiss_kappa_langids",
    "cramers_v_matrix",
    "revenue_changepoint",
    "fim_transform",
    "vocab_richness",
    "cochran_armitage_trend",
    "logrank_segments",
    "ams_f2_estimate",
    "priority_sample",
    "page_hinkley_drift",
    "page_hinkley_streamed",
    "hits_hubs_authorities",
    "query_likelihood_lm",
    "effective_diameter",
    "isotonic_calibration",
    "dp_event_histogram",
    "exactsubstr_spans",
    "signbit_topk_exactint",
    "domain_dedup_mixture",
    "domain_dedup_streamed",
    "dsir_importance",
    "kneser_ney_bigrams",
    "hyperball_neighborhood",
    "tokenizer_fertility",
    "kmv_set_algebra",
    "calibration_report",
    "dsir_streamed",
    "hyperball_closeness",
    "good_turing_smoothing",
    "nb_lang_classifier",
    "nb_lang_streamed",
    "community_modularity",
    "clustering_coefficients",
    "degree_assortativity",
    "hilbert_curve_keys",
    # last driver-green r12
    "scalar_functions",
    "events_seasonality",
    "session_paths_top",
    "open_orders_daily",
    "hurst_rs",
    "holt_linear_forecast",
    "cliffs_delta",
    "wilcoxon_signed_rank",
    "ks_two_sample",
    "ks_two_sample_streamed",
    "order_metric_correlations",
    "hard_negative_mining",
    "textrank_keywords",
    "count_sketch_estimates",
    "burrows_delta",
    "cdc_chunks",
    "keyness_llr",
    "mlm_masks",
    "hill_tail_index",
    "theil_u_matrix",
    "cohort_ltv",
    "packing_efficiency",
    "nelson_aalen_repeat",
    "revenue_pacf",
    "media_dedup_clusters",
    "media_dedup_maintained",
    "media_phash_pairs_pngcodec",
    "lorenz_customer_deciles",
    "promo_revenue_share",
    "top_suppliers_by_volume",
    "late_ship_priority_orders",
    "linestatus_priority_counts",
    "customer_order_distribution",
    "top_revenue_suppliers",
    "small_quantity_part_revenue",
    "large_order_customers",
    "brand_size_band_revenue",
    "product_degree",
    "dedup_exact",
    "text_stats",
    "quality_scores",
    "token_counts",
    "lang_id",
    "doc_fingerprint",
    "pii_scan",
    "repetition_stats",
    "frequent_terms",
    "regex_token_pieces",
    "bpe_pair_counts",
    "boilerplate_ngrams",
    # last driver-green r13
    "event_volume_anomalies",
    "user_state_scd2",
    "run_media_pipeline",
    "media_phash_pairs_jpegcodec",
    "ols_residual_diagnostics",
    "revenue_weekday_profile",
    "jarque_bera_residuals",
    "returned_item_report",
    "market_share",
    "doc_sample_deterministic",
    "train_val_test_split",
    "token_budget_selection",
    "corpus_cleaning_report",
    "sequence_packing",
    "mixture_rebalance",
    "doc_chunking",
    "training_order_shuffle",
    "epoch_mixture_expand",
    "chunk_dedup",
    "group_sample",
    "length_histogram",
    "cohort_retention",
    "knn_brute",
    "embedding_centroids",
    "kmeans_round",
    "moments_sketch",
    "orders_zorder_keys",
    "doc_chunking_streamed",
    "dedup_clusters",
    "cluster_safe_split",
    "lang_eval",
    "bpe_encode",
    "token_subsampling",
    "skipgram_pairs",
    "quantile_sketches",
    # --- rows-only entries (never in the gate window:
    # --- the driver returns no_oracle for them) ---
    "knn_lsh",
    "knn_lsh_hi",
    "media_frames",
    "media_features",
    "media_phash_pairs",
    "media_audio_pairs",
    "cardinality_sketches",
    "knn_ivf",
    "knn_ivf_hi",
    "knn_pq",
    "knn_pq_hi",
    "knn_ivfpq",
    "knn_ivfpq_hi",
    "product_pagerank",
    "beauty_datagen_validation",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry in driver-gate order (see ``_DRIVER_ORDER_R14``).

    The driver's correctness gate walks this dict in order under a
    budget that has covered ~50 entries each round. Round-12 policy:
    the front is the r11 carry-over (the 14 oracle entries the r11
    gate's 50-slot budget never reached, plus the one r11 red row
    `order_metric_correlations`, type-aligned this round) followed by
    anything new in r12; then the previously-green rows stalest-first
    (so driver evidence ages out oldest-first); the rows-only entries
    (no oracle by design) are dead last so no gate slot returns
    `no_oracle`. The list is GENERATED — scripts/refront_order.py —
    and every entry, gate-reached or not, is hash-verified in the
    full local replica CORRECTNESS_local.json each round."""
    base = _registry()
    missing = set(base) ^ set(_DRIVER_ORDER_R14)
    if missing:  # a registry edit must update the order list too
        raise AssertionError(f"registry/order drift: {sorted(missing)}")
    # a duplicate would be silently swallowed by the dict comprehension
    # and shift every later row's gate position (ADVICE r6)
    if len(_DRIVER_ORDER_R14) != len(set(_DRIVER_ORDER_R14)):
        seen: set[str] = set()
        dups = [n for n in _DRIVER_ORDER_R14 if n in seen or seen.add(n)]
        raise AssertionError(f"duplicate order entries: {dups}")
    return {name: base[name] for name in _DRIVER_ORDER_R14}


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The full registry, grouped thematically (order here is NOT the
    driver order — ``queries()`` applies ``_DRIVER_ORDER_R14``)."""
    return {
        # §2.2-2.6 relational inventory (cheap, all oracle)
        "parts_per_type": relational.q_parts_per_type,
        "null_profile_orders": relational.q_null_profile_orders,
        "events_by_type": relational.q_events_by_type,
        "events_by_type_salted": relational.q_events_by_type_salted,
        "duplicate_orderkeys": relational.q_duplicate_orderkeys,
        "repeat_customers": relational.q_repeat_customers,
        "ri_orphan_lineitems": relational.q_ri_orphan_lineitems,
        "region_mapping_conformance": relational.q_region_mapping_conformance,
        "mktsegment_distribution": relational.q_mktsegment_distribution,
        "orders_per_customer": relational.q_orders_per_customer,
        "order_revenue": relational.q_order_revenue,
        "order_enriched": relational.q_order_enriched,
        "order_enriched_salted": relational.q_order_enriched_salted,
        "customer_order_stats": relational.q_customer_order_stats,
        "topk_customers_by_revenue": relational.q_topk_customers_by_revenue,
        "price_consistency": relational.q_price_consistency,
        "date_rule_violations": relational.q_date_rule_violations,
        "scalar_functions": relational.q_scalar_functions,
        "date_parse_roundtrip": relational.q_date_parse_roundtrip,
        "urgent_order_customers": relational.q_urgent_order_customers,
        "order_metrics_unpivot": relational.q_order_metrics_unpivot,
        # events / event-time windows (cheap, all oracle)
        "events_hourly": events.q_events_hourly,
        # hypertable continuous-aggregate cascade: minute→hour→day,
        # raw scanned once, coarse tiers aggregate the finer TIER
        "events_multires_rollup": events.q_events_multires_rollup,
        "event_volume_anomalies": events.q_event_volume_anomalies,
        "user_state_scd2": events.q_user_state_scd2,
        "events_seasonality": events.q_events_seasonality,
        "session_paths_top": events.q_session_paths_top,
        "open_orders_daily": temporal.q_open_orders_daily,
        "events_sliding": events.q_events_sliding,
        "events_sessions": events.q_events_sessions,
        "events_json_props": events.q_events_json_props,
        "user_activity": events.q_user_activity,
        "event_funnel": events.q_event_funnel,
        "purchase_time_since_view": temporal.q_purchase_time_since_view,
        "view_to_purchase_lag": temporal.q_view_to_purchase_lag,
        # interval overlap join: per-customer concurrent orders
        "order_interval_overlaps": temporal.q_order_interval_overlaps,
        "temporal_gap_coalesce": temporal.q_temporal_gap_coalesce,
        "sprt_decision": temporal.q_sprt_decision,
        "sprt_streamed": _q_sprt_streamed,
        "event_transitions": temporal.q_event_transitions,
        "events_preceding_5min": temporal.q_events_preceding_5min,
        "user_type_pivot": events.q_user_type_pivot,
        "latest_event_per_user": events.q_latest_event_per_user,
        # mode aggregate without a window/sort (min-of-struct form)
        "user_modal_event": events.q_user_modal_event,
        # per-user Markov conditional entropy rate (fixed point)
        "user_behavior_entropy": events.q_user_behavior_entropy,
        # deterministic per-(user, hour) ingestion throttle
        "events_rate_capped": events.q_events_rate_capped,
        # censoring-aware exponential decay fit of pooled retention
        "retention_decay_fit": events.q_retention_decay_fit,
        # WAU/MAU engagement ratio via explode-vote trailing distinct
        "user_stickiness": events.q_user_stickiness,
        "user_activity_streaks": events.q_user_activity_streaks,
        "copurchase_cosine_top": graph.q_copurchase_cosine_top,
        "kaplan_meier_repeat": events.q_kaplan_meier_repeat,
        "segment_price_ttest": quality.q_segment_price_ttest,
        "events_rate_capped_streamed": _q_rate_capped_streamed,
        "part_price_band_join": warehouse.q_part_price_band_join,
        "status_bitmap_algebra": warehouse.q_status_bitmap_algebra,
        "kaplan_meier_streamed": _q_kaplan_meier_streamed,
        "er_blocking_quality": text.q_er_blocking_quality,
        "negative_sampling_table": curation.q_negative_sampling_table,
        "ldiversity_profile": quality.q_ldiversity_profile,
        "bootstrap_mean_ci": quality.q_bootstrap_mean_ci,
        "copurchase_eval_hitrate": graph.q_copurchase_eval_hitrate,
        "price_drift_ks": quality.q_price_drift_ks,
        "revenue_theil_sen": warehouse.q_revenue_theil_sen,
        # nonparametric monotone-trend significance on the daily series
        "mann_kendall_trend": warehouse.q_mann_kendall_trend,
        # k-group rank test; credit-scoring WoE/IV feature audit
        "kruskal_wallis_segments": quality.q_kruskal_wallis_segments,
        "hurst_rs": temporal.q_hurst_rs,
        "holt_linear_forecast": temporal.q_holt_linear_forecast,
        "cliffs_delta": quality.q_cliffs_delta,
        "wilcoxon_signed_rank": quality.q_wilcoxon_signed_rank,
        "ks_two_sample": quality.q_ks_two_sample,
        "ks_two_sample_streamed": _q_ks_two_sample_streamed,
        "brand_return_woe_iv": quality.q_brand_return_woe_iv,
        "spearman_price_qty": quality.q_spearman_price_qty,
        "gopher_quality_flags": text.q_gopher_quality_flags,
        "js_divergence_sources": text.q_js_divergence_sources,
        "compaction_plan": warehouse.q_compaction_plan,
        "copurchase_ktruss": graph.q_copurchase_ktruss,
        "silhouette_simplified": similarity.q_silhouette_simplified,
        "twonn_intrinsic_dim": similarity.q_twonn_intrinsic_dim,
        "gopher_quality_streamed": _q_gopher_quality_streamed,
        "revenue_acf": warehouse.q_revenue_acf,
        "tcloseness_profile": quality.q_tcloseness_profile,
        "mcnemar_lang_classifiers": text.q_mcnemar_lang_classifiers,
        "fleiss_kappa_langids": text.q_fleiss_kappa_langids,
        "order_metric_correlations": warehouse.q_order_metric_correlations,
        "cramers_v_matrix": quality.q_cramers_v_matrix,
        "revenue_changepoint": warehouse.q_revenue_changepoint,
        "fim_transform": curation.q_fim_transform,
        "vocab_richness": text.q_vocab_richness,
        "cochran_armitage_trend": quality.q_cochran_armitage_trend,
        "logrank_segments": events.q_logrank_segments,
        "ams_f2_estimate": quality.q_ams_f2_estimate,
        "priority_sample": curation.q_priority_sample,
        "page_hinkley_drift": temporal.q_page_hinkley_drift,
        "page_hinkley_streamed": _q_page_hinkley_streamed,
        "hits_hubs_authorities": graph.q_hits_hubs_authorities,
        "query_likelihood_lm": text.q_query_likelihood_lm,
        "effective_diameter": graph.q_effective_diameter,
        "isotonic_calibration": similarity.q_isotonic_calibration,
        "dp_event_histogram": quality.q_dp_event_histogram,
        "hard_negative_mining": similarity.q_hard_negative_mining,
        "textrank_keywords": text.q_textrank_keywords,
        "count_sketch_estimates": quality.q_count_sketch_estimates,
        "burrows_delta": text.q_burrows_delta,
        "cdc_chunks": dedup.q_cdc_chunks,
        "keyness_llr": text.q_keyness_llr,
        "mlm_masks": curation.q_mlm_masks,
        "hill_tail_index": warehouse.q_hill_tail_index,
        "theil_u_matrix": quality.q_theil_u_matrix,
        "cohort_ltv": warehouse.q_cohort_ltv,
        "packing_efficiency": curation.q_packing_efficiency,
        "nelson_aalen_repeat": events.q_nelson_aalen_repeat,
        "revenue_pacf": warehouse.q_revenue_pacf,
        "media_dedup_clusters": multimodal.q_media_dedup_clusters,
        "media_dedup_maintained": multimodal.q_media_dedup_maintained,
        "run_media_pipeline": multimodal.q_run_media_pipeline,
        "media_phash_pairs_pngcodec": multimodal.q_media_phash_pairs_pngcodec,
        "media_phash_pairs_jpegcodec": multimodal.q_media_phash_pairs_jpegcodec,
        "view_purchase_join_streamed": _q_view_purchase_join_streamed,
        "markov_conversion_prob": events.q_markov_conversion_prob,
        "segment_price_utest": quality.q_segment_price_utest,
        "cuped_adjusted_diff": quality.q_cuped_adjusted_diff,
        "bootstrap_mean_streamed": _q_bootstrap_mean_streamed,
        "brand_price_elasticity": warehouse.q_brand_price_elasticity,
        "feature_hash_stats": curation.q_feature_hash_stats,
        "term_burstiness": text.q_term_burstiness,
        "revenue_cusum": temporal.q_revenue_cusum,
        "knn_label_accuracy": similarity.q_knn_label_accuracy,
        "join_cardinality_estimate": quality.q_join_cardinality_estimate,
        "window_funnel_strict": events.q_window_funnel_strict,
        "bbit_minhash_estimates": dedup.q_bbit_minhash_estimates,
        "fk_discovery": quality.q_fk_discovery,
        "range_partition_boundaries": warehouse.q_range_partition_boundaries,
        "shapley_channel_attribution": events.q_shapley_channel_attribution,
        "position_attribution": events.q_position_attribution,
        "time_decay_attribution": events.q_time_decay_attribution,
        "copurchase_kcore": graph.q_copurchase_kcore,
        "lang_id_kappa": text.q_lang_id_kappa,
        "brand_return_bayes_rank": warehouse.q_brand_return_bayes_rank,
        "revenue_pareto_cut": warehouse.q_revenue_pareto_cut,
        "supplier_hhi": warehouse.q_supplier_hhi,
        "interpurchase_regularity": warehouse.q_interpurchase_regularity,
        "neyman_allocation": quality.q_neyman_allocation,
        "shard_rendezvous_stats": warehouse.q_shard_rendezvous_stats,
        "zone_map_pruning": warehouse.q_zone_map_pruning,
        "selectivity_audit": warehouse.q_selectivity_audit,
        "column_encoding_stats": warehouse.q_column_encoding_stats,
        "purchase_error_burst": temporal.q_purchase_error_burst,
        "rolling_distinct_users": events.q_rolling_distinct_users,
        # warehouse layer (ref L3) + TPC-H-shaped headliners (oracle)
        "fact_sales_summary": warehouse.q_fact_sales_summary,
        "revenue_rollup": warehouse.q_revenue_rollup,
        "order_rank_per_customer": warehouse.q_order_rank_per_customer,
        "customer_running_spend": warehouse.q_customer_running_spend,
        "top_order_share": warehouse.q_top_order_share,
        "order_latency": warehouse.q_order_latency,
        "customer_order_gaps": warehouse.q_customer_order_gaps,
        "sales_cube": warehouse.q_sales_cube,
        "sales_grouping_sets": warehouse.q_sales_grouping_sets,
        "customer_spend_ntile": warehouse.q_customer_spend_ntile,
        "lorenz_customer_deciles": warehouse.q_lorenz_customer_deciles,
        "ols_residual_diagnostics": warehouse.q_ols_residual_diagnostics,
        "revenue_weekday_profile": warehouse.q_revenue_weekday_profile,
        "jarque_bera_residuals": warehouse.q_jarque_bera_residuals,
        "customer_rfm_segments": warehouse.q_customer_rfm_segments,
        # clamp-at-zero running balance via the prefix-sum/prefix-min
        # identity (no sequential fold)
        "part_stock_balance": warehouse.q_part_stock_balance,
        # 2-D skyline with bucket-prefix pruning (never the O(n²)
        # dominance self-join the oracle runs)
        "part_pareto_frontier": warehouse.q_part_pareto_frontier,
        # exact weighted median/quartiles at distinct-value grain
        "segment_weighted_quantiles": warehouse.q_segment_weighted_quantiles,
        # per-group OLS slope in exact fixed point (regression family)
        "nation_revenue_trend": warehouse.q_nation_revenue_trend,
        "orders_above_customer_avg": warehouse.q_orders_above_customer_avg,
        "revenue_moving_avg": warehouse.q_revenue_moving_avg,
        "order_value_percentiles": warehouse.q_order_value_percentiles,
        "pricing_summary": warehouse.q_pricing_summary,
        "shipping_priority": warehouse.q_shipping_priority,
        "local_supplier_volume": warehouse.q_local_supplier_volume,
        "revenue_forecast_delta": warehouse.q_revenue_forecast_delta,
        "returned_item_report": warehouse.q_returned_item_report,
        "promo_revenue_share": warehouse.q_promo_revenue_share,
        "top_suppliers_by_volume": warehouse.q_top_suppliers_by_volume,
        # decision-support subquery shapes (TPC-H Q2/Q4/Q7/Q8/Q9/Q11/Q12/
        # Q13/Q15/Q16/Q17/Q18/Q19/Q20/Q21/Q22 adapted to fixture columns;
        # all oracle)
        "late_ship_priority_orders": decision_support.q_late_ship_priority_orders,
        "nation_trade_volume": decision_support.q_nation_trade_volume,
        "market_share": decision_support.q_market_share,
        "linestatus_priority_counts": decision_support.q_linestatus_priority_counts,
        "customer_order_distribution": decision_support.q_customer_order_distribution,
        "top_revenue_suppliers": decision_support.q_top_revenue_suppliers,
        "small_quantity_part_revenue": decision_support.q_small_quantity_part_revenue,
        "large_order_customers": decision_support.q_large_order_customers,
        "brand_size_band_revenue": decision_support.q_brand_size_band_revenue,
        "sole_late_supplier_orders": decision_support.q_sole_late_supplier_orders,
        "never_urgent_rich_customers": decision_support.q_never_urgent_rich_customers,
        "min_cost_part_supplier": decision_support.q_min_cost_part_supplier,
        "nation_product_profit": decision_support.q_nation_product_profit,
        "important_part_value": decision_support.q_important_part_value,
        "part_supplier_counts": decision_support.q_part_supplier_counts,
        "dominant_part_suppliers": decision_support.q_dominant_part_suppliers,
        # analytic extensions: dense-spine time series, association
        # rules, integer-exact anomaly detection (all oracle)
        "daily_revenue_gapfill": temporal.q_daily_revenue_gapfill,
        "basket_rules": graph.q_basket_rules,
        "customer_spend_outliers": warehouse.q_customer_spend_outliers,
        # document layer (ref L2, oracle)
        "order_docs_stats": documents.q_order_docs_stats,
        # graph layer (ref L4, oracle except pagerank)
        "copurchase_edges": graph.q_copurchase_edges,
        "product_degree": graph.q_product_degree,
        "customer_copurchase_top": graph.q_customer_copurchase_top,
        "product_pagerank_exact": graph.q_product_pagerank_exact,
        "product_triangles": graph.q_product_triangles,
        # bounded multi-source BFS (frontier expansion, constant rounds)
        "copurchase_bfs_hops": graph.q_copurchase_bfs_hops,
        # dedup family (oracle except embedding_neardup)
        "dedup_exact": dedup.q_dedup_exact,
        "ngram_jaccard_top_pairs": dedup.q_ngram_jaccard_top_pairs,
        # asymmetric (containment) twin: catches quote-inclusion
        "ngram_containment_top_pairs": dedup.q_ngram_containment_top_pairs,
        "minhash_signatures": dedup.q_minhash_signatures,
        "lsh_candidate_pairs": dedup.q_lsh_candidate_pairs,
        "minhash_estimate_error": dedup.q_minhash_estimate_error,
        "simhash_near_pairs": dedup.q_simhash_near_pairs,
        "setsim_prefix_join": dedup.q_setsim_prefix_join,
        # measured (bands, rows) banding trade-off on shared signatures
        "lsh_tuning_curve": dedup.q_lsh_tuning_curve,
        "setsim_clusters": dedup.q_setsim_clusters,
        # span-level exact dedup (ExactSubstr): duplicated L-token
        # passages removed, canonical occurrence kept; gate hash-checks
        # the reconstructed surviving text
        "substring_dedup": dedup.q_substring_dedup,
        "exactsubstr_spans": dedup.q_exactsubstr_spans,
        # maintained ANN index: integer-portable signatures + MERGE
        # (maintained ≡ rebuild, the IVM law — oracle recomputes from
        # scratch)
        "lsh_index_maintained": similarity.q_lsh_index_maintained,
        # hash-verifiable ANN serving: integer signatures + multi-probe
        # + fixed-point isqrt/halfup rerank, top-k oracle-matched
        "ann_topk_exactint": similarity.q_ann_topk_exactint,
        "ivf_topk_exactint": similarity.q_ivf_topk_exactint,
        "pq_topk_exactint": similarity.q_pq_topk_exactint,
        "ivfpq_topk_exactint": similarity.q_ivfpq_topk_exactint,
        # binary-quantized serving: sign-bit Hamming pool + exact rerank
        "signbit_topk_exactint": similarity.q_signbit_topk_exactint,
        # text analysis (all oracle — tfidf via fixed-point ln_micro)
        "text_stats": text.q_text_stats,
        "quality_scores": text.q_quality_scores,
        "token_counts": text.q_token_counts,
        "lang_id": text.q_lang_id,
        "doc_fingerprint": text.q_doc_fingerprint,
        "winnow_overlap_top": text.q_winnow_overlap_top,
        "winnow_fps_streamed": _q_winnow_fps_streamed,
        "pii_scan": text.q_pii_scan,
        "repetition_stats": text.q_repetition_stats,
        "fuzzy_part_names": text.q_fuzzy_part_names,
        "frequent_terms": text.q_frequent_terms,
        # fixed-point OLS Zipf-exponent fit (ln_micro — no float ln)
        "zipf_law_fit": text.q_zipf_law_fit,
        # Heaps'-law vocabulary-growth fit (zipf's sibling diagnostic)
        "heaps_law_fit": text.q_heaps_law_fit,
        # cross-source vocabulary overlap (mixture-design diagnostic)
        "source_vocab_overlap": text.q_source_vocab_overlap,
        "regex_token_pieces": text.q_regex_token_pieces,
        "bpe_pair_counts": text.q_bpe_pair_counts,
        # full BPE trainer (iterative argmax-merge loop; rows-only —
        # pytest-verified against a pure-Python reference trainer)
        "bpe_train_merges": text.q_bpe_train_merges,
        "bigram_novelty": text.q_bigram_novelty,
        # real perplexity filter: MLE bigram cross-entropy in integer
        # micro-nats (ln_micro) — oracle-exact
        "bigram_cross_entropy": text.q_bigram_cross_entropy,
        # fixed-vocab OOV/UNK rate per document — oracle-exact
        "vocab_coverage": text.q_vocab_coverage,
        "boilerplate_ngrams": text.q_boilerplate_ngrams,
        # corpus curation: deterministic sampling / splits / budget
        # selection / composed cleaning (all oracle — selection is
        # integer hash arithmetic, no RNG)
        "doc_sample_deterministic": curation.q_doc_sample_deterministic,
        "weighted_sample": curation.q_weighted_sample,
        "interleaved_mixture": curation.q_interleaved_mixture,
        "length_bucketed_batches": curation.q_length_bucketed_batches,
        "curriculum_order": curation.q_curriculum_order,
        "corpus_training_plan": curation.q_corpus_training_plan,
        "contrastive_pairs": curation.q_contrastive_pairs,
        "train_val_test_split": curation.q_train_val_test_split,
        "token_budget_selection": curation.q_token_budget_selection,
        "corpus_cleaning_report": curation.q_corpus_cleaning_report,
        "decontaminate": curation.q_decontaminate,
        # Bloom-filter pre-filter form of decontamination (oracle-exact
        # filter build + probe + false-positive accounting)
        "bloom_decontaminate": curation.q_bloom_decontaminate,
        # runtime bloom-filter pushdown for a selective fact⋈dim join
        "bloom_semijoin_pushdown": relational.q_bloom_semijoin_pushdown,
        "sequence_packing": curation.q_sequence_packing,
        "mixture_rebalance": curation.q_mixture_rebalance,
        "domain_dedup_mixture": curation.q_domain_dedup_mixture,
        "domain_dedup_streamed": _q_domain_dedup_streamed,
        "dsir_importance": curation.q_dsir_importance,
        "kneser_ney_bigrams": text.q_kneser_ney_bigrams,
        "hyperball_neighborhood": graph.q_hyperball_neighborhood,
        "tokenizer_fertility": text.q_tokenizer_fertility,
        "kmv_set_algebra": quality.q_kmv_set_algebra,
        "calibration_report": similarity.q_calibration_report,
        "dsir_streamed": _q_dsir_streamed,
        "hyperball_closeness": graph.q_hyperball_closeness,
        "good_turing_smoothing": text.q_good_turing_smoothing,
        # trained multinomial NB language classifier, held-out
        # confusion matrix — exact integer micro-nat decision rule
        "nb_lang_classifier": text.q_nb_lang_classifier,
        "nb_lang_streamed": _q_nb_lang_streamed,
        # temperature-flattened (n^(1/2)) mixture weights via exact
        # integer sqrt — oracle-exact
        "mixture_temperature": curation.q_mixture_temperature,
        # dataset card: corpus-level numbers composed from the
        # oracle-exact constituents — oracle-exact itself
        "corpus_datacard": curation.q_corpus_datacard,
        "doc_chunking": curation.q_doc_chunking,
        "training_order_shuffle": curation.q_training_order_shuffle,
        "epoch_mixture_expand": curation.q_epoch_mixture_expand,
        "chunk_dedup": curation.q_chunk_dedup,
        # T5-style deterministic span-corruption mask generator
        "span_corruption_masks": curation.q_span_corruption_masks,
        # largest-remainder (Hamilton) exact integer budget allocation
        "source_quota_apportionment": curation.q_source_quota_apportionment,
        "semantic_neardup": similarity.q_semantic_neardup,
        "group_sample": curation.q_group_sample,
        "corpus_survivors": curation.q_corpus_survivors,
        "length_histogram": curation.q_length_histogram,
        "cohort_retention": events.q_cohort_retention,
        # similarity search baseline (oracle)
        "knn_brute": similarity.q_knn_brute,
        "embedding_centroids": similarity.q_embedding_centroids,
        "embedding_quantize_int8": similarity.q_embedding_quantize_int8,
        "embedding_outliers": similarity.q_embedding_outliers,
        "kmeans_round": similarity.q_kmeans_round,
        "pca_power_iteration": similarity.q_pca_power_iteration,
        "embedding_random_projection": similarity.q_embedding_random_projection,
        "label_embedding_scatter": similarity.q_label_embedding_scatter,
        # curated-zone table management: versioned merge-on-read MERGE
        # -> snapshot read (oracle covers the whole write->merge->read
        # path), plus the v1->v2 CDC change feed (touched keys only)
        "merge_upsert_state": tables.q_merge_upsert_state,
        # anti-entropy repair capstone: detect→re-ship→verify via
        # partition fingerprints + one stale-partition MERGE
        "orders_antientropy_sync": tables.q_orders_antientropy_sync,
        "incremental_join_state": tables.q_incremental_join_state,
        "merge_changes_feed": tables.q_merge_changes_feed,
        "incremental_agg_state": tables.q_incremental_agg_state,
        # quality report (oracle)
        "quality_report": _quality_report_query,
        # portable HLL: oracle-exact distributed sketch (registers,
        # harmonic sum, and ln_micro correction all integer-identical
        # in DuckDB) — the auditable twin of cardinality_sketches
        "hll_distinct": quality.q_hll_distinct,
        # count-min sketch: the frequency-sketch family member (point
        # frequency queries from fixed memory; portable integer math,
        # bit-identical DuckDB twin)
        "cms_term_estimates": quality.q_cms_term_estimates,
        "ddsketch_value_quantiles": quality.q_ddsketch_value_quantiles,
        # Benford first-digit audit (fixed-point expected shares)
        "benford_price_digits": quality.q_benford_price_digits,
        # chi-square independence test (fixed-point exact)
        "segment_priority_chisq": quality.q_segment_priority_chisq,
        # anti-entropy order-insensitive table fingerprints
        "table_checksums": quality.q_table_checksums,
        # join-key skew diagnostics (count-of-counts exact Gini)
        "key_skew_profile": quality.q_key_skew_profile,
        "hot_keys_top": quality.q_hot_keys_top,
        "randomization_test_diff": quality.q_randomization_test_diff,
        "ann_ndcg_exactint": similarity.q_ann_ndcg_exactint,
        "info_gain_features": quality.q_info_gain_features,
        "deterministic_random_walks": graph.q_deterministic_random_walks,
        "label_propagation_communities": graph.q_label_propagation_communities,
        # Newman modularity audit of the LPA partition (exact numerators)
        "community_modularity": graph.q_community_modularity,
        # local clustering + transitivity; degree-mixing correlation
        "clustering_coefficients": graph.q_clustering_coefficients,
        "degree_assortativity": graph.q_degree_assortativity,
        "fellegi_sunter_weights": text.q_fellegi_sunter_weights,
        "rake_keyword_scores": text.q_rake_keyword_scores,
        "rrf_fusion_exactint": similarity.q_rrf_fusion_exactint,
        "revenue_runs_test": temporal.q_revenue_runs_test,
        # KMV / bottom-k distinct sketch (second mergeable cardinality
        # estimator next to the portable HLL, same profiled targets)
        "kmv_distinct_estimate": quality.q_kmv_distinct_estimate,
        # Bloom-filter k-sweep: measured occupancy + FPR per hash count
        "bloom_fpr_audit": curation.q_bloom_fpr_audit,
        # MMR diversified re-ranking over the fused exact-int ANN pool
        "mmr_rerank_exactint": similarity.q_mmr_rerank_exactint,
        "incremental_topk_state": tables.q_incremental_topk_state,
        "matryoshka_prefix_recall": similarity.q_matryoshka_prefix_recall,
        # partition-grain anti-entropy (sync-unit fingerprints)
        "orders_partition_checksums": quality.q_orders_partition_checksums,
        # Merkle root over the partition fingerprints (O(1) agreement)
        "orders_merkle_root": quality.q_orders_merkle_root,
        # k-anonymity equivalence-class histogram (privacy release gate)
        "kanonymity_profile": quality.q_kanonymity_profile,
        # one-report publish decision composing the validators
        "table_release_gate": quality.q_table_release_gate,
        "hll_users_by_event_type": quality.q_hll_users_by_event_type,
        "hll_set_algebra": quality.q_hll_set_algebra,
        "moments_sketch": quality.q_moments_sketch,
        "value_drift_report": quality.q_value_drift_report,
        "winsorized_value_stats": quality.q_winsorized_value_stats,
        "mad_outlier_stats": quality.q_mad_outlier_stats,
        "categorical_entropy": quality.q_categorical_entropy,
        "table_stats": quality.q_table_stats,
        "orders_zorder_keys": warehouse.q_orders_zorder_keys,
        "hilbert_curve_keys": warehouse.q_hilbert_curve_keys,
        "revenue_gini": warehouse.q_revenue_gini,
        # streaming drains: the STREAMING plans (availableNow) behind the
        # same oracles as their batch twins — oracle-matched streaming
        "events_hourly_streamed": _q_events_hourly_streamed,
        "events_multires_streamed": _q_events_multires_streamed,
        "orders_checksum_streamed": _q_orders_checksum_streamed,
        "events_sessions_streamed": _q_events_sessions_streamed,
        "dedup_groups_streamed": _q_dedup_groups_streamed,
        "latest_event_streamed": _q_latest_event_streamed,
        "events_dedup_streamed": _q_events_dedup_streamed,
        "purchase_attribution_streamed": _q_purchase_attribution_streamed,
        "doc_chunking_streamed": _q_doc_chunking_streamed,
        "hll_distinct_streamed": _q_hll_distinct_streamed,
        "hll_users_hourly_streamed": _q_hll_users_hourly_streamed,
        "cms_cells_streamed": _q_cms_cells_streamed,
        "table_stats_streamed": _q_table_stats_streamed,
        "ddsketch_quantiles_streamed": _q_ddsketch_quantiles_streamed,
        "user_modal_streamed": _q_user_modal_streamed,
        "event_anomalies_streamed": _q_event_anomalies_streamed,
        # the two heaviest oracle entries last among oracles (multi-job
        # iterative/pipelined) so a budget cut costs the least coverage
        # dedup endgame: candidates -> verify -> connected components ->
        # canonical pick (oracle: recursive-CTE reachability)
        "dedup_clusters": dedup.q_dedup_clusters,
        # continuous-ingest dedup: new batch vs existing corpus
        "dedup_incremental": dedup.q_dedup_incremental,
        # leakage-safe split: bucket by dedup-cluster id, not doc id
        "cluster_safe_split": curation.q_cluster_safe_split,
        # ---- rows-only from here down (approximate / iterative /
        # stubbed / self-generated by design) ----
        "tfidf_top_terms": text.q_tfidf_top_terms,  # oracle since r5 (ln_micro)
        # Okapi BM25 top-10 for 5 deterministic 4-term queries — exact
        # integer saturation/length-normalization (k1=6/5, b=3/4)
        "bm25_topk": text.q_bm25_topk,
        "term_pmi_top_pairs": text.q_term_pmi_top_pairs,  # signed ln_micro PMI
        "lang_eval": text.q_lang_eval,  # classifier eval report, oracle-exact
        "part_golden_record": text.q_part_golden_record,  # ER survivorship
        "copurchase_jaccard_top": graph.q_copurchase_jaccard_top,  # link prediction
        # degree-weighted (Adamic-Adar) link prediction, fixed point
        "copurchase_adamic_adar": graph.q_copurchase_adamic_adar,
        "bpe_encode": text.q_bpe_encode,  # tokenizer apply, oracle-exact
        "heavy_hitter_terms": text.q_heavy_hitter_terms,  # exact 2-pass MG
        "next_token_suggestions": text.q_next_token_suggestions,  # LM serving view
        "token_subsampling": curation.q_token_subsampling,  # word2vec thinning
        "skipgram_pairs": curation.q_skipgram_pairs,  # positional pair generator
        "ccnet_buckets": curation.q_ccnet_buckets,  # head/middle/tail perplexity split
        "embedding_neardup": dedup.q_embedding_neardup,  # approximate
        "knn_lsh": similarity.q_knn_lsh,  # approximate
        "knn_lsh_hi": similarity.q_knn_lsh_hi,  # high-recall config
        "media_frames": _q_media_frames,  # stubbed codecs
        "media_features": _q_media_features,  # stubbed codecs
        "media_phash_pairs": _q_media_phash_pairs,  # real DCT, synthetic decode
        "media_audio_pairs": _q_media_audio_pairs,  # real rFFT, synthetic decode
        # r9: the hash-verifiable twins — fixed-point integer DCT pHash
        # and integer DFT band-energy audio fingerprint
        "media_phash_pairs_exactint": multimodal.q_media_phash_pairs_exactint,
        "media_audio_pairs_exactint": multimodal.q_media_audio_pairs_exactint,
        # fingerprint-at-ingest: the streamed twin of the exact-int pHash
        "media_phash_stream": _q_media_phash_stream,
        "cardinality_sketches": quality.q_cardinality_sketches,  # HLL
        # r13: graduated to the portable DDSketch register form (oracle)
        "quantile_sketches": quality.q_quantile_sketches,
        "knn_ivf": similarity.q_knn_ivf,  # approximate, iterative
        "knn_ivf_hi": similarity.q_knn_ivf_hi,  # high-recall config
        "knn_pq": similarity.q_knn_pq,  # approximate, quantized
        "knn_pq_hi": similarity.q_knn_pq_hi,  # high-recall config
        "knn_ivfpq": similarity.q_knn_ivfpq,  # approximate, composed index
        "knn_ivfpq_hi": similarity.q_knn_ivfpq_hi,  # high-recall config
        "product_pagerank": graph.q_product_pagerank,  # iterative
        "beauty_datagen_validation": _q_beauty_datagen,  # self-generated
    }


def _q_events_hourly_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming drain, hash-checked against the SAME
    DuckDB oracle as the batch q_events_hourly."""
    return streaming.run_available_now(
        streaming.hourly_event_counts(streaming.stream_events(spark, sf_dir))
    )


def _q_sprt_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-test-at-ingest drain: the SPRT's (day, n, k)
    sufficient-statistic grid maintained by the orders landing stream
    (complete-mode, bounded by the calendar span), decision walk
    finished batch-side. Shares q_sprt_decision's oracle row."""
    return temporal.sprt_finish(streaming.run_available_now(
        temporal.sprt_day_grid(streaming.stream_orders(spark, sf_dir))
    ))


def _q_orders_checksum_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-at-ingest drain: the anti-entropy orders checksum
    maintained by the landing stream (complete-mode state = two
    numbers). Hash-checked against the orders slice of the same
    canonical-hash CTE the batch table_checksums oracle uses."""
    return streaming.run_available_now(
        streaming.orders_checksum_stream(streaming.stream_orders(spark, sf_dir))
    )


def _q_events_multires_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous aggregate: the minute tier is maintained by
    the stream (complete-mode drain), the hour/day tiers derive from
    the drained minute TABLE at read time (TimescaleDB real-time-
    aggregate semantics). Hash-checked against the SAME DuckDB oracle
    as the batch q_events_multires_rollup."""
    return events.multires_cascade(streaming.run_available_now(
        streaming.multires_minute_values(streaming.stream_events(spark, sf_dir))
    ))


def _q_events_sessions_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window streaming drain behind q_events_sessions' oracle."""
    return streaming.run_available_now(
        streaming.session_values(streaming.stream_events(spark, sf_dir))
    )


def _q_dedup_groups_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup group table (complete-mode aggregate over
    micro-batches) behind a batch-equivalent DuckDB oracle — min/count
    are order-insensitive, so the drain is deterministic."""
    return streaming.run_available_now(
        streaming.dedup_group_table(streaming.stream_documents(spark, sf_dir))
    )


def _q_latest_event_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming newest-per-key drain behind q_latest_event_per_user's
    oracle (complete-mode max(struct) is slicing-invariant)."""
    return streaming.run_available_now(
        streaming.latest_event_table(streaming.stream_events(spark, sf_dir))
    )


def _q_events_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once repair: the events source is fed TWICE
    (union of two identical stream legs = at-least-once redelivery);
    ``dropDuplicatesWithinWatermark`` on event_id must reduce it back
    to the unique event set — the oracle is simply the events table."""
    return streaming.run_available_now(
        streaming.dedup_events_stream(
            streaming.stream_events(spark, sf_dir).union(
                streaming.stream_events(spark, sf_dir)
            )
        ),
        "append",
    )


def _q_purchase_attribution_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join drain (view→purchase attribution
    within 30 minutes, same user) behind a plain SQL self-join oracle.
    Inner time-bounded joins emit in append mode; the drained pair set
    is exactly the batch join's, whatever the micro-batch slicing."""
    return streaming.run_available_now(
        streaming.view_purchase_attribution(streaming.stream_events(spark, sf_dir)),
        "append",
    )


def _quality_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_quality_report(spark, sf_dir)


def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out over resized media (fake kernels)."""
    t = catalog.load(spark, sf_dir)
    media = multimodal.media_from_documents(t.documents)
    frames = multimodal.sample_frames(multimodal.resize_media(media), n_frames=4)
    return frames.select(
        "media_id", "frame_idx", F.length("frame").alias("frame_bytes")
    )


def _q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over a MIXED-CONTAINER image
    corpus — even doc_ids as real binary PPM (P6), odd as real PNG
    (zlib-DEFLATE IDAT, all five scanline filters) — with the kernel
    dispatching on container signature before the block-DCT pHash
    (VERDICT r11 ask #5: the decode path now exercises a genuinely
    compressed container). Payload content is still document-derived
    (no image corpus in the fixtures), so the registration stays
    rows-only, but both decodes are real."""
    t = catalog.load(spark, sf_dir)
    media = multimodal.mixed_image_from_documents(t.documents)
    return multimodal.media_phash_pairs(
        media, codec=multimodal.image_phash_kernel
    )


def _q_media_audio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-fingerprint near-dup pairs over REAL RIFF/WAV audio
    payloads: the kernel decodes the genuine container (stdlib
    ``wave``) before the framed-rFFT fingerprint — the banded
    candidate/verify pipeline is modality-agnostic, only the kernel
    changes. Rows-only (payload content is document-derived), but the
    decode step is no longer synthetic."""
    t = catalog.load(spark, sf_dir)
    media = multimodal.wav_from_documents(t.documents)
    return multimodal.media_phash_pairs(
        media, codec=multimodal.wav_fingerprint_kernel
    )


def _phash_hash_ctes() -> str:
    """The DuckDB CTE chain computing the fixed-point integer DCT
    pHash per document, ending in ``ph (doc_id, phash)`` — shared by
    the batch pair twin and the streamed fingerprint-at-ingest drain
    (the `phash_int_basis` literal constants are interpolated below,
    so neither engine evaluates a transcendental at query time — the
    ln_micro/DDSketch portability template). All-integer."""
    basis = multimodal.phash_int_basis()
    w = multimodal.PPM_W
    npix = multimodal.PPM_H * w
    cb = (
        "["
        + ", ".join(
            "[" + ", ".join(str(v) for v in row) + "]" for row in basis
        )
        + "]"
    )
    ks = "[" + ", ".join(str(i) for i, _ in multimodal._ZIGZAG_AC) + "]"
    ls = "[" + ", ".join(str(j) for _, j in multimodal._ZIGZAG_AC) + "]"
    return (
        # the basis/zigzag literals live in a 1-row CTE cross-joined in
        # (NOT inline in the lambdas: DuckDB would rebuild the constant
        # lists per element evaluation — measured 17x slower)
        f"consts AS (SELECT {cb} AS cb, {ks} AS ks, {ls} AS ls), "
        "hx AS (SELECT doc_id, hex(encode(coalesce(text, ''))) AS h "
        "FROM documents), "
        "bt AS (SELECT doc_id, CASE WHEN length(h) = 0 "
        "THEN [CAST(0 AS BIGINT)] "
        "ELSE list_transform(generate_series(1, length(h) // 2), "
        "i -> CAST(('0x' || substr(h, 2 * i - 1, 2)) AS BIGINT)) END AS bt "
        "FROM hx), "
        f"lm AS (SELECT doc_id, list_transform(generate_series(0, {npix - 1}), "
        "p -> 299 * bt[(3 * p) % len(bt) + 1] "
        "+ 587 * bt[(3 * p + 1) % len(bt) + 1] "
        "+ 114 * bt[(3 * p + 2) % len(bt) + 1]) AS lum FROM bt), "
        + _phash_lum_tail_ctes()
    )


def _phash_lum_tail_ctes() -> str:
    """The pool -> 32-point DCT -> bit-pack CTE chain (pl/gg/cf/ph)
    shared by every exact-int pHash oracle: expects preceding CTEs
    ``lm (doc_id, lum)`` (a PPM_H*PPM_W luma list, any consistent
    integer scale — the mean-threshold bit pack is scale-invariant)
    and ``consts`` exposing cb/ks/ls. Ends in ``ph (doc_id, phash)``
    with a trailing comma."""
    basis = multimodal.phash_int_basis()
    n = multimodal.PHASH_GRID
    w = multimodal.PPM_W
    cells = n * n
    bits = multimodal.PHASH_BITS
    return (
        f"pl AS (SELECT doc_id, list_transform(generate_series(0, {cells - 1}), "
        f"q -> CASE WHEN ((q % {n} + 1) * {w}) // {n} "
        f"- ((q % {n}) * {w}) // {n} = 1 "
        f"THEN 2 * lum[(q // {n}) * {w} + ((q % {n}) * {w}) // {n} + 1] "
        f"ELSE lum[(q // {n}) * {w} + ((q % {n}) * {w}) // {n} + 1] "
        f"+ lum[(q // {n}) * {w} + ((q % {n}) * {w}) // {n} + 2] END) AS pl "
        "FROM lm), "
        f"gg AS (SELECT doc_id, list_transform("
        f"generate_series(0, {len(basis) * n - 1}), gi -> "
        f"CAST(list_sum(list_transform(generate_series(0, {n - 1}), "
        f"i -> cb[gi // {n} + 1][i + 1] * pl[i * {n} + (gi % {n}) + 1])) "
        "AS BIGINT)) AS g FROM pl, consts), "
        f"cf AS (SELECT doc_id, list_transform(generate_series(0, {bits - 1}), "
        f"bb -> CAST(list_sum(list_transform(generate_series(0, {n - 1}), "
        f"j -> cb[ls[bb + 1] + 1][j + 1] "
        f"* g[ks[bb + 1] * {n} + j + 1])) AS BIGINT)) AS cf FROM gg, consts), "
        f"ph AS (SELECT doc_id, CAST(list_sum(list_transform("
        f"generate_series(0, {bits - 1}), bb -> CASE WHEN "
        f"cf[bb + 1] * {bits} >= list_sum(cf) "
        "THEN (CAST(1 AS BIGINT) << bb) ELSE 0 END)) AS BIGINT) AS phash "
        "FROM cf), "
    )


def _phash_jpegcodec_sql() -> str:
    """DuckDB twin of `multimodal.q_media_phash_pairs_jpegcodec`: the
    JPEG hash CTE chain + the shared pair tail. Bit-identical."""
    return "WITH " + _phash_jpeg_hash_ctes() + _exactint_pairs_tail_sql()


def _phash_jpeg_hash_ctes() -> str:
    """The DuckDB CTE chain computing the exact-int pHash of each
    document's raster AFTER the baseline-JPEG round trip, replayed
    WITHOUT the bytes — text -> integer gray raster -> per-8x8-block
    forward DCT (shared `jpeg_int_basis` literals, scale 2^28) ->
    Annex-K quantize (sign-symmetric half-up, non-negative divisions
    only, where Python floor and DuckDB truncation agree) ->
    dequantize -> integer IDCT -> clamp -> the shared pHash tail,
    ending in ``ph (doc_id, phash)``. The Huffman entropy layer is
    lossless, so skipping it is sound — and any Spark-side entropy
    defect shifts the decoded raster and reds the row. All BIGINT."""
    basis = multimodal.phash_int_basis()
    c8 = multimodal.jpeg_int_basis()
    qt = multimodal.JPEG_QT_LUMA
    s2 = multimodal.JPEG_INT_SCALE * multimodal.JPEG_INT_SCALE
    w = multimodal.PPM_W
    hh = multimodal.PPM_H
    npix = hh * w
    bxn = w // 8  # blocks per row
    ncoef = (hh // 8) * bxn * 64
    cb = (
        "["
        + ", ".join(
            "[" + ", ".join(str(v) for v in row) + "]" for row in basis
        )
        + "]"
    )
    ks = "[" + ", ".join(str(i) for i, _ in multimodal._ZIGZAG_AC) + "]"
    ls = "[" + ", ".join(str(j) for _, j in multimodal._ZIGZAG_AC) + "]"
    c8l = (
        "["
        + ", ".join("[" + ", ".join(str(v) for v in r) + "]" for r in c8)
        + "]"
    )
    # BIGINT elements: qt * 2^28 overflows INT32 otherwise
    qtl = (
        "[" + ", ".join(f"CAST({v} AS BIGINT)" for v in qt) + "]"
    )
    return (
        f"consts AS (SELECT {cb} AS cb, {ks} AS ks, {ls} AS ls, "
        f"{c8l} AS c8, {qtl} AS qt), "
        "hx AS (SELECT doc_id, hex(encode(coalesce(text, ''))) AS h "
        "FROM documents), "
        "bt AS (SELECT doc_id, CASE WHEN length(h) = 0 "
        "THEN [CAST(0 AS BIGINT)] "
        "ELSE list_transform(generate_series(1, length(h) // 2), "
        "i -> CAST(('0x' || substr(h, 2 * i - 1, 2)) AS BIGINT)) END AS bt "
        "FROM hx), "
        # integer Rec.601 gray of the tiled raster, half-up /1000
        f"gr AS (SELECT doc_id, list_transform(generate_series(0, {npix - 1}), "
        "p -> (299 * bt[(3 * p) % len(bt) + 1] "
        "+ 587 * bt[(3 * p + 1) % len(bt) + 1] "
        "+ 114 * bt[(3 * p + 2) % len(bt) + 1] + 500) // 1000) AS gr "
        "FROM bt), "
        # forward DCT stage 1: g1[b,u,j] = sum_i c8[u][i]*(px(b,i,j)-128)
        f"g1 AS (SELECT doc_id, list_transform(generate_series(0, {ncoef - 1}), "
        "m -> CAST(list_sum(list_transform(generate_series(0, 7), "
        f"i -> c8[(m % 64) // 8 + 1][i + 1] "
        f"* (gr[((m // 64) // {bxn} * 8 + i) * {w} "
        f"+ ((m // 64) % {bxn}) * 8 + (m % 8) + 1] - 128))) AS BIGINT)) "
        "AS g1 FROM gr, consts), "
        # stage 2: full coefficients cf2[b,u,v] = sum_j g1[b,u,j]*c8[v][j]
        f"c2 AS (SELECT doc_id, list_transform(generate_series(0, {ncoef - 1}), "
        "m -> CAST(list_sum(list_transform(generate_series(0, 7), "
        "j -> c8[m % 8 + 1][j + 1] * g1[m - m % 8 + j + 1])) AS BIGINT)) "
        "AS c2 FROM g1, consts), "
        # quantize (half away from zero, non-negative // only) + dequantize
        f"qd AS (SELECT doc_id, list_transform(generate_series(0, {ncoef - 1}), "
        "m -> CASE WHEN c2[m + 1] < 0 THEN "
        f"-((-c2[m + 1] + qt[m % 64 + 1] * {s2 // 2}) "
        f"// (qt[m % 64 + 1] * {s2})) "
        f"ELSE (c2[m + 1] + qt[m % 64 + 1] * {s2 // 2}) "
        f"// (qt[m % 64 + 1] * {s2}) END * qt[m % 64 + 1]) "
        "AS qd FROM c2, consts), "
        # inverse stage 1: r1[b,i,v] = sum_u c8[u][i]*qd[b,u,v]
        f"r1 AS (SELECT doc_id, list_transform(generate_series(0, {ncoef - 1}), "
        "m -> CAST(list_sum(list_transform(generate_series(0, 7), "
        "u -> c8[u + 1][(m % 64) // 8 + 1] "
        "* qd[(m // 64) * 64 + u * 8 + (m % 8) + 1])) AS BIGINT)) "
        "AS r1 FROM qd, consts), "
        # inverse stage 2: r2[b,i,j] = sum_v r1[b,i,v]*c8[v][j]
        f"r2 AS (SELECT doc_id, list_transform(generate_series(0, {ncoef - 1}), "
        "m -> CAST(list_sum(list_transform(generate_series(0, 7), "
        "v -> r1[m - m % 8 + v + 1] * c8[v + 1][m % 8 + 1])) AS BIGINT)) "
        "AS r2 FROM r1, consts), "
        # descale (half away from zero), +128 level shift, clamp 0..255
        f"px AS (SELECT doc_id, list_transform(generate_series(0, {ncoef - 1}), "
        "m -> least(greatest(CASE WHEN r2[m + 1] < 0 THEN "
        f"-((-r2[m + 1] + {s2 // 2}) // {s2}) "
        f"ELSE (r2[m + 1] + {s2 // 2}) // {s2} END + 128, 0), 255)) "
        "AS px FROM r2), "
        # back to raster order: lum[p] = px[block(p)*64 + in-block(p)]
        f"lm AS (SELECT doc_id, list_transform(generate_series(0, {npix - 1}), "
        f"p -> px[((p // {w}) // 8 * {bxn} + (p % {w}) // 8) * 64 "
        f"+ ((p // {w}) % 8) * 8 + (p % {w}) % 8 + 1]) AS lum FROM px), "
        + _phash_lum_tail_ctes()
    )


def _phash_exactint_sql() -> str:
    """DuckDB twin of `multimodal.q_media_phash_pairs_exactint`:
    the shared hash CTEs + distinct-hash banding, 21-per-family doc
    cap, top-20 (hamming, media_a, media_b) output. Bit-identical."""
    return "WITH " + _phash_hash_ctes() + _exactint_pairs_tail_sql()


def _quantile_sketches_sql() -> str:
    """DuckDB twin of `quality.q_quantile_sketches` (r13 graduation):
    one DDSketch register table per profiled column — the same
    fixed-point ln_micro bucketing, integer nearest-rank probe, and
    exact per-bucket min/max cents as `ddsketch_value_quantiles`,
    grouped and windowed per target. Bit-identical."""
    from beauty_lakehouse_spark.operators import quality as _q

    src = " UNION ALL ".join(
        f"SELECT '{table}.{col}' AS target, "
        f"CAST(CAST({col} AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents "
        f"FROM {table}"
        for table, col in _q.QSKETCH_TARGETS
    )
    qlist = ", ".join(str(q) for q in _q.DDS_QUANTILES)
    return (
        f"WITH src AS ({src}), "
        "cp AS (SELECT target, CASE WHEN cents >= 2147483648 THEN "
        "CAST(error('ddsketch bucket contract violated: cents >= "
        "2^31 exceeds ln_micro exact range; rescale upstream') "
        "AS BIGINT) ELSE cents END AS cents FROM src "
        "WHERE cents >= 1), "
        "b AS (SELECT target, (" + _lnm("cents", "1")
        + f") // {_q.DDS_STEP_UNATS} AS bucket, "
        "CAST(count(*) AS BIGINT) AS n, min(cents) AS lo_cents, "
        "max(cents) AS hi_cents FROM cp GROUP BY 1, 2), "
        "cum AS (SELECT target, bucket, n, lo_cents, hi_cents, "
        "CAST(sum(n) OVER (PARTITION BY target ORDER BY bucket "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS cum FROM b), "
        "tot AS (SELECT target, max(cum) AS n_total FROM cum GROUP BY 1), "
        f"qs AS (SELECT unnest([{qlist}]) AS quantile), "
        "probe AS (SELECT target, quantile, "
        "CAST((quantile * n_total + 99) // 100 AS BIGINT) AS rank "
        "FROM qs, tot) "
        "SELECT cum.target AS target, CAST(quantile AS INTEGER) AS quantile, "
        "rank, CAST(bucket AS BIGINT) AS bucket, n AS n_in_bucket, "
        "lo_cents, hi_cents FROM probe JOIN cum "
        "ON cum.target = probe.target AND cum.cum >= probe.rank "
        "AND cum.cum - cum.n < probe.rank "
        "ORDER BY target, quantile"
    )


def _rename_ctes(sql: str, names: list[str], suffix: str) -> str:
    """Suffix every whole-word occurrence of the given CTE/column
    names so two generated hash chains can coexist in one WITH block
    (column aliases share their CTE's name, so renaming both keeps
    the SQL consistent)."""
    import re as _re

    for n in names:
        sql = _re.sub(rf"\b{n}\b", n + suffix, sql)
    return sql


#: Whole-word tokens of the lossless exact-int hash chain
#: (`_phash_hash_ctes`), for collision-free renaming.
_PHASH_LOSSLESS_TOKENS = [
    "consts", "hx", "bt", "lm", "lum", "pl", "gg", "cf", "ph",
    "cb", "ks", "ls", "g", "h",
]
#: ... and of the JPEG codec chain (`_phash_jpeg_hash_ctes`).
_PHASH_JPEG_TOKENS = _PHASH_LOSSLESS_TOKENS + [
    "gr", "g1", "c2", "qd", "r1", "r2", "px", "c8", "qt",
]


def _cluster_closure_sql(pairs_sql: str) -> str:
    """Recursive min-label closure over a pair SQL (media_a, media_b,
    hamming) — the DuckDB twin of `multimodal.phash_pair_clusters`,
    shared by the rebuild, maintained and pipeline-capstone oracles."""
    return (
        "WITH RECURSIVE prs AS MATERIALIZED ("
        + pairs_sql
        + "), und AS (SELECT media_a AS src, media_b AS dst FROM prs), "
        "edges AS (SELECT src, dst FROM und "
        "UNION SELECT dst, src FROM und), "
        "nodes AS (SELECT DISTINCT src AS id FROM edges), "
        "reach(node, lbl) AS ("
        "SELECT id, id FROM nodes "
        "UNION "
        "SELECT e.dst, r.lbl FROM reach r JOIN edges e "
        "ON e.src = r.node), "
        "comp AS (SELECT node AS media_id, min(lbl) AS cluster_id "
        "FROM reach GROUP BY node), "
        "sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) "
        "AS cluster_size FROM comp GROUP BY 1) "
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(cluster_id AS BIGINT) AS cluster_id, cluster_size, "
        "media_id = cluster_id AS is_canonical "
        "FROM comp JOIN sizes USING (cluster_id) "
        "ORDER BY cluster_id, media_id"
    )


def _media_pipeline_clusters_sql() -> str:
    """DuckDB twin of `multimodal.q_run_media_pipeline`: rebuild the
    published cluster table from scratch — the LOSSLESS hash chain
    for the PPM/PNG slices (doc_id % 3 < 2: those containers decode
    back to the text-derived raster bit-for-bit) UNION the JPEG
    integer-codec chain for the lossy slice (doc_id % 3 = 2), then
    the shared banded pair tail and recursive closure. Hash equality
    proves encode∘decode identity per container, maintained-index ≡
    rebuild, and the pair/cluster tail — in one row set."""
    lossless = _rename_ctes(
        _phash_hash_ctes().replace(
            "FROM documents)", "FROM documents WHERE doc_id % 3 < 2)"
        ),
        _PHASH_LOSSLESS_TOKENS,
        "l",
    )
    jpeg = _rename_ctes(
        _phash_jpeg_hash_ctes().replace(
            "FROM documents)", "FROM documents WHERE doc_id % 3 = 2)"
        ),
        _PHASH_JPEG_TOKENS,
        "j",
    )
    pairs = (
        "WITH "
        + lossless
        + jpeg
        + "ph AS MATERIALIZED (SELECT doc_id, phash FROM phl "
        "UNION ALL SELECT doc_id, phash FROM phj), "
        + _exactint_pairs_tail_sql()
    )
    return _cluster_closure_sql(pairs)


def _exactint_pairs_tail_sql() -> str:
    """Shared SQL tail of the exact-int fingerprint twins (mirrors
    `multimodal.exactint_hash_pairs`): expects a preceding CTE named
    ``ph (doc_id, phash)``; distinct-hash banding, family cap, top-k
    (hamming, media_a, media_b) output."""
    bits = multimodal.PHASH_BITS
    bands = multimodal.PHASH_BANDS
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    cap = multimodal.PHASH_EXACT_FAMILY_CAP
    topk = multimodal.PHASH_EXACT_TOPK
    hmax = multimodal.PHASH_HAMMING_MAX
    return (
        "fam AS (SELECT doc_id, phash, row_number() OVER "
        "(PARTITION BY phash ORDER BY doc_id) AS rk FROM ph), "
        # MATERIALIZED: kept is referenced four times downstream (same
        # a/c, cross_ da/db) — inlining re-evaluates the entire hash
        # chain each time (measured 9.6s -> 0.7s on the pipeline oracle)
        f"kept AS MATERIALIZED (SELECT doc_id, phash FROM fam WHERE rk <= {cap}), "
        "grp AS (SELECT DISTINCT phash FROM kept), "
        f"hb AS (SELECT phash, CAST(band AS INT) AS band, "
        f"(phash >> CAST(band * {band_bits} AS INT)) & {mask} AS bucket "
        f"FROM grp, UNNEST(range(0, {bands})) AS u(band)), "
        "hp AS (SELECT DISTINCT a.phash AS pa, c.phash AS pb FROM hb a "
        "JOIN hb c ON a.band = c.band AND a.bucket = c.bucket "
        "AND a.phash < c.phash), "
        "hpf AS (SELECT pa, pb, CAST(bit_count(xor(pa, pb)) AS INT) "
        f"AS hamming FROM hp WHERE bit_count(xor(pa, pb)) <= {hmax}), "
        "same AS (SELECT a.doc_id AS media_a, c.doc_id AS media_b, "
        "CAST(0 AS INT) AS hamming FROM kept a JOIN kept c "
        "ON a.phash = c.phash AND a.doc_id < c.doc_id), "
        "cross_ AS (SELECT least(da.doc_id, db.doc_id) AS media_a, "
        "greatest(da.doc_id, db.doc_id) AS media_b, hpf.hamming "
        "FROM hpf JOIN kept da ON da.phash = hpf.pa "
        "JOIN kept db ON db.phash = hpf.pb), "
        "allp AS (SELECT * FROM same UNION ALL SELECT * FROM cross_) "
        "SELECT media_a, media_b, hamming FROM allp "
        f"ORDER BY hamming, media_a, media_b LIMIT {topk}"
    )


def _afp_exactint_sql() -> str:
    """DuckDB twin of `multimodal.q_media_audio_pairs_exactint`: the
    SAME fixed-point integer DFT band-energy fingerprint (shared
    `afp_int_basis` literals — no runtime transcendental), then the
    shared exact-int pair tail."""
    cosb, sinb = multimodal.afp_int_basis()
    bits = multimodal.PHASH_BITS
    frame = multimodal.AFP_FRAME
    hop = multimodal.AFP_HOP
    bins = multimodal.AFP_BINS
    nsamp = hop * (bits + 1)
    cb = (
        "["
        + ", ".join("[" + ", ".join(str(v) for v in r) + "]" for r in cosb)
        + "]"
    )
    sb = (
        "["
        + ", ".join("[" + ", ".join(str(v) for v in r) + "]" for r in sinb)
        + "]"
    )
    return (
        f"WITH consts AS (SELECT {cb} AS cosb, {sb} AS sinb), "
        "hx AS (SELECT doc_id, hex(encode(coalesce(text, ''))) AS h "
        "FROM documents), "
        "bt AS (SELECT doc_id, CASE WHEN length(h) = 0 "
        "THEN [CAST(0 AS BIGINT)] "
        "ELSE list_transform(generate_series(1, length(h) // 2), "
        "i -> CAST(('0x' || substr(h, 2 * i - 1, 2)) AS BIGINT)) END AS bt "
        "FROM hx), "
        f"wv AS (SELECT doc_id, list_transform(generate_series(0, {nsamp - 1}), "
        "t -> bt[t % len(bt) + 1] - 128) AS wv FROM bt), "
        # squares via 1-element list_transform let-bindings: exact
        # BIGINT products, never a float pow (mirrors the Spark side)
        f"en AS (SELECT doc_id, list_transform(generate_series(0, {bits - 1}), "
        f"f -> CAST(list_sum(list_transform(generate_series(0, {bins - 1}), "
        f"k -> list_transform([CAST(list_sum(list_transform("
        f"generate_series(0, {frame - 1}), "
        f"t2 -> cosb[k + 1][t2 + 1] * wv[f * {hop} + t2 + 1])) AS BIGINT)], "
        "d -> d * d)[1] + "
        f"list_transform([CAST(list_sum(list_transform("
        f"generate_series(0, {frame - 1}), "
        f"t3 -> sinb[k + 1][t3 + 1] * wv[f * {hop} + t3 + 1])) AS BIGINT)], "
        "d2 -> d2 * d2)[1])) "
        "AS BIGINT)) AS en FROM wv, consts), "
        f"dl AS (SELECT doc_id, list_transform(generate_series(0, {bits - 1}), "
        "f -> en[f + 1] - CASE WHEN f = 0 THEN 0 ELSE en[f] END) AS dl "
        "FROM en), "
        f"ph AS (SELECT doc_id, CAST(list_sum(list_transform("
        f"generate_series(0, {bits - 1}), bb -> CASE WHEN "
        f"dl[bb + 1] * {bits} >= list_sum(dl) "
        "THEN (CAST(1 AS BIGINT) << bb) ELSE 0 END)) AS BIGINT) AS phash "
        "FROM dl), "
        + _exactint_pairs_tail_sql()
    )


def _q_media_phash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-at-ingest for the media near-dup index: the
    fixed-point integer DCT pHash (`multimodal.phash_exactint`)
    running as a STREAMING transform over the documents landing
    stream (append mode, availableNow drain) — per-doc stateless, so
    the streaming plan is the batch kernel per micro-batch. Shares the
    batch twin's hash CTE chain as its DuckDB oracle, so
    maintained-at-ingest fingerprints ≡ batch recompute bit-for-bit."""
    return streaming.run_available_now(
        multimodal.phash_exactint(streaming.stream_documents(spark, sf_dir)),
        "append",
    )


def _q_winnow_fps_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional winnowing fingerprint extraction as a STREAMING
    transform over the documents landing stream (append mode,
    availableNow drain) — per-doc stateless, so the streaming plan is
    the batch plan per micro-batch: fingerprint-at-ingest, the shape a
    production dedup index maintains. Hash-checked against the batch
    winnow selection's DuckDB list-SQL oracle."""
    return streaming.run_available_now(
        text.winnow_fingerprints(
            streaming.stream_documents(spark, sf_dir), stream_safe=True
        ),
        "append",
    )


def _q_doc_chunking_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless chunk expansion running as a STREAMING transform over
    the documents landing stream (append mode, availableNow drain) —
    hash-checked against the batch q_doc_chunking oracle. The chunker
    needs no state at all, so the streaming plan is the batch plan per
    micro-batch: the ingest-time form of example construction."""
    return streaming.run_available_now(
        curation.chunk_documents(streaming.stream_documents(spark, sf_dir)),
        "append",
    )


def _q_gopher_quality_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-at-ingest: the Gopher rule card running as a STREAMING
    transform over the documents landing stream (append mode,
    availableNow drain) — the stateless narrow map means the streaming
    plan IS the batch plan per micro-batch, which is exactly how a
    production corpus gate applies quality rules before anything
    lands. Behind the SAME oracle row as the batch
    ``gopher_quality_flags``."""
    return streaming.run_available_now(
        text.gopher_flags(streaming.stream_documents(spark, sf_dir)), "append"
    )


def _q_hll_distinct_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL registers maintained as a complete-mode streaming
    aggregate over the documents landing stream (state ≤ m rows — the
    canonical streaming-sketch shape), drained and finished batch-side
    — behind the SAME oracle as the batch documents.doc_id HLL row."""
    regs = streaming.run_available_now(
        streaming.hll_register_stream(streaming.stream_documents(spark, sf_dir))
    )
    exact = catalog.load(spark, sf_dir).documents.agg(
        F.countDistinct("doc_id").alias("n_exact")
    )
    return quality.hll_estimate_from_registers(regs, exact).select(
        F.lit("documents.doc_id").alias("target"),
        "n_exact", "hll_estimate", "registers_nonzero",
    )


def _q_hll_users_hourly_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hour via the GROUPED portable-HLL registers
    maintained as a streaming aggregate, drained and finished
    batch-side — behind a grouped-HLL oracle keyed on the hour bucket
    (the canonical 'unique visitors per window' streaming-sketch job)."""
    regs = streaming.run_available_now(
        streaming.hourly_user_hll_registers(streaming.stream_events(spark, sf_dir))
    )
    us = epoch_us(F.col("ts"))
    exact = (
        catalog.load(spark, sf_dir)
        .events.select((us - us % F.lit(3_600_000_000)).alias("hour_us"), "user_id")
        .groupBy("hour_us")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return quality.hll_estimate_from_registers(regs, exact, keys=("hour_us",))


def _q_table_stats_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style orders profile with its per-column VALUE GRID
    maintained as one complete-mode streaming aggregate and drained,
    then finished batch-side into the exact `table_stats` report,
    behind the SAME oracle row as the batch profile (register/finish
    split, exactly like the HLL and volume-anomaly drains). Count over
    the grid key is additive and order-insensitive, so the report is
    micro-batch-slicing-independent; exact-NDV state is one row per
    distinct value (the HLL drain is the bounded-state sibling)."""
    return quality.table_stats_finish(streaming.run_available_now(
        streaming.order_stats_value_grid(streaming.stream_orders(spark, sf_dir))
    ))


def _q_ddsketch_quantiles_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles-at-ingest: the DDSketch log-bucket grid over order
    totals is maintained by the landing stream (complete-mode state is
    the ≤~700-row bucket table — count adds, min/min and max/max merge,
    so the drained grid is micro-batch-slicing-independent), then the
    batch finisher turns it into the identical (quantile, rank,
    bracket) report. Behind the SAME oracle row as the batch
    `ddsketch_value_quantiles`; the quantile-sketch sibling of the
    HLL/CMS drains."""
    return quality.ddsketch_quantiles_finish(streaming.run_available_now(
        streaming.orders_value_sketch(streaming.stream_orders(spark, sf_dir))
    ))


def _q_user_modal_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode-at-ingest: the per-(user, event_type) count grid is
    maintained by the landing stream (complete-mode state, additive
    and order-insensitive, so the drain is micro-batch-slicing-
    independent), then the shared `user_modal_finish` turns it into
    the identical modal report. Behind the SAME oracle row as the
    batch `user_modal_event`."""
    return events.user_modal_finish(streaming.run_available_now(
        streaming.user_event_type_counts(streaming.stream_events(spark, sf_dir))
    ))


def _q_rate_capped_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throttle-at-ingest: the first-K-per-(user, clock hour) kept set,
    maintained as a pure-JVM streaming aggregate — per key,
    ``slice(array_sort(collect_list(struct(us, event_id))), k)`` with a
    monotone ``count(*)`` version stamp; ``rate_capped_grid_finish``
    keeps the last snapshot per key and explodes ranks. Eviction-
    correct (a late earlier event displaces a kept row at the next
    emission) and micro-batch-slicing-independent (collect_list up to
    a deterministic sort is order-insensitive). Behind the SAME oracle
    row as the batch ``events_rate_capped``."""
    return streaming.rate_capped_grid_finish(streaming.run_available_now(
        streaming.rate_capped_grid(streaming.stream_events(spark, sf_dir)), "update"
    ))


def _q_domain_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-dedup-at-ingest: per-URL smallest-doc_id crawl + crawl
    count maintained as a JVM streaming aggregate over the documents
    landing stream — ``min(struct(doc_id, n_tok, n_distinct))`` plus
    ``count(*)`` as crawl count and version stamp (min is associative/
    commutative, so the winner table is micro-batch-slicing-
    independent) — finished through the SHARED
    ``curation.domain_mixture_finish`` tail. Behind the SAME oracle
    row as the batch ``domain_dedup_mixture``."""
    return streaming.url_dedup_finish(streaming.run_available_now(
        streaming.url_dedup_state(streaming.stream_documents(spark, sf_dir)), "update"
    ))


def _q_ks_two_sample_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS-at-ingest: the purchase/view per-value count grid maintained
    as a complete-mode streaming aggregate over the events landing
    stream (additive + order-insensitive -> slicing-independent), then
    the SHARED `quality.ks_finish` computes the statistic from the
    drained grid. Behind the SAME oracle row as the batch
    `ks_two_sample`."""
    return quality.ks_finish(streaming.run_available_now(
        streaming.ks_value_grid(streaming.stream_events(spark, sf_dir))
    ))


def _q_dsir_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-model-at-ingest: the DSIR hashed-bigram feature grid
    maintained as a complete-mode count aggregate over the documents
    landing stream (additive + order-insensitive → slicing-
    independent), then the SHARED ``curation.dsir_finish`` derives the
    bucket model and scores the raw pool from the drained grid. Behind
    the SAME oracle row as the batch ``dsir_importance``."""
    return curation.dsir_finish(streaming.run_available_now(
        streaming.dsir_doc_bucket_counts(streaming.stream_documents(spark, sf_dir))
    ))


def _q_nb_lang_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify-at-ingest: the NB classifier's per-(doc, lang, token)
    count grid maintained as a complete-mode aggregate over the
    documents landing stream (additive + order-insensitive →
    slicing-independent), then the SHARED ``text.nb_finish`` trains
    the model on the grid's train fold and scores its test fold.
    Behind the SAME oracle row as the batch ``nb_lang_classifier``."""
    return text.nb_finish(streaming.run_available_now(
        streaming.nb_token_counts(streaming.stream_documents(spark, sf_dir))
    ))


def _q_kaplan_meier_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival-at-ingest: per-customer (first, second) order dates
    maintained as a JVM streaming aggregate over the orders landing
    stream — ``slice(array_sort(collect_list(struct(days,
    o_orderkey))), 1, 2)``, the rate-cap drain's shape, plus the
    per-key max date so censoring needs nothing beyond the snapshot
    and ``count(*)`` as the version stamp — finished through the
    SHARED ``operators.events.km_curve`` tail. Behind the same oracle
    row as the batch ``kaplan_meier_repeat``."""
    return streaming.km_firsts_finish(streaming.run_available_now(
        streaming.km_firsts(streaming.stream_orders(spark, sf_dir)), "update"
    ))


def _q_bootstrap_mean_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling-at-ingest: the Poisson-bootstrap (replicate → Σw,
    Σw·cents) grid maintained by the orders landing stream — the
    weights are pure map-side hash expressions, the grid is one
    additive complete-mode aggregate of B+1 rows (replicate −1 carries
    the unweighted full-sample stats), and the shared
    ``bootstrap_finish`` reads off the identical CI. Behind the SAME
    oracle row as ``bootstrap_mean_ci``."""
    return quality.bootstrap_finish(streaming.run_available_now(
        quality.bootstrap_grid(streaming.stream_orders(spark, sf_dir))
    ))


def _q_page_hinkley_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-detection-at-ingest: the Page-Hinkley daily revenue grid
    maintained by the orders landing stream — ONE additive complete-
    mode aggregate (the bootstrap_grid shape) — with the shared
    ``ph_finish`` ledgers reading off the identical alarms. Behind
    the SAME oracle row as ``page_hinkley_drift``."""
    return temporal.ph_finish(streaming.run_available_now(
        temporal.ph_daily_grid(streaming.stream_orders(spark, sf_dir))
    ))


def _q_view_purchase_join_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join drain: views joined to same-user
    purchases within the following hour, both sides watermarked,
    append mode (a match emits exactly once), drained with
    availableNow. The oracle is the plain batch time-range join."""
    return streaming.run_available_now(
        streaming.view_purchase_join(streaming.stream_events(spark, sf_dir)),
        "append",
    )


def _q_cms_cells_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min cell grid over the events stream's user ids,
    maintained as one complete-mode streaming aggregate and drained —
    count is additive and order-insensitive, so the drained D×W grid
    is bit-identical to the batch sketch the DuckDB oracle computes
    (the frequency-sketch sibling of the HLL register drains)."""
    return streaming.run_available_now(
        streaming.cms_user_cells(streaming.stream_events(spark, sf_dir))
    )


def _q_event_anomalies_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trailing-24h volume-anomaly monitor with its hourly bucket
    table maintained as a STREAMING aggregate (complete-mode tumbling
    windows) and the RANGE-frame 3σ verdict applied as the batch
    finish over the drained buckets — behind the SAME oracle row as
    the batch q_event_volume_anomalies (register/finish split, exactly
    like the streamed HLL drains)."""
    return events.volume_anomaly_finish(streaming.run_available_now(
        streaming.hourly_event_counts(streaming.stream_events(spark, sf_dir))
    ).select("event_type", "hour_start_us", "n_events"))


def _q_beauty_datagen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from beauty_lakehouse_spark import datagen

    return datagen.q_beauty_datagen_validation(spark, sf_dir)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_HASH = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# Exact-decimal money fragments (mirror operators.relational.net_expr /
# charge_expr: inputs lifted to DECIMAL before any arithmetic, so sums are
# order-independent and HALF_UP rounding is engine-identical).
_NET = (
    "(CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(12,2))))"
)
_CHARGE = f"({_NET} * (1 + CAST(l_tax AS DECIMAL(12,2))))"


def _rev(expr: str = _NET, scale: int = 2) -> str:
    """round(sum(exact decimal), scale) as double — money_sum's twin."""
    return f"CAST(round(sum({expr}), {scale}) AS DOUBLE)"


def _avg_cents(col: str, k: int) -> str:
    """halfup_div twin for round(avg(2-dp money col), k)."""
    return _hud(
        f"CAST(sum(CAST({col} AS DECIMAL(12,2))) * 100 AS HUGEINT)",
        "count(*) * 100",
        k,
    )

#: Word-3-gram shingles, distinct per doc, no shingles for docs < 3 tokens
#: (mirrors dedup.shingles exactly).
def _key_skew_sql(table: str, key: str) -> str:
    """One key column's skew stats from its count-of-counts profile —
    the DuckDB twin of quality._key_skew_stats (same block-telescoped
    exact Gini; HUGEINT where Spark uses decimal(38,0))."""
    return (
        f"(WITH co AS (SELECT {key} AS k, count(*) AS c FROM {table} "
        "GROUP BY 1), "
        "po AS (SELECT c, count(*) AS m FROM co GROUP BY c), "
        "bo AS (SELECT c, m, coalesce(sum(m) OVER (ORDER BY c "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 "
        "AS strt FROM po), "
        "so AS (SELECT CAST(sum(c * m) AS BIGINT) AS n_rows, "
        "CAST(sum(m) AS BIGINT) AS n_keys, "
        "CAST(max(c) AS BIGINT) AS max_key_rows, "
        "sum(CAST(c AS HUGEINT) * (2 * CAST(m AS HUGEINT) * "
        "CAST(strt AS HUGEINT) + CAST(m AS HUGEINT) * "
        "(CAST(m AS HUGEINT) - 1))) AS lin FROM bo) "
        f"SELECT '{table}.{key}' AS key_col, n_rows, n_keys, "
        "max_key_rows, "
        + _hud("max_key_rows", "n_rows", 6)
        + " AS max_share, "
        + _hud(
            "(lin - CAST(n_rows AS HUGEINT) * (n_keys + 1))",
            "(CAST(n_keys AS HUGEINT) * n_rows)",
            6,
        )
        + " AS gini FROM so)"
    )


#: Canonical orders row-hash CTE — shared by the batch `table_checksums`
#: oracle and the streamed `orders_checksum_streamed` twin (mirrors
#: quality.orders_row_hash piece-for-piece).
_ORDERS_HASH_EXPR = (
    "('0x' || substr(md5(concat_ws('|', "
    "coalesce(CAST(o_orderkey AS VARCHAR), '~null~'), "
    "coalesce(CAST(o_custkey AS VARCHAR), '~null~'), "
    "coalesce(CAST(o_orderstatus AS VARCHAR), '~null~'), "
    "coalesce(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), '~null~'), "
    "coalesce(CAST(epoch_us(o_orderdate) AS VARCHAR), '~null~'), "
    "coalesce(CAST(o_orderpriority AS VARCHAR), '~null~'))), 1, 15))::BIGINT"
)

_ORDERS_HASH_CTE = f"ho AS (SELECT {_ORDERS_HASH_EXPR} AS h FROM orders)"

_SHINGLES_CTE = """
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
)
"""

# Kirsch-Mitzenmacher double hashing (mirrors dedup.minhash_signatures):
# h_i = h1 + i*h2 with h2 masked below 2^56 so h1 + 15*h2 < 2^61.
_MINHASH_CTE = (
    _SHINGLES_CTE
    + """,
based AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
         (('0x' || substr(md5('mh2:' || shingle), 1, 15))::BIGINT & 72057594037927935) AS h2
  FROM sh
),
mh AS (
  SELECT doc_id, CAST(i AS INT) AS i, min(h1 + i * h2) AS mh
  FROM based, UNNEST(range(0, 16)) AS u(i)
  GROUP BY doc_id, i
)
"""
)

_SIMHASH_CTE = (
    _SHINGLES_CTE
    + """,
hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
),
bits AS (
  SELECT doc_id, bit, sum(CASE WHEN (h >> CAST(bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hs, UNNEST(range(0, 32)) AS u(bit)
  GROUP BY doc_id, bit
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""
)


#: Shared CTE chain for the merge-scenario oracles: base = orders
#: projection, src = update+insert batch, final = post-merge state.
_MERGE_CTES = (
    "base AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice, CAST(year(o_orderdate) AS INTEGER) AS order_year "
    "FROM orders), "
    "src AS ("
    "SELECT o_orderkey, o_custkey, o_orderstatus, "
    "CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) + 1, 2) AS DOUBLE) "
    "AS o_totalprice, order_year FROM base WHERE o_orderkey % 7 = 0 "
    "UNION ALL "
    "SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, "
    "o_totalprice, order_year FROM base WHERE o_orderkey % 11 = 0), "
    "merged AS ("
    "SELECT b.* FROM base b ANTI JOIN src s "
    "ON b.o_orderkey = s.o_orderkey "
    "UNION ALL SELECT * FROM src), "
    "final AS ("
    "SELECT m.* FROM merged m ANTI JOIN "
    "(SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0) d "
    "ON m.o_orderkey = d.o_orderkey)"
)


def _lsh_int_sig_cte() -> str:
    """CTE chain computing the integer-exact LSH signature table
    ``intsig(vec_id, tbl, sig)`` over the full embeddings fixture —
    the DuckDB twin of ``similarity.lsh_int_signatures`` (portable
    plane grid from the 60-bit hash, millionth-quantized components,
    HUGEINT dots). ONE definition shared by the `lsh_index_maintained`
    and `ann_topk_exactint` oracles so the plane math cannot drift."""
    return (
        "dims AS (SELECT unnest(generate_series(0, 63)) AS j), "
        "ps AS (SELECT unnest(generate_series(0, 47)) AS p), "
        "pl AS (SELECT p, j, ('0x' || substr(md5('lshidx:' || "
        "CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15))"
        "::BIGINT - (CAST(1 AS BIGINT) << 59) AS pc FROM ps, dims), "
        "sige AS (SELECT vec_id, d.j AS j, "
        "CAST(floor(CAST(embedding[d.j + 1] AS DOUBLE) * 1000000 "
        "+ 0.5) AS BIGINT) AS eq FROM embeddings, dims d), "
        "sdot AS (SELECT vec_id, p, "
        "sum(CAST(eq AS HUGEINT) * CAST(pc AS HUGEINT)) AS d "
        "FROM sige JOIN pl USING (j) GROUP BY 1, 2), "
        "sbits AS (SELECT vec_id, CAST(p // 8 AS INTEGER) AS tbl, "
        "CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << (p % 8)) "
        "ELSE CAST(0 AS BIGINT) END AS bv FROM sdot), "
        "intsig AS (SELECT vec_id, tbl, CAST(sum(bv) AS BIGINT) "
        "AS sig FROM sbits GROUP BY 1, 2)"
    )


def _bpe_train_sql(n_merges: int = 12) -> str:
    """DuckDB twin of text.bpe_train — the FULL iterative trainer,
    unrolled: per round, a pair-count CTE over the current vocab, a
    1-row argmax CTE (weight desc, l, r — the trainer's exact
    tie-break), and a vocab-rewrite CTE whose ``list_reduce`` fold
    replicates the Spark merge-application scan EXACTLY (state packed
    as 'emitted|pending' in one VARCHAR, the same init-prepend trick
    as ln_micro_sql; every CTE MATERIALIZED — DuckDB inlines CTEs by
    default, which re-evaluates the whole prefix chain per consumer
    and went exponential over 12 rounds, 227s -> ~2s) — string
    replace() was rejected because its
    non-overlapping scan diverges from the greedy fold on runs like
    'a a a a'. Graduates the trainer from rows-only to oracle.

    The state separator is U+001F (unit separator) — outside any
    plausible document alphabet — and v0 additionally RAISES via
    ``error()`` if a corpus token ever contains it, so a fixture
    change can never silently corrupt the packed fold state (r7; the
    original '|' separator was fixture-safe but fragile)."""
    sep = "\x1f"
    fold = (
        f"trim(replace(list_reduce(list_prepend('{sep}', "
        "string_split(s, ' ')), "
        "(acc, x) -> CASE "
        f"WHEN split_part(acc, '{sep}', 2) = b.l AND x = b.r "
        f"THEN split_part(acc, '{sep}', 1) || '{sep}' || "
        f"split_part(acc, '{sep}', 2) || x "
        f"WHEN split_part(acc, '{sep}', 2) = '' THEN acc || x "
        f"ELSE CASE WHEN split_part(acc, '{sep}', 1) = '' "
        f"THEN split_part(acc, '{sep}', 2) || '{sep}' || x "
        f"ELSE split_part(acc, '{sep}', 1) || ' ' || "
        f"split_part(acc, '{sep}', 2) "
        f"|| '{sep}' || x END END), '{sep}', ' '))"
    )
    ctes = [
        "v0 AS MATERIALIZED (SELECT count(*) AS freq, "
        "array_to_string(string_split(CASE WHEN "
        f"contains(token, '{sep}') THEN error('bpe twin: corpus token "
        "contains the U+001F state separator') ELSE token END, ''), ' ') "
        "AS s "
        "FROM (SELECT unnest(string_split(text, ' ')) AS token "
        "FROM documents) WHERE token <> '' GROUP BY token)"
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"p{k} AS MATERIALIZED (SELECT z[1] AS l, z[2] AS r, "
            f"CAST(sum(freq) AS BIGINT) AS weight FROM ("
            f"SELECT freq, unnest(list_zip(sym[1:len(sym)-1], "
            f"sym[2:len(sym)])) AS z FROM ("
            f"SELECT freq, string_split(s, ' ') AS sym FROM v{k-1}) "
            f"WHERE len(sym) >= 2) GROUP BY 1, 2)"
        )
        ctes.append(
            f"best{k} AS MATERIALIZED (SELECT l, r, weight FROM p{k} "
            f"ORDER BY weight DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"v{k} AS MATERIALIZED (SELECT freq, {fold} AS s FROM v{k-1}, best{k} b)"
        )
    union = " UNION ALL ".join(
        f'SELECT {k} AS merge_rank, l AS "left", r AS "right", '
        f"l || r AS merged, weight FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + union


def _quality_report_sql() -> str:
    """Mirror of quality.validate() over _QUALITY_TABLES, one row per rule."""
    cols = {
        "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                   "o_orderdate", "o_orderpriority"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                     "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                     "l_returnflag", "l_linestatus", "l_shipdate"],
        "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                     "c_mktsegment"],
        "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                 "p_retailprice"],
        "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        "nation": ["n_nationkey", "n_name", "n_regionkey"],
        "region": ["r_regionkey", "r_name"],
    }
    parts = []

    def rule(name: str, count_sql: str) -> None:
        parts.append(
            f"SELECT '{name}' AS rule, CAST(({count_sql}) AS BIGINT) AS violations"
        )

    # RI rules (order must not matter — driver hash is order-insensitive)
    rule("lineitem.order_exists",
         "SELECT count(*) FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey")
    rule("lineitem.part_exists",
         "SELECT count(*) FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey")
    rule("lineitem.supplier_exists",
         "SELECT count(*) FROM lineitem l ANTI JOIN supplier s ON l.l_suppkey = s.s_suppkey")
    rule("orders.customer_exists",
         "SELECT count(*) FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey")
    rule("customer.nation_exists",
         "SELECT count(*) FROM customer c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey")
    rule("nation.region_exists",
         "SELECT count(*) FROM nation n ANTI JOIN region r ON n.n_regionkey = r.r_regionkey")
    # uniqueness (same table order as the UNIQUE rules of quality.TPCH_RULES)
    for tbl, key in [
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
        ("part", "p_partkey"),
        ("supplier", "s_suppkey"),
    ]:
        rule(f"{tbl}.{key}.unique",
             f"SELECT count(*) FROM (SELECT {key} FROM {tbl} GROUP BY {key} HAVING count(*) > 1)")
    # null-freeness
    for tbl, cs in cols.items():
        cond = " OR ".join(f"{c} IS NULL" for c in cs)
        rule(f"{tbl}.no_nulls", f"SELECT count(*) FROM {tbl} WHERE {cond}")
    # business rules
    rule("lineitem.price_nonneg", "SELECT count(*) FROM lineitem WHERE l_extendedprice < 0")
    rule("lineitem.discount_range",
         "SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1")
    rule("lineitem.ship_after_order",
         "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
         "WHERE l_shipdate < o_orderdate")
    return " UNION ALL ".join(parts)


def _pagerank_exact_sql(iters: int = 8) -> str:
    """DuckDB twin of graph.pagerank_exact: the fixed-point iterations
    UNROLLED into chained CTEs (r0 -> c1,r1 -> ... -> r{iters}) — an
    iterative algorithm expressed as plain SQL because every update is
    integer multiply/floor-div (mirrors PAGERANK_SCALE / 85:100
    damping / teleport constants exactly)."""
    scale = 1_000_000_000_000
    teleport = 15 * scale // 100
    parts = [
        "WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "ok AS (SELECT l_orderkey FROM basket GROUP BY l_orderkey "
        "HAVING count(*) <= 50), "
        "b2 AS (SELECT b.l_orderkey, b.l_partkey FROM basket b "
        "JOIN ok USING (l_orderkey)), "
        "ed AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
        "count(*) AS n_orders FROM b2 a "
        "JOIN b2 b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2), "
        "dir AS (SELECT part_a AS src, part_b AS dst, n_orders AS w FROM ed "
        "UNION ALL SELECT part_b, part_a, n_orders FROM ed), "
        "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM dir "
        "GROUP BY src), "
        "v AS (SELECT DISTINCT src AS id FROM dir), "
        f"r0 AS (SELECT id, CAST({scale} AS BIGINT) AS rank FROM v)"
    ]
    for k in range(1, iters + 1):
        parts.append(
            f", c{k} AS (SELECT d.dst, "
            f"CAST(sum((r.rank * d.w) // o.out_w) AS BIGINT) AS c "
            f"FROM dir d JOIN r{k - 1} r ON r.id = d.src "
            "JOIN outw o ON o.src = d.src GROUP BY d.dst)"
            f", r{k} AS (SELECT v.id, CAST({teleport} + "
            f"(85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS rank "
            f"FROM v LEFT JOIN c{k} c ON c.dst = v.id)"
        )
    parts.append(
        f" SELECT id AS l_partkey, rank FROM r{iters} "
        "ORDER BY rank DESC, id LIMIT 50"
    )
    return "".join(parts)


#: Shared recursive-CTE connected-components closure over the near-dup
#: edge graph (exact-dup + Jaccard >= 1/2): yields comp(doc_id,
#: cluster_id). Used by the dedup_clusters and cluster_safe_split
#: oracles — mirrors dedup.neardup_edges + dedup.connected_components.
_CC_COMP_CTE = (
    "WITH RECURSIVE "
    + _SHINGLES_CTE
    + ", shf AS (SELECT * FROM sh WHERE shingle IN "
    "(SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100)), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), "
    "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "count(*) AS n_common FROM shf a JOIN shf b "
    "ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), "
    "jedges AS (SELECT doc_a, doc_b FROM common "
    "JOIN sizes sa ON sa.doc_id = doc_a "
    "JOIN sizes sb ON sb.doc_id = doc_b "
    "WHERE 2 * n_common >= (sa.n_sh + sb.n_sh - n_common)), "
    "h AS (SELECT doc_id, " + _nth() + " AS text_hash FROM documents), "
    "c AS (SELECT text_hash, min(doc_id) AS keep_id "
    "FROM h GROUP BY text_hash), "
    "eedges AS (SELECT keep_id AS doc_a, doc_id AS doc_b "
    "FROM h JOIN c USING (text_hash) WHERE doc_id <> keep_id), "
    "und AS (SELECT * FROM jedges UNION SELECT * FROM eedges), "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM und "
    "UNION SELECT doc_b, doc_a FROM und), "
    "reach(node, lbl) AS ("
    "SELECT doc_id, doc_id FROM documents "
    "UNION "
    "SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node), "
    "comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id "
    "FROM reach GROUP BY node)"
)


def _hyperball_prefix() -> str:
    """Shared CTE prefix of the HyperBall oracles: the co-purchase
    edge CTE (n_orders >= 2, both directions), per-node self-seeded
    portable-HLL registers, HB_ROUNDS unrolled register-max
    propagation rounds (each MATERIALIZED — the doubly-referenced
    stage re-inlines exponentially otherwise), and per-round per-node
    estimate tables g{k}(node, est) through the shared HLL estimate
    math. Ends with ', ' so callers can append their own CTEs or
    strip it."""
    from beauty_lakehouse_spark.functions import portable_hash64_sql
    from beauty_lakehouse_spark.operators.graph import HB_ROUNDS
    from beauty_lakehouse_spark.operators.quality import (
        _HLL_EST_DEN,
        _HLL_EST_NUM,
        _HLL_LINEAR_EXACT,
        _HLL_RHO_CAP,
        _HLL_S_SCALE,
        HLL_M,
        HLL_P,
    )

    h = portable_hash64_sql("node")
    w = f"({h} >> {HLL_P})"
    rho = (
        f"(CASE WHEN {w} = 0 THEN {_HLL_RHO_CAP} "
        f"ELSE length(bin({w} & (-{w}))) END)"
    )
    parts = [
        "WITH basket AS MATERIALIZED (SELECT DISTINCT l_orderkey, "
        "l_partkey FROM lineitem), "
        "ok AS (SELECT l_orderkey FROM basket GROUP BY l_orderkey "
        "HAVING count(*) BETWEEN 2 AND 50), "
        "b2 AS (SELECT b.l_orderkey, b.l_partkey FROM basket b "
        "JOIN ok USING (l_orderkey)), "
        "ed AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b "
        "FROM b2 a JOIN b2 b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2 HAVING count(*) >= 2), "
        "und AS MATERIALIZED (SELECT part_a AS src, part_b AS dst "
        "FROM ed UNION ALL SELECT part_b, part_a FROM ed), "
        "n AS MATERIALIZED (SELECT DISTINCT src AS node FROM und), "
        f"r0 AS MATERIALIZED (SELECT node, ({h}) & {HLL_M - 1} AS idx, "
        f"{rho} AS m_rho FROM n), ",
    ]
    for k in range(1, HB_ROUNDS + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT node, idx, max(m_rho) AS m_rho "
            f"FROM (SELECT * FROM r{k - 1} UNION ALL "
            f"SELECT u.dst AS node, r.idx, r.m_rho FROM und u "
            f"JOIN r{k - 1} r ON r.node = u.src) GROUP BY 1, 2), "
        )
    est = (
        f"CASE WHEN e_raw <= {5 * HLL_M // 2} AND zeros > 0 THEN "
        f"(CASE WHEN p_regs <= {_HLL_LINEAR_EXACT} "
        f"THEN CAST(p_regs AS BIGINT) "
        f"ELSE CAST(floor(({HLL_M} * "
        + _lnm(str(HLL_M), "greatest(zeros, 1)")
        + ") / 1000000.0) AS BIGINT) END) ELSE e_raw END"
    )
    for k in range(HB_ROUNDS + 1):
        parts.append(
            f"s{k} AS (SELECT node, count(*) AS p_regs, "
            f"coalesce(sum(CAST(({_HLL_S_SCALE} >> m_rho) AS HUGEINT)), 0) "
            f"AS s_present FROM r{k} GROUP BY node), "
            f"e{k} AS (SELECT node, p_regs, ({HLL_M} - p_regs) AS zeros, "
            f"CAST({_HLL_EST_NUM} // ((s_present + ({HLL_M} - p_regs) * "
            f"CAST({_HLL_S_SCALE} AS HUGEINT)) * {_HLL_EST_DEN}) AS BIGINT) "
            f"AS e_raw FROM s{k}), "
            f"g{k} AS (SELECT node, {est} AS est FROM e{k}), "
        )
    return "".join(parts)


def _hilbert_sql() -> str:
    """16-stage unrolled Hamilton xy→d walk — the DuckDB twin of
    `warehouse.q_hilbert_curve_keys`'s single F.aggregate fold (SQL has
    no bound-lambda fold over structs that both engines share, so the
    twin unrolls one CTE per bit; each stage references the previous
    one by name, which keeps the expression tree linear exactly like
    the Spark-side accumulator does)."""
    parts = [
        "WITH o AS (SELECT o_orderkey, o_custkey AS ck, "
        "epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS d "
        "FROM orders), "
        "bd AS (SELECT min(ck) AS ck0, max(ck) AS ck1, min(d) AS d0, "
        "max(d) AS d1 FROM o), "
        "h0 AS (SELECT o_orderkey, "
        "CAST(((ck - ck0) * 65535) // greatest(ck1 - ck0, 1) AS BIGINT) AS zx, "
        "CAST(((d - d0) * 65535) // greatest(d1 - d0, 1) AS BIGINT) AS zy, "
        "CAST(((ck - ck0) * 65535) // greatest(ck1 - ck0, 1) AS BIGINT) AS x, "
        "CAST(((d - d0) * 65535) // greatest(d1 - d0, 1) AS BIGINT) AS y, "
        "CAST(0 AS BIGINT) AS hd FROM o, bd)"
    ]
    k = 0
    for i in range(15, -1, -1):
        s = 1 << i
        rx = f"((x >> {i}) & 1)"
        ry = f"((y >> {i}) & 1)"
        digit = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
            f"WHEN {rx} = 0 AND {ry} = 1 THEN 1 "
            f"WHEN {rx} = 1 AND {ry} = 1 THEN 2 ELSE 3 END)"
        )
        nx = f"CASE WHEN {ry} = 1 THEN x WHEN {rx} = 1 THEN {s - 1} - y ELSE y END"
        ny = f"CASE WHEN {ry} = 1 THEN y WHEN {rx} = 1 THEN {s - 1} - x ELSE x END"
        parts.append(
            f", h{k + 1} AS (SELECT o_orderkey, zx, zy, "
            f"CAST({nx} AS BIGINT) AS x, CAST({ny} AS BIGINT) AS y, "
            f"CAST(hd + CAST({s * s} AS BIGINT) * {digit} AS BIGINT) "
            f"AS hd FROM h{k})"
        )
        k += 1
    parts.append(f" SELECT o_orderkey, zx, zy, hd AS hkey FROM h{k}")
    return "".join(parts)


def _hyperball_sql() -> str:
    """DuckDB twin of graph.q_hyperball_neighborhood — one
    neighborhood-function row per radius from the shared g{k}
    per-node estimate tables."""
    from beauty_lakehouse_spark.operators.graph import HB_ROUNDS

    rows = [
        f"SELECT CAST({k} AS INTEGER) AS round, "
        f"CAST(count(*) AS BIGINT) AS n_nodes, "
        f"CAST(sum(est) AS BIGINT) AS sum_ball_est FROM g{k}"
        for k in range(HB_ROUNDS + 1)
    ]
    return (
        _hyperball_prefix().rstrip(", ")
        + " "
        + " UNION ALL ".join(rows)
        + " ORDER BY round"
    )


def _hyperball_closeness_sql() -> str:
    """DuckDB twin of graph.q_hyperball_closeness — truncated harmonic
    centrality from consecutive-shell deltas of the shared g{k}
    tables, 0-clamped, literal micro weights."""
    from beauty_lakehouse_spark.operators.graph import (
        HB_CLOSENESS_TOP,
        HB_HARMONIC,
        HB_ROUNDS,
    )

    hc = " + ".join(
        f"greatest(g{r}.est - g{r - 1}.est, 0) * {HB_HARMONIC[r - 1]}"
        for r in range(1, HB_ROUNDS + 1)
    )
    joins = " ".join(
        f"JOIN g{r} ON g{r}.node = g0.node"
        for r in range(1, HB_ROUNDS + 1)
    )
    return (
        _hyperball_prefix().rstrip(", ")
        + f" SELECT g0.node, g1.est AS ball_1, g2.est AS ball_2, "
        f"g3.est AS ball_3, CAST({hc} AS BIGINT) AS hc_micro "
        f"FROM g0 {joins} "
        f"ORDER BY hc_micro DESC, g0.node LIMIT {HB_CLOSENESS_TOP}"
    )


def _hll_sql(table: str, col: str, key: str | None = None) -> str:
    """DuckDB twin of quality.hll_estimate (key=None) or of the GROUPED
    quality.hll_registers(keys=...)+hll_estimate_from_registers
    (key=<column>). ONE builder for both shapes so the sketch math —
    register rank, HUGEINT harmonic sum, rational-alpha floor division,
    ln_micro linear-counting correction — exists in exactly one string
    and cannot drift between the grouped and ungrouped oracles."""
    from beauty_lakehouse_spark.functions import portable_hash64_sql
    from beauty_lakehouse_spark.operators.quality import (
        _HLL_EST_DEN,
        _HLL_EST_NUM,
        _HLL_RHO_CAP,
        _HLL_S_SCALE,
        HLL_M,
        HLL_P,
    )

    h = portable_hash64_sql(col)
    w = f"({h} >> {HLL_P})"
    rho = (
        f"(CASE WHEN {w} = 0 THEN {_HLL_RHO_CAP} "
        f"ELSE length(bin({w} & (-{w}))) END)"
    )
    from beauty_lakehouse_spark.operators.quality import _HLL_LINEAR_EXACT

    # the shared estimate math (identical for both shapes); the inner
    # CASE is the linear-counting exact-identity branch (floor(m·
    # ln(m/(m−p))) == p for p ≤ 44 at m = 1024 — see quality.
    # _HLL_LINEAR_EXACT)
    estimate = (
        f"CASE WHEN e_raw <= {5 * HLL_M // 2} AND zeros > 0 THEN "
        f"(CASE WHEN p_regs <= {_HLL_LINEAR_EXACT} "
        f"THEN CAST(p_regs AS BIGINT) "
        f"ELSE CAST(floor(({HLL_M} * "
        + _lnm(str(HLL_M), "greatest(zeros, 1)")
        + ") / 1000000.0) AS BIGINT) END) "
        f"ELSE e_raw END AS hll_estimate"
    )
    e_raw = (
        f"CAST({_HLL_EST_NUM} // ((s_present + ({HLL_M} - p_regs) * "
        f"CAST({_HLL_S_SCALE} AS HUGEINT)) * {_HLL_EST_DEN}) AS BIGINT) "
        f"AS e_raw"
    )
    s_present = (
        f"coalesce(sum(CAST(({_HLL_S_SCALE} >> m_rho) AS HUGEINT)), 0) "
        f"AS s_present"
    )
    if key is None:
        regs = (
            f"SELECT ({h}) & {HLL_M - 1} AS idx, max({rho}) AS m_rho "
            f"FROM {table} WHERE {col} IS NOT NULL GROUP BY 1"
        )
        return (
            f"SELECT '{table}.{col}' AS target, n_exact, {estimate}, "
            f"CAST(p_regs AS INTEGER) AS registers_nonzero FROM ("
            f"SELECT n_exact, p_regs, ({HLL_M} - p_regs) AS zeros, {e_raw} "
            f"FROM (SELECT "
            f"(SELECT count(DISTINCT {col}) FROM {table}) AS n_exact, "
            f"count(*) AS p_regs, {s_present} FROM ({regs})))"
        )
    regs = (
        f"SELECT {key}, ({h}) & {HLL_M - 1} AS idx, max({rho}) AS m_rho "
        f"FROM {table} WHERE {col} IS NOT NULL GROUP BY 1, 2"
    )
    return (
        f"SELECT {key}, n_exact, {estimate}, "
        f"CAST(p_regs AS INTEGER) AS registers_nonzero FROM ("
        f"SELECT {key}, n_exact, p_regs, ({HLL_M} - p_regs) AS zeros, "
        f"{e_raw} FROM ("
        f"SELECT r.{key}, any_value(e.n_exact) AS n_exact, "
        f"count(*) AS p_regs, {s_present} "
        f"FROM ({regs}) r "
        f"JOIN (SELECT {key}, count(DISTINCT {col}) AS n_exact "
        f"FROM {table} GROUP BY 1) e USING ({key}) "
        f"GROUP BY r.{key}))"
    )


def _hll_sql_one(table: str, col: str) -> str:
    return _hll_sql(table, col)


def _hll_group_sql(table: str, col: str, key: str) -> str:
    return _hll_sql(table, col, key)


def _bpe_chain_sql(expr: str) -> str:
    """The BPE_FIXED_MERGES replace chain as nested DuckDB ``replace``
    calls — generated from the same table text.bpe_encode_expr folds
    over, so the two sides cannot drift."""
    for a, b in text.BPE_FIXED_MERGES:
        expr = f"replace({expr}, '<{a}><{b}>', '<{a}{b}>')"
    return expr


def _entropy_sql() -> str:
    """DuckDB twin of quality.q_categorical_entropy — one UNION ALL
    block per target, generated from the same ENTROPY_TARGETS list."""
    lnm_nc = _lnm("n", "c")
    lnm_k = _lnm("k", "1")
    h = _hud("hn", "n", 0)
    blocks = []
    for table, col in quality.ENTROPY_TARGETS:
        blocks.append(
            f"SELECT '{table}.{col}' AS target, CAST(n AS BIGINT) AS n_rows, "
            f"CAST(k AS INTEGER) AS n_distinct, "
            f"CAST({h} AS BIGINT) AS entropy_unats, "
            f"CASE WHEN k = 1 THEN 0.0 ELSE "
            + _hud(f"(CAST({h} AS BIGINT))", f"({lnm_k})", 6)
            + " END AS uniformity FROM ("
            f"SELECT sum(CAST(c AS HUGEINT) * {lnm_nc}) AS hn, "
            f"max(n) AS n, max(k) AS k FROM "
            f"(SELECT {col} AS vv, count(*) AS c FROM {table} "
            f"WHERE {col} IS NOT NULL GROUP BY 1) a, "
            f"(SELECT sum(cnt) AS n, count(*) AS k FROM "
            f"(SELECT count(*) AS cnt FROM {table} "
            f"WHERE {col} IS NOT NULL GROUP BY {col})) b)"
        )
    return " UNION ALL ".join(blocks)


def _drift_sql() -> str:
    """DuckDB twin of quality.q_value_drift_report — identical bucket
    grid, cross-multiplied PSI terms with the same magnitude-derived
    power-of-two downshift, exact KS numerator."""
    lnm = _lnm("hi_s", "lo_s")
    ab = "(CAST(max(tot_a) AS HUGEINT) * max(tot_b))"
    return (
        "WITH e AS (SELECT event_type, "
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, "
        "epoch_us(ts) AS us FROM events), "
        "bd AS (SELECT min(c) AS mn, max(c) AS mx, min(us) AS us0, "
        "max(us) AS us1 FROM e), "
        "bk AS (SELECT event_type, ((c - mn) * 10) // (mx - mn + 1) AS bkt, "
        "us < us0 + (us1 - us0 + 1) // 2 AS in_a FROM e, bd), "
        "grid AS (SELECT event_type, bkt, "
        "sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS na, "
        "sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS nb "
        "FROM bk GROUP BY 1, 2), "
        "g AS (SELECT event_type, bkt, na, nb, "
        "sum(na) OVER tw AS tot_a, sum(nb) OVER tw AS tot_b, "
        "sum(na) OVER cwin AS cum_a, sum(nb) OVER cwin AS cum_b FROM grid "
        "WINDOW tw AS (PARTITION BY event_type), "
        "cwin AS (PARTITION BY event_type ORDER BY bkt "
        "ROWS UNBOUNDED PRECEDING)), "
        "g2 AS (SELECT *, CAST(na AS HUGEINT) * tot_b AS u, "
        "CAST(nb AS HUGEINT) * tot_a AS v FROM g), "
        "g3 AS (SELECT *, greatest(u, v) AS hi, least(u, v) AS lo, "
        "(CASE WHEN greatest(u, v) >= 4611686018427387904 THEN 17179869184 "
        "WHEN greatest(u, v) >= 70368744177664 THEN 262144 "
        "WHEN greatest(u, v) >= 2147483648 THEN 4 ELSE 1 END) AS two_k "
        "FROM g2), "
        "g4 AS (SELECT *, CAST(hi // two_k AS BIGINT) AS hi_s, "
        "greatest(1, CAST(lo // two_k AS BIGINT)) AS lo_s, "
        "(na > 0 AND nb > 0) AS scored FROM g3), "
        "g5 AS (SELECT event_type, tot_a, tot_b, "
        "CASE WHEN scored THEN (hi - lo) * " + lnm + " ELSE 0 END AS psi_num, "
        "CASE WHEN scored THEN 1 ELSE 0 END AS is_scored, "
        "abs(CAST(cum_a AS HUGEINT) * tot_b - CAST(cum_b AS HUGEINT) * tot_a) "
        "AS ks_num FROM g4) "
        "SELECT event_type, CAST(max(tot_a) AS BIGINT) AS n_first_half, "
        "CAST(max(tot_b) AS BIGINT) AS n_second_half, "
        "CAST(sum(is_scored) AS INTEGER) AS n_buckets_scored, "
        "CAST(count(*) - sum(is_scored) AS INTEGER) AS n_buckets_one_sided, "
        "CAST(" + _hud("sum(psi_num)", ab, 0) + " AS BIGINT) AS psi_micro, "
        + _hud("max(ks_num)", ab, 6) + " AS ks "
        "FROM g5 GROUP BY event_type"
    )


def _hll_pair_sql() -> str:
    """DuckDB twin of quality.q_hll_set_algebra: per-event-type user
    sketches, pairwise register max-merge (union), inclusion–exclusion
    intersection — the same fragments _hll_sql uses, re-grouped over
    the (type_a, type_b) pair grid."""
    from beauty_lakehouse_spark.functions import portable_hash64_sql
    from beauty_lakehouse_spark.operators.quality import (
        _HLL_EST_DEN,
        _HLL_EST_NUM,
        _HLL_RHO_CAP,
        _HLL_S_SCALE,
        HLL_M,
        HLL_P,
    )

    h = portable_hash64_sql("user_id")
    w = f"({h} >> {HLL_P})"
    rho = (
        f"(CASE WHEN {w} = 0 THEN {_HLL_RHO_CAP} "
        f"ELSE length(bin({w} & (-{w}))) END)"
    )
    s_present = (
        f"coalesce(sum(CAST(({_HLL_S_SCALE} >> m_rho) AS HUGEINT)), 0) "
        f"AS s_present"
    )
    e_raw = (
        f"CAST({_HLL_EST_NUM} // ((s_present + ({HLL_M} - p_regs) * "
        f"CAST({_HLL_S_SCALE} AS HUGEINT)) * {_HLL_EST_DEN}) AS BIGINT) "
        f"AS e_raw"
    )
    from beauty_lakehouse_spark.operators.quality import _HLL_LINEAR_EXACT

    estimate = (
        f"CASE WHEN e_raw <= {5 * HLL_M // 2} AND zeros > 0 THEN "
        f"(CASE WHEN p_regs <= {_HLL_LINEAR_EXACT} "
        f"THEN CAST(p_regs AS BIGINT) "
        f"ELSE CAST(floor(({HLL_M} * "
        + _lnm(str(HLL_M), "greatest(zeros, 1)")
        + ") / 1000000.0) AS BIGINT) END) "
        f"ELSE e_raw END AS hll_estimate"
    )
    return (
        f"WITH regs AS (SELECT event_type, ({h}) & {HLL_M - 1} AS idx, "
        f"max({rho}) AS m_rho FROM events WHERE user_id IS NOT NULL "
        f"GROUP BY 1, 2), "
        "ty AS (SELECT DISTINCT event_type FROM events "
        "WHERE user_id IS NOT NULL), "
        "pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b "
        "FROM ty a JOIN ty b ON a.event_type < b.event_type), "
        "tagged AS (SELECT type_a, type_b, idx, m_rho FROM pr "
        "JOIN regs ON regs.event_type = pr.type_a "
        "UNION ALL SELECT type_a, type_b, idx, m_rho FROM pr "
        "JOIN regs ON regs.event_type = pr.type_b), "
        "merged AS (SELECT type_a, type_b, idx, max(m_rho) AS m_rho "
        "FROM tagged GROUP BY 1, 2, 3), "
        "tu AS (SELECT DISTINCT event_type, user_id FROM events "
        "WHERE user_id IS NOT NULL), "
        "xu AS (SELECT type_a, type_b, count(DISTINCT user_id) "
        "AS n_exact_union FROM (SELECT type_a, type_b, user_id FROM pr "
        "JOIN tu ON tu.event_type = pr.type_a UNION ALL "
        "SELECT type_a, type_b, user_id FROM pr "
        "JOIN tu ON tu.event_type = pr.type_b) GROUP BY 1, 2), "
        "xi AS (SELECT a.event_type AS type_a, b.event_type AS type_b, "
        "count(*) AS n_exact_intersection FROM tu a JOIN tu b "
        "ON a.user_id = b.user_id AND a.event_type < b.event_type "
        "GROUP BY 1, 2), "
        f"us AS (SELECT type_a, type_b, count(*) AS p_regs, {s_present} "
        "FROM merged GROUP BY 1, 2), "
        f"ue AS (SELECT type_a, type_b, p_regs, ({HLL_M} - p_regs) AS zeros, "
        f"{e_raw} FROM us), "
        f"uest AS (SELECT type_a, type_b, {estimate} FROM ue), "
        f"ss AS (SELECT event_type, count(*) AS p_regs, {s_present} "
        "FROM regs GROUP BY 1), "
        f"se0 AS (SELECT event_type, p_regs, ({HLL_M} - p_regs) AS zeros, "
        f"{e_raw} FROM ss), "
        f"sest AS (SELECT event_type, {estimate} FROM se0) "
        "SELECT p.type_a AS type_a, p.type_b AS type_b, "
        "sa.hll_estimate AS est_a, sb.hll_estimate AS est_b, "
        "u.hll_estimate AS union_estimate, xu.n_exact_union AS n_exact_union, "
        "greatest(CAST(0 AS BIGINT), sa.hll_estimate + sb.hll_estimate - "
        "u.hll_estimate) AS intersection_estimate, "
        "CAST(coalesce(xi.n_exact_intersection, 0) AS BIGINT) "
        "AS n_exact_intersection "
        "FROM pr p JOIN uest u ON u.type_a = p.type_a AND u.type_b = p.type_b "
        "JOIN xu ON xu.type_a = p.type_a AND xu.type_b = p.type_b "
        "JOIN sest sa ON sa.event_type = p.type_a "
        "JOIN sest sb ON sb.event_type = p.type_b "
        "LEFT JOIN xi ON xi.type_a = p.type_a AND xi.type_b = p.type_b"
    )


def oracle_sql() -> dict[str, str]:
    lang_scores = {
        "en": ["the", "a", "of", "and", "to", "in", "is"],
        "de": ["der", "die", "das", "und", "ist", "nicht"],
        "fr": ["le", "la", "et", "les", "des", "est"],
        "es": ["el", "los", "las", "y", "es", "una"],
    }
    score_cols = ", ".join(
        "CAST(len(list_filter(t, x -> x IN ({words}))) AS INTEGER) AS score_{c}".format(
            words=", ".join(f"'{w}'" for w in ws), c=c
        )
        for c, ws in lang_scores.items()
    )

    out = {
        "orders_per_customer": (
            "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey"
        ),
        "parts_per_type": (
            "SELECT p_type, count(*) AS n_parts FROM part GROUP BY p_type"
        ),
        "null_profile_orders": (
            "SELECT "
            + ", ".join(
                f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}"
                for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
            )
            + " FROM orders"
        ),
        "events_by_type": (
            "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type"
        ),
        "order_revenue": (
            f"SELECT l_orderkey, {_rev()} AS revenue, "
            "count(*) AS n_items FROM lineitem GROUP BY l_orderkey"
        ),
        "duplicate_orderkeys": (
            "SELECT o_orderkey, count(*) AS n FROM orders "
            "GROUP BY o_orderkey HAVING count(*) > 1"
        ),
        "repeat_customers": (
            "WITH b AS ("
            "SELECT DISTINCT o_custkey AS c_custkey FROM orders "
            "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "INTERSECT "
            "SELECT DISTINCT o_custkey FROM orders "
            "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
            "AND o_orderdate < TIMESTAMP '1998-01-01') "
            "SELECT c_custkey, c_name, c_mktsegment "
            "FROM b JOIN customer USING (c_custkey)"
        ),
        "ri_orphan_lineitems": (
            "SELECT l.l_orderkey, l.l_linenumber FROM lineitem l "
            "ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey"
        ),
        "order_enriched": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, l_linenumber, l_quantity, "
            f"CAST(round({_NET}, 2) AS DOUBLE) AS net_price "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE l_returnflag = 'R'"
        ),
        "customer_order_stats": (
            "SELECT c_custkey, c_mktsegment, count(*) AS n_orders, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS total_spend, "
            f"{_avg_cents('o_totalprice', 4)} AS avg_order "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_custkey, c_mktsegment"
        ),
        "topk_customers_by_revenue": (
            "WITH rev AS (SELECT o_custkey, "
            f"{_rev()} AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_custkey) "
            "SELECT o_custkey, revenue FROM rev "
            "ORDER BY revenue DESC, o_custkey LIMIT 10"
        ),
        "price_consistency": (
            "WITH per_order AS (SELECT l_orderkey, "
            f"sum({_CHARGE}) AS calc "
            "FROM lineitem GROUP BY l_orderkey) "
            "SELECT o_orderkey, CAST(round(calc, 2) AS DOUBLE) AS calc_total, "
            "o_totalprice "
            "FROM orders JOIN per_order ON o_orderkey = l_orderkey "
            "WHERE abs(calc - CAST(o_totalprice AS DECIMAL(18,2))) > "
            "CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.01 AS DECIMAL(3,2))"
        ),
        "date_rule_violations": (
            "SELECT l_orderkey, l_linenumber FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey WHERE l_shipdate < o_orderdate"
        ),
        "scalar_functions": (
            "SELECT p_partkey, concat_ws('/', p_brand, p_type) AS brand_type, "
            "upper(p_name) AS name_upper, string_split(p_type, ' ')[1] AS type_head, "
            "CAST(round(CAST(p_retailprice AS DECIMAL(12,2)) * "
            "CAST(1.19 AS DECIMAL(3,2)), 2) AS DOUBLE) AS price_vat, "
            "least(greatest(p_size, 5), 40) AS size_clip, "
            "CAST(p_partkey % 10 AS INTEGER) AS bucket, "
            "CAST(length(p_name) AS INTEGER) AS name_len FROM part"
        ),
        "date_parse_roundtrip": (
            "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS iso, "
            "CAST(CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS VARCHAR) "
            "AS parsed_date, "
            "CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) = o_orderdate::DATE "
            "AS roundtrip_ok, "
            "CAST(year(o_orderdate) AS INTEGER) AS y, "
            "CAST(month(o_orderdate) AS INTEGER) AS m, "
            "CAST(day(o_orderdate) AS INTEGER) AS d "
            "FROM orders"
        ),
        "region_mapping_conformance": (
            "SELECT n_nationkey, n_name, r_name FROM nation "
            "JOIN region ON n_regionkey = r_regionkey"
        ),
        "mktsegment_distribution": (
            "WITH c AS (SELECT c_mktsegment, count(*) AS n_customers "
            "FROM customer GROUP BY c_mktsegment), "
            "t AS (SELECT count(*) AS total FROM customer) "
            "SELECT c_mktsegment, n_customers, "
            + _hud("n_customers", "total", 6)
            + " AS share FROM c, t"
        ),
        "part_stock_balance": (
            # same prefix-sum-minus-clamped-prefix-min identity; the
            # (shipdate, orderkey, linenumber) key is unique per part,
            # so the running sum is deterministic on both engines
            "WITH mv AS (SELECT l_partkey, l_shipdate, l_orderkey, "
            "l_linenumber, CASE WHEN l_returnflag = 'R' "
            "THEN CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) "
            "ELSE -CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) END "
            "AS d FROM lineitem), "
            "run AS (SELECT l_partkey, d, sum(d) OVER ("
            "PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, "
            "l_linenumber ROWS UNBOUNDED PRECEDING) AS s FROM mv) "
            "SELECT l_partkey, count(*) AS n_moves, "
            "CAST(sum(d) AS BIGINT) AS net_qty, "
            "CAST(min(s) AS BIGINT) AS lowest_raw, "
            "CAST(sum(d) - least(0, min(s)) AS BIGINT) AS final_balance "
            "FROM run GROUP BY 1"
        ),
        "part_pareto_frontier": (
            # the oracle runs the textbook O(n²) NOT EXISTS dominance
            # self-join (affordable at sf0.01); Spark runs the
            # bucket-pruned two-window plan — same frontier
            "WITH rev AS (SELECT l_partkey AS p_partkey, "
            f"CAST(sum({_NET}) * 10000 AS BIGINT) AS rev_e4 "
            "FROM lineitem GROUP BY 1), "
            "m AS (SELECT p.p_partkey AS p_partkey, "
            "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
            "AS price_cents, coalesce(rev_e4, 0) AS rev_e4 "
            "FROM part p LEFT JOIN rev ON rev.p_partkey = p.p_partkey) "
            "SELECT a.p_partkey AS p_partkey, a.price_cents AS "
            "price_cents, a.rev_e4 AS rev_e4 FROM m a "
            "WHERE NOT EXISTS (SELECT 1 FROM m b "
            "WHERE b.price_cents <= a.price_cents "
            "AND b.rev_e4 >= a.rev_e4 "
            "AND (b.price_cents < a.price_cents "
            "OR b.rev_e4 > a.rev_e4))"
        ),
        "segment_weighted_quantiles": (
            # weighted nearest-rank-lower quartiles via integer
            # cross-multiplication — no division, no interpolation
            "WITH li AS (SELECT c_mktsegment AS segment, "
            f"CAST({_NET} * 10000 AS BIGINT) AS v_e4, "
            "CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS wgt "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey), "
            "g AS (SELECT segment, v_e4, CAST(sum(wgt) AS BIGINT) AS w "
            "FROM li GROUP BY 1, 2), "
            "c AS (SELECT segment, v_e4, CAST(sum(w) OVER ("
            "PARTITION BY segment ORDER BY v_e4 "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, "
            "CAST(sum(w) OVER (PARTITION BY segment) AS BIGINT) AS total "
            "FROM g) "
            "SELECT segment, CAST(max(total) AS BIGINT) AS total_weight, "
            "CAST(min(CASE WHEN 4 * cum >= total THEN v_e4 END) "
            "AS BIGINT) AS wq25_e4, "
            "CAST(min(CASE WHEN 2 * cum >= total THEN v_e4 END) "
            "AS BIGINT) AS wmedian_e4, "
            "CAST(min(CASE WHEN 4 * cum >= 3 * total THEN v_e4 END) "
            "AS BIGINT) AS wq75_e4 FROM c GROUP BY 1"
        ),
        "key_skew_profile": (
            _key_skew_sql("orders", "o_custkey")
            + " UNION ALL "
            + _key_skew_sql("lineitem", "l_partkey")
        ),
        "orders_partition_checksums": (
            "WITH hoy AS (SELECT CAST(year(o_orderdate) AS INTEGER) "
            f"AS order_year, {_ORDERS_HASH_EXPR} AS h FROM orders) "
            "SELECT order_year, count(*) AS n_rows, "
            "CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum "
            "FROM hoy GROUP BY 1"
        ),
        "kanonymity_profile": (
            # equivalence-class size histogram over the quasi-identifier
            # tuple (segment, nation, order year); k = 5 risk threshold
            "WITH cls AS (SELECT c_mktsegment, c_nationkey, "
            "CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            "CAST(count(*) AS BIGINT) AS class_size "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY 1, 2, 3) "
            "SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes, "
            "CAST(class_size * count(*) AS BIGINT) AS n_rows, "
            "class_size < 5 AS at_risk FROM cls GROUP BY class_size"
        ),
        "orders_merkle_root": (
            # hierarchical top of the anti-entropy family: one md5 over
            # the year-ordered 'year:n_rows:checksum' leaf concatenation
            "WITH hoy AS (SELECT CAST(year(o_orderdate) AS INTEGER) "
            f"AS order_year, {_ORDERS_HASH_EXPR} AS h FROM orders), "
            "parts AS (SELECT order_year, count(*) AS n_rows, "
            "CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum "
            "FROM hoy GROUP BY 1) "
            "SELECT CAST(count(*) AS BIGINT) AS n_partitions, "
            "CAST(sum(n_rows) AS BIGINT) AS total_rows, "
            "md5(string_agg(CAST(order_year AS VARCHAR) || ':' || "
            "CAST(n_rows AS VARCHAR) || ':' || CAST(checksum AS VARCHAR), "
            "'|' ORDER BY CAST(order_year AS VARCHAR))) AS root_hash "
            "FROM parts"
        ),
        "orders_antientropy_sync": (
            # the oracle derives was_stale/n_shipped from the DRIFT RULE
            # (even years poisoned at keys %17, missing at %19) and pins
            # synced_ok to 1 — a hash match proves the Spark protocol's
            # checksum detection found exactly the drifted partitions
            # and the stale-partition MERGE restored them bit-for-bit
            "WITH hoy AS (SELECT CAST(year(o_orderdate) AS INTEGER) "
            f"AS order_year, {_ORDERS_HASH_EXPR} AS h, o_orderkey "
            "FROM orders), "
            "agg AS (SELECT order_year, count(*) AS n_rows, "
            "CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum, "
            "CAST(max(CASE WHEN order_year % 2 = 0 AND "
            "(o_orderkey % 17 = 0 OR o_orderkey % 19 = 0) "
            "THEN 1 ELSE 0 END) AS INTEGER) AS was_stale "
            "FROM hoy GROUP BY 1) "
            "SELECT order_year, n_rows, checksum, was_stale, "
            "CAST(was_stale * n_rows AS BIGINT) AS n_shipped, "
            "CAST(1 AS INTEGER) AS synced_ok FROM agg"
        ),
        "table_checksums": (
            # order-insensitive fingerprint: sum of md5-derived row
            # hashes mod 2^61-1; every canonical piece (decimal lift,
            # epoch-us, null sentinel) is already cross-engine-exact
            "WITH " + _ORDERS_HASH_CTE + ", "
            "hc AS (SELECT ('0x' || substr(md5(concat_ws('|', "
            "coalesce(CAST(c_custkey AS VARCHAR), '~null~'), "
            "coalesce(CAST(c_name AS VARCHAR), '~null~'), "
            "coalesce(CAST(c_nationkey AS VARCHAR), '~null~'), "
            "coalesce(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), '~null~'), "
            "coalesce(CAST(c_mktsegment AS VARCHAR), '~null~'))), 1, 15))::BIGINT "
            "AS h FROM customer), "
            "hl AS (SELECT ('0x' || substr(md5(concat_ws('|', "
            "coalesce(CAST(l_orderkey AS VARCHAR), '~null~'), "
            "coalesce(CAST(l_partkey AS VARCHAR), '~null~'), "
            "coalesce(CAST(l_suppkey AS VARCHAR), '~null~'), "
            "coalesce(CAST(l_linenumber AS VARCHAR), '~null~'), "
            "coalesce(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR), '~null~'), "
            "coalesce(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR), '~null~'), "
            "coalesce(CAST(CAST(l_discount AS DECIMAL(12,2)) AS VARCHAR), '~null~'), "
            "coalesce(CAST(CAST(l_tax AS DECIMAL(12,2)) AS VARCHAR), '~null~'), "
            "coalesce(CAST(l_returnflag AS VARCHAR), '~null~'), "
            "coalesce(CAST(l_linestatus AS VARCHAR), '~null~'), "
            "coalesce(CAST(epoch_us(l_shipdate) AS VARCHAR), '~null~'))), 1, 15))::BIGINT "
            "AS h FROM lineitem) "
            "SELECT 'orders' AS table_name, count(*) AS n_rows, "
            "CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum FROM ho "
            "UNION ALL SELECT 'customer', count(*), "
            "CAST(sum(h) % 2305843009213693951 AS BIGINT) FROM hc "
            "UNION ALL SELECT 'lineitem', count(*), "
            "CAST(sum(h) % 2305843009213693951 AS BIGINT) FROM hl"
        ),
        "benford_price_digits": (
            # Benford share = ln(1+1/d)/ln(10), both logs via the
            # integer ln_micro kit — no float log10 on either engine
            "WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) "
            "* 100 AS BIGINT) AS cents FROM orders), "
            "d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) "
            "AS INTEGER) AS digit FROM c WHERE cents >= 1), "
            "g AS (SELECT digit, count(*) AS n_orders FROM d "
            "GROUP BY digit), "
            "t AS (SELECT sum(n_orders) AS total FROM g) "
            "SELECT digit, n_orders, "
            + _hud("n_orders", "total", 6)
            + " AS observed_share, "
            + _hud(_lnm("(digit + 1)", "digit"), _lnm("10", "1"), 6)
            + " AS benford_share FROM g, t"
        ),
        "segment_priority_chisq": (
            # chi-square independence: dev = O*N - R*C kept integer
            # (cross-multiplied O - E), contribution dev^2/(R*C*N) via
            # exact HUGEINT floor division in micro units; the N < 1e8
            # DECIMAL(38,0) contract guard is MIRRORED from the Spark
            # side so both engines fail loudly, never diverge
            "WITH j AS (SELECT c_mktsegment AS mktsegment, "
            "o_orderpriority AS priority FROM orders "
            "JOIN customer ON o_custkey = c_custkey), "
            "cells AS (SELECT mktsegment, priority, "
            "CAST(count(*) AS BIGINT) AS observed FROM j GROUP BY 1, 2), "
            "rt AS (SELECT mktsegment, CAST(sum(observed) AS BIGINT) "
            "AS row_total FROM cells GROUP BY 1), "
            "ct AS (SELECT priority, CAST(sum(observed) AS BIGINT) "
            "AS col_total FROM cells GROUP BY 1), "
            "nt0 AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total "
            "FROM cells), "
            "nt AS (SELECT CASE WHEN n_total >= 100000000 THEN "
            "CAST(error('chisq contract violated: N >= 1e8 exceeds the "
            "exact dev^2 range; sample or rescale upstream') AS BIGINT) "
            "ELSE n_total END AS n_total FROM nt0), "
            "g AS (SELECT mktsegment, priority, observed, row_total, "
            "col_total, n_total, "
            "observed * n_total - row_total * col_total AS dev "
            "FROM cells JOIN rt USING (mktsegment) "
            "JOIN ct USING (priority) CROSS JOIN nt) "
            "SELECT mktsegment, priority, observed, row_total, "
            "col_total, n_total, CAST(dev AS BIGINT) AS dev, "
            "CAST((CAST(dev AS HUGEINT) * dev * 1000000) // "
            "(CAST(row_total AS HUGEINT) * col_total * n_total) "
            "AS BIGINT) AS contrib_micro FROM g"
        ),
        "fact_sales_summary": (
            "SELECT r_name AS region, c_mktsegment, "
            "CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            "CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter, "
            f"{_rev()} AS revenue, "
            "count(*) AS n_lines, round(sum(l_quantity), 1) AS total_qty "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY 1, 2, 3, 4"
        ),
        "nation_revenue_trend": (
            # per-nation OLS slope of yearly revenue cents over year:
            # HUGEINT closed form, sign-split truncate-toward-zero
            # division mirroring Spark's decimal intdiv semantics
            "WITH fact AS (SELECT n_name AS nation, "
            "CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            f"{_NET} AS net_price "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey), "
            "yearly AS (SELECT nation, order_year, "
            "CAST(round(sum(net_price), 2) * 100 AS BIGINT) AS cents "
            "FROM fact GROUP BY 1, 2), "
            "g AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_years, "
            "CAST(min(order_year) AS INTEGER) AS year_min, "
            "CAST(max(order_year) AS INTEGER) AS year_max, "
            "CAST(sum(cents) AS BIGINT) AS total_cents, "
            "sum(CAST(order_year AS HUGEINT)) AS sx, "
            "sum(CAST(cents AS HUGEINT)) AS sy, "
            "sum(CAST(order_year AS HUGEINT) * cents) AS sxy, "
            "sum(CAST(order_year AS HUGEINT) * order_year) AS sxx "
            "FROM yearly GROUP BY 1), "
            "s AS (SELECT *, n_years * sxy - sx * sy AS num, "
            "n_years * sxx - sx * sx AS den FROM g WHERE n_years >= 2) "
            "SELECT nation, n_years, year_min, year_max, total_cents, "
            "CAST(CASE WHEN num < 0 THEN -(((-num) * 1000000) // den) "
            "ELSE (num * 1000000) // den END AS BIGINT) "
            "AS slope_micro_cents_per_year FROM s"
        ),
        "revenue_rollup": (
            "WITH fact AS (SELECT n_name AS nation, "
            "CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            f"{_NET} AS net_price "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey) "
            "SELECT coalesce(nation, 'ALL') AS nation, "
            "coalesce(order_year, -1) AS order_year, "
            "CAST(round(sum(net_price), 2) AS DOUBLE) AS revenue "
            "FROM fact GROUP BY ROLLUP(nation, order_year)"
        ),
        "order_rank_per_customer": (
            "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk "
            "FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk "
            "FROM orders) WHERE rk <= 3"
        ),
        "customer_running_spend": (
            "SELECT o_custkey, o_orderkey, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) "
            "AS running_spend "
            "FROM orders"
        ),
        "top_order_share": (
            "SELECT o_custkey, o_orderkey, "
            + _hud(
                "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS HUGEINT)",
                "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) "
                "OVER (PARTITION BY o_custkey) * 100 AS HUGEINT)",
                6,
            )
            + " AS spend_share FROM orders"
        ),
        "order_latency": (
            "SELECT CAST(date_diff('day', o_orderdate::DATE, l_shipdate::DATE) AS INTEGER) "
            "AS lat_days, l_shipdate::DATE <= o_orderdate::DATE + 30 AS within_30, "
            "count(*) AS n_lines "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2"
        ),
        "customer_order_gaps": (
            "WITH g AS (SELECT o_custkey, o_orderkey, "
            "CAST(date_diff('day', lag(o_orderdate::DATE) OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), "
            "o_orderdate::DATE) AS INTEGER) AS gap_days FROM orders) "
            "SELECT * FROM g WHERE gap_days IS NOT NULL"
        ),
        "revenue_forecast_delta": (
            "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "CAST(l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS revenue_delta, count(*) AS n_lines FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND CAST(l_discount AS DECIMAL(12,2)) "
            "BETWEEN CAST(0.05 AS DECIMAL(12,2)) "
            "AND CAST(0.07 AS DECIMAL(12,2)) "
            "AND l_quantity < 24"
        ),
        "returned_item_report": (
            "SELECT c_custkey, c_name, c_acctbal, n_name, "
            f"{_rev()} AS revenue, count(*) AS n_return_lines "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE l_returnflag = 'R' "
            "AND o_orderdate >= TIMESTAMP '1996-10-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "GROUP BY c_custkey, c_name, c_acctbal, n_name "
            "ORDER BY revenue DESC, c_custkey LIMIT 20"
        ),
        "promo_revenue_share": (
            "WITH a AS (SELECT "
            "sum(CASE WHEN p_type = 'PROMO' THEN "
            f"CAST({_NET} * 10000 AS HUGEINT) ELSE 0 END) AS promo_q4, "
            f"sum(CAST({_NET} * 10000 AS HUGEINT)) AS total_q4 "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-03-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01') "
            "SELECT CAST(promo_q4 AS DOUBLE) / 10000.0 AS promo_revenue, "
            "CAST(total_q4 AS DOUBLE) / 10000.0 AS total_revenue, "
            + _hud("promo_q4 * 100", "total_q4", 6)
            + " AS promo_share_pct FROM a"
        ),
        "top_suppliers_by_volume": (
            "WITH per_supp AS (SELECT l_suppkey, "
            f"{_rev()} AS revenue, count(*) AS n_lines "
            "FROM lineitem GROUP BY l_suppkey) "
            "SELECT s_suppkey, s_name, n_name AS nation, revenue, n_lines "
            "FROM per_supp JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "ORDER BY revenue DESC, s_suppkey LIMIT 25"
        ),
        "late_ship_priority_orders": (
            "SELECT o_orderpriority, count(*) AS n_orders FROM orders "
            "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-07-01' "
            "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
            "AND l_shipdate > o_orderdate + INTERVAL 30 DAY) "
            "GROUP BY o_orderpriority"
        ),
        "nation_trade_volume": (
            "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
            "CAST(year(l_shipdate) AS INTEGER) AS ship_year, "
            f"{_rev()} AS volume, count(*) AS n_lines "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
            "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
            "AND l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1998-01-01' "
            "GROUP BY 1, 2, 3"
        ),
        "market_share": (
            "WITH j AS (SELECT year(o_orderdate) AS order_year, "
            "n2.n_name AS supp_nation, "
            f"CAST({_NET} * 10000 AS HUGEINT) AS q4 "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n1 ON c_nationkey = n1.n_nationkey "
            "JOIN region ON n1.n_regionkey = r_regionkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation n2 ON s_nationkey = n2.n_nationkey "
            "WHERE r_name = 'EUROPE' AND p_type = 'PROMO'), "
            "a AS (SELECT order_year, "
            "sum(CASE WHEN supp_nation = 'NATION_3' THEN q4 ELSE 0 END) "
            "AS nation_q4, sum(q4) AS total_q4 FROM j GROUP BY 1) "
            "SELECT CAST(order_year AS INTEGER) AS order_year, "
            "CAST(nation_q4 AS DOUBLE) / 10000.0 AS nation_volume, "
            "CAST(total_q4 AS DOUBLE) / 10000.0 AS total_volume, "
            + _hud("nation_q4 * 100", "total_q4", 6)
            + " AS mkt_share_pct FROM a"
        ),
        "linestatus_priority_counts": (
            "SELECT l_linestatus, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "GROUP BY l_linestatus"
        ),
        "customer_order_distribution": (
            "WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
            "AND o_orderpriority <> '1-URGENT' GROUP BY c_custkey) "
            "SELECT c_count, count(*) AS custdist FROM pc GROUP BY c_count"
        ),
        "top_revenue_suppliers": (
            "WITH rev AS (SELECT l_suppkey, "
            f"sum({_NET}) AS r FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) "
            "SELECT s_suppkey, s_name, "
            "CAST(round(r, 2) AS DOUBLE) AS total_revenue "
            "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE r = (SELECT max(r) FROM rev)"
        ),
        "small_quantity_part_revenue": (
            "WITH pl AS (SELECT "
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS HUGEINT) "
            "AS cents, CAST(l_quantity AS HUGEINT) * 5 * "
            "count(*) OVER (PARTITION BY l_partkey) AS lhs, "
            "sum(CAST(l_quantity AS HUGEINT)) OVER (PARTITION BY l_partkey) "
            "AS rhs FROM lineitem WHERE l_partkey IN "
            "(SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')) "
            "SELECT " + _hud("sum(cents)", "700", 2)
            + " AS avg_weekly_revenue, count(*) AS n_lines "
            "FROM pl WHERE lhs < rhs"
        ),
        "large_order_customers": (
            "WITH big AS (SELECT l_orderkey, "
            "CAST(sum(l_quantity) AS BIGINT) AS total_qty "
            "FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 200) "
            "SELECT c_custkey, c_name, o_orderkey, "
            "strftime(o_orderdate, '%Y-%m-%d') AS order_date, "
            "o_totalprice, total_qty "
            "FROM big JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
        ),
        "brand_size_band_revenue": (
            f"SELECT {_rev()} AS revenue, count(*) AS n_lines "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 "
            "AND l_quantity BETWEEN 1 AND 20) "
            "OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 "
            "AND l_quantity BETWEEN 10 AND 30) "
            "OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 "
            "AND l_quantity BETWEEN 20 AND 50)"
        ),
        "sole_late_supplier_orders": (
            "WITH late AS (SELECT l_orderkey, l_suppkey, "
            "max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY "
            "THEN 1 ELSE 0 END) AS is_late "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY 1, 2), "
            "w AS (SELECT l_suppkey, is_late, "
            "count(*) OVER (PARTITION BY l_orderkey) AS n_supp, "
            "sum(is_late) OVER (PARTITION BY l_orderkey) AS n_late FROM late), "
            "b AS (SELECT l_suppkey, count(*) AS n_blamed_orders FROM w "
            "WHERE is_late = 1 AND n_supp > 1 AND n_late = 1 GROUP BY 1) "
            "SELECT s_suppkey, s_name, n_name AS nation, n_blamed_orders "
            "FROM b JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "ORDER BY n_blamed_orders DESC, s_suppkey LIMIT 100"
        ),
        "never_urgent_rich_customers": (
            "WITH pool AS (SELECT * FROM customer WHERE c_mktsegment IN "
            "('AUTOMOBILE', 'HOUSEHOLD', 'MACHINERY')), "
            "a AS (SELECT sum(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 "
            "AS HUGEINT)) AS pool_sum, count(*) AS pool_n "
            "FROM pool WHERE c_acctbal > 0) "
            "SELECT n_name AS nation, count(*) AS n_customers, "
            "CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS total_acctbal "
            "FROM pool JOIN nation ON c_nationkey = n_nationkey CROSS JOIN a "
            "WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS HUGEINT) "
            "* pool_n > pool_sum "
            "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_orderpriority = '1-URGENT') "
            "GROUP BY n_name"
        ),
        "min_cost_part_supplier": (
            "WITH parts AS (SELECT p_partkey, p_name FROM part "
            "WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20), "
            "es AS (SELECT s_suppkey, s_name, s_acctbal, n_name AS nation "
            "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'EUROPE'), "
            "offers AS (SELECT l_partkey, l_suppkey, "
            "min(CAST(l_extendedprice AS DECIMAL(12,2))) AS offer "
            "FROM lineitem "
            "WHERE l_partkey IN (SELECT p_partkey FROM parts) "
            "AND l_suppkey IN (SELECT s_suppkey FROM es) "
            "GROUP BY 1, 2), "
            "best AS (SELECT *, min(offer) OVER (PARTITION BY l_partkey) "
            "AS mn FROM offers) "
            "SELECT s_acctbal, s_name, nation, p_partkey, p_name, "
            "CAST(offer AS DOUBLE) AS min_offer, s_suppkey "
            "FROM best JOIN es ON l_suppkey = s_suppkey "
            "JOIN parts ON l_partkey = p_partkey "
            "WHERE offer = mn "
            "ORDER BY s_acctbal DESC, nation, s_name, p_partkey, s_suppkey "
            "LIMIT 100"
        ),
        "nation_product_profit": (
            "SELECT n_name AS nation, "
            "CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            f"CAST(sum(CAST({_NET} * 10000 AS HUGEINT) - "
            "CAST(l_quantity AS HUGEINT) * "
            "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS HUGEINT) * 50) "
            "AS DOUBLE) / 10000.0 AS profit, "
            "count(*) AS n_lines "
            "FROM lineitem "
            "JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "WHERE p_name LIKE '%red%' "
            "GROUP BY 1, 2"
        ),
        "important_part_value": (
            "WITH vals AS (SELECT l_partkey, "
            f"sum(CAST({_NET} * 10000 AS HUGEINT)) AS value4 "
            "FROM lineitem WHERE l_suppkey IN "
            "(SELECT s_suppkey FROM supplier JOIN nation "
            "ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3') "
            "GROUP BY 1) "
            "SELECT l_partkey AS p_partkey, "
            "CAST(value4 AS DOUBLE) / 10000.0 AS value "
            "FROM vals WHERE value4 * 1000 > (SELECT sum(value4) FROM vals)"
        ),
        "part_supplier_counts": (
            "WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey "
            "FROM lineitem WHERE l_suppkey NOT IN "
            "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) "
            "SELECT p_brand, p_type, p_size, "
            "count(DISTINCT l_suppkey) AS supplier_cnt "
            "FROM pairs JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO' "
            "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) "
            "GROUP BY 1, 2, 3"
        ),
        "dominant_part_suppliers": (
            "WITH qty AS (SELECT l_partkey, l_suppkey, "
            "CAST(sum(l_quantity) AS BIGINT) AS q FROM lineitem "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_partkey IN (SELECT p_partkey FROM part "
            "WHERE p_name LIKE '%red%') GROUP BY 1, 2), "
            "dom AS (SELECT DISTINCT l_suppkey FROM "
            "(SELECT *, sum(q) OVER (PARTITION BY l_partkey) AS tot "
            "FROM qty) WHERE q * 2 > tot) "
            "SELECT s_suppkey, s_name FROM supplier "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE n_name = 'NATION_2' "
            "AND s_suppkey IN (SELECT l_suppkey FROM dom) "
            "ORDER BY s_suppkey"
        ),
        "daily_revenue_gapfill": (
            "WITH agg AS (SELECT c_mktsegment AS segment, "
            "CAST(o_orderdate AS DATE) AS day, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) "
            "AS DOUBLE) AS revenue "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY 1, 2), "
            "b AS (SELECT min(CAST(o_orderdate AS DATE)) AS day_min, "
            "max(CAST(o_orderdate AS DATE)) AS day_max FROM orders), "
            "spine AS (SELECT segment, "
            "unnest(generate_series(day_min, day_max, INTERVAL 1 DAY))::DATE "
            "AS day FROM (SELECT DISTINCT segment FROM agg) CROSS JOIN b) "
            "SELECT segment, strftime(day, '%Y-%m-%d') AS day, "
            "revenue IS NULL AS is_gap, "
            "last_value(revenue IGNORE NULLS) OVER "
            "(PARTITION BY segment ORDER BY day "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue "
            "FROM spine LEFT JOIN agg USING (segment, day)"
        ),
        "basket_rules": (
            "WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
            "sz AS (SELECT l_orderkey, count(*) AS bsz FROM bp GROUP BY 1), "
            "pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, "
            "count(*) AS n_ab FROM bp a JOIN bp b "
            "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
            "JOIN sz ON sz.l_orderkey = a.l_orderkey "
            "WHERE bsz BETWEEN 2 AND 50 GROUP BY 1, 2), "
            "dirr AS (SELECT pa AS antecedent, pb AS consequent, n_ab "
            "FROM pairs UNION ALL "
            "SELECT pb, pa, n_ab FROM pairs), "
            "ic AS (SELECT l_partkey, count(*) AS n_i FROM bp GROUP BY 1), "
            "tot AS (SELECT count(DISTINCT l_orderkey) AS n FROM bp) "
            "SELECT antecedent, consequent, n_ab AS support_orders, "
            + _hud("n_ab * 100", "a.n_i", 4)
            + " AS confidence_pct, "
            + _hud("n_ab * n", "a.n_i * c.n_i", 4)
            + " AS lift "
            "FROM dirr JOIN ic a ON antecedent = a.l_partkey "
            "JOIN ic c ON consequent = c.l_partkey CROSS JOIN tot "
            "WHERE n_ab >= 3 "
            "ORDER BY confidence_pct DESC, antecedent, consequent LIMIT 50"
        ),
        "customer_spend_outliers": (
            "WITH pc AS (SELECT o_custkey, "
            "sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS HUGEINT)) "
            "AS cents, count(*) AS n_orders FROM orders GROUP BY 1), "
            "j AS (SELECT c_mktsegment, o_custkey, cents, n_orders "
            "FROM pc JOIN customer ON o_custkey = c_custkey), "
            "st AS (SELECT c_mktsegment, CAST(count(*) AS HUGEINT) AS n, "
            "sum(cents) AS s, sum(cents * cents) AS q "
            "FROM j GROUP BY 1) "
            "SELECT j.c_mktsegment AS segment, o_custkey AS c_custkey, "
            "CAST(cents AS DOUBLE) / 100.0 AS total_spend, n_orders, "
            "cents * n > s AS above_mean "
            "FROM j JOIN st USING (c_mktsegment) "
            "WHERE (cents * n - s) * (cents * n - s) > 9 * (n * q - s * s)"
        ),
        "regex_token_pieces": (
            "WITH d AS (SELECT source, "
            "len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) "
            "AS n_pieces FROM documents) "
            "SELECT source, count(*) AS n_docs, "
            "CAST(sum(n_pieces) AS BIGINT) AS total_pieces, "
            "CAST(max(n_pieces) AS INTEGER) AS max_pieces "
            "FROM d GROUP BY source"
        ),
        "bpe_pair_counts": (
            "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token "
            "FROM documents), "
            "vocab AS (SELECT token, count(*) AS freq FROM tok "
            "WHERE token <> '' GROUP BY token), "
            "ppos AS (SELECT token, freq, "
            "unnest(generate_series(1, length(token) - 1)) AS i "
            "FROM vocab WHERE length(token) >= 2), "
            "pairs AS (SELECT substr(token, CAST(i AS INT), 2) AS pair, "
            "token, freq FROM ppos) "
            "SELECT pair, CAST(sum(freq) AS BIGINT) AS weight, "
            "CAST(count(DISTINCT token) AS BIGINT) AS n_token_types "
            "FROM pairs GROUP BY pair "
            "ORDER BY weight DESC, pair LIMIT 30"
        ),
        "bigram_novelty": (
            "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "g AS (SELECT doc_id, unnest(generate_series(1, len(t) - 1)) AS i, "
            "t FROM d WHERE len(t) >= 2), "
            "bg AS (SELECT doc_id, t[CAST(i AS INT)] || ' ' || "
            "t[CAST(i AS INT) + 1] AS gram FROM g), "
            "c AS (SELECT gram, count(*) AS n FROM bg GROUP BY gram), "
            "j AS (SELECT doc_id, n FROM bg JOIN c USING (gram)) "
            "SELECT doc_id, count(*) AS n_bigrams, "
            "CAST(sum(CASE WHEN n <= 5 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_rare, "
            + _hud("sum(CASE WHEN n <= 5 THEN 1 ELSE 0 END)", "count(*)", 6)
            + " AS rare_rate FROM j GROUP BY doc_id"
        ),
        "bigram_cross_entropy": (
            # cost per DISTINCT bigram = ln_micro(c_prefix, c_bigram)
            # — the exact integer fixed-point log both engines share
            "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "g AS (SELECT doc_id, unnest(generate_series(1, len(t) - 1)) AS i, "
            "t FROM d WHERE len(t) >= 2), "
            "bg AS (SELECT doc_id, t[CAST(i AS INT)] AS prefix, "
            "t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS gram "
            "FROM g), "
            "cb AS (SELECT gram, any_value(prefix) AS prefix, "
            "count(*) AS c_bg FROM bg GROUP BY gram), "
            "cp AS (SELECT prefix, count(*) AS c_pref FROM bg GROUP BY prefix), "
            "cost AS (SELECT gram, "
            + _lnm("c_pref", "c_bg")
            + " AS cost_unats FROM cb JOIN cp USING (prefix)) "
            "SELECT doc_id, count(*) AS n_bigrams, "
            "CAST(sum(cost_unats) AS BIGINT) AS sum_cost_unats, "
            + _hud("sum(cost_unats)", "count(*)", 0)
            + " AS avg_cost_unats "
            "FROM bg JOIN cost USING (gram) GROUP BY doc_id"
        ),
        "vocab_coverage": (
            "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) "
            "AS term FROM documents), "
            "tk AS (SELECT doc_id, term FROM tok WHERE term <> ''), "
            "v AS (SELECT term FROM (SELECT term, count(*) AS freq "
            "FROM tk GROUP BY term ORDER BY freq DESC, term LIMIT 1000)) "
            "SELECT doc_id, count(*) AS n_tokens, "
            "CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_oov, "
            + _hud("sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)",
                   "count(*)", 6)
            + " AS oov_rate "
            "FROM tk LEFT JOIN v ON tk.term = v.term GROUP BY doc_id"
        ),
        "boilerplate_ngrams": (
            "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "g AS (SELECT doc_id, unnest(generate_series(1, len(t) - 4)) AS i, "
            "t FROM d WHERE len(t) >= 5), "
            "sh5 AS (SELECT DISTINCT doc_id, "
            "array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 4], ' ') "
            "AS shingle FROM g) "
            "SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs "
            "FROM sh5 GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2 "
            "ORDER BY n_docs DESC, shingle LIMIT 100"
        ),
        "doc_chunking": (
            "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "s AS (SELECT doc_id, t, "
            "unnest(generate_series(0, len(t) - 1, 32)) AS st FROM d) "
            "SELECT doc_id, CAST(st // 32 AS INT) AS chunk_idx, "
            "CAST(st AS INT) AS start_tok, "
            "CAST(least(64, len(t) - st) AS INT) AS n_chunk_tokens, "
            "md5(array_to_string("
            "t[CAST(st + 1 AS INT):CAST(least(st + 64, len(t)) AS INT)], ' ')) "
            "AS chunk_hash FROM s"
        ),
        "group_sample": (
            "WITH d AS (SELECT doc_id, source, lang, "
            "('0x' || substr(md5('gsample:' || CAST(doc_id AS VARCHAR)), 1, 15))"
            "::BIGINT AS sample_key FROM documents), "
            "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source "
            "ORDER BY sample_key, doc_id) AS INT) AS rk FROM d) "
            "SELECT source, doc_id, lang, sample_key, rk FROM r WHERE rk <= 5"
        ),
        "length_histogram": (
            "WITH d AS (SELECT source, len(string_split(text, ' ')) AS n "
            "FROM documents) "
            "SELECT source, CAST(n - n % 16 AS INT) AS bucket_lo, "
            "count(*) AS n_docs FROM d GROUP BY 1, 2"
        ),
        "chunk_dedup": (
            "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "s AS (SELECT doc_id, t, "
            "unnest(generate_series(0, len(t) - 1, 32)) AS st FROM d), "
            "ch AS (SELECT doc_id, CAST(st // 32 AS INT) AS chunk_idx, "
            "md5(array_to_string("
            "t[CAST(st + 1 AS INT):CAST(least(st + 64, len(t)) AS INT)], ' ')) "
            "AS chunk_hash FROM s WHERE least(64, len(t) - st) = 64), "
            "g AS (SELECT chunk_hash, count(*) AS n_occurrences, "
            "count(DISTINCT doc_id) AS n_docs, "
            "min(doc_id * 1048576 + chunk_idx) AS first_okey "
            "FROM ch GROUP BY chunk_hash HAVING count(*) >= 2) "
            "SELECT ch.chunk_hash, doc_id, chunk_idx, n_occurrences, n_docs, "
            "(doc_id * 1048576 + chunk_idx) = first_okey AS is_canonical "
            "FROM ch JOIN g USING (chunk_hash)"
        ),
        "semantic_neardup": (
            # Gate corpus = fixture UNION 3 planted scaled near-copies
            # (mirrors SEM_PLANT/SEM_PLANT_OFFSET/SEM_PLANT_SCALE in
            # similarity.py) so the entry proves positive detection.
            "WITH allv AS (SELECT vec_id, label, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding "
            "FROM embeddings UNION ALL "
            "SELECT vec_id + 1000000, label, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.001) "
            "FROM embeddings WHERE vec_id < 3), "
            "q0 AS (SELECT vec_id, label, list_transform(embedding, "
            "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) "
            "AS q FROM allv), "
            "q1 AS (SELECT vec_id, label, q, "
            "CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq "
            "FROM q0), "
            "p AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b, "
            "a.q AS qa, b.q AS qb, a.nq AS na, b.nq AS nb "
            "FROM q1 a JOIN q1 b ON a.label = b.label AND a.vec_id < b.vec_id), "
            "d AS (SELECT label, vec_a, vec_b, na, nb, "
            "CAST(list_sum(list_transform(generate_series(1, len(qa)), "
            "i -> qa[CAST(i AS INT)] * qb[CAST(i AS INT)])) AS BIGINT) "
            "AS dot_q FROM p) "
            "SELECT label, vec_a, vec_b, dot_q, na, nb FROM d "
            "WHERE dot_q > 0 AND CAST(dot_q AS HUGEINT) * "
            "CAST(dot_q AS HUGEINT) * 25 >= "
            "16 * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)"
        ),
        "embedding_neardup": (
            # Brute all-pairs twin (125k pairs at sf0.01 — cheap in
            # DuckDB) over fixture UNION 3 planted scaled near-copies
            # (mirrors EMB_PLANT/EMB_PLANT_OFFSET/EMB_PLANT_SCALE in
            # dedup.py). The Spark side is LSH-candidates + exact
            # integer rerank; equality holds because planted copies
            # collide deterministically and the fixture has no true
            # pairs at the 17/20 threshold (see q_embedding_neardup).
            "WITH allv AS (SELECT vec_id, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding "
            "FROM embeddings UNION ALL "
            "SELECT vec_id + 1000000, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.001) "
            "FROM embeddings WHERE vec_id < 3), "
            "q0 AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) "
            "AS q FROM allv), "
            "q1 AS (SELECT vec_id, q, "
            "CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq "
            "FROM q0), "
            "p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
            "a.q AS qa, b.q AS qb, a.nq AS na, b.nq AS nb "
            "FROM q1 a JOIN q1 b ON a.vec_id < b.vec_id), "
            "d AS (SELECT vec_a, vec_b, na, nb, "
            "CAST(list_sum(list_transform(generate_series(1, len(qa)), "
            "i -> qa[CAST(i AS INT)] * qb[CAST(i AS INT)])) AS BIGINT) "
            "AS dot_q FROM p) "
            "SELECT vec_a, vec_b, dot_q, na, nb FROM d "
            "WHERE dot_q > 0 AND CAST(dot_q AS HUGEINT) * "
            "CAST(dot_q AS HUGEINT) * 400 >= "
            "289 * CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)"
        ),
        "lsh_index_maintained": (
            # full-corpus signature rebuild from scratch: the hash
            # match proves the Spark side's v1-write + batch-MERGE
            # maintained index equals a rebuild (IVM law). Integer
            # plane grid mirrors lsh_int_signatures exactly.
            "WITH " + _lsh_int_sig_cte()
            + " SELECT vec_id, tbl AS \"table\", sig "
            "FROM intsig"
        ),
        "ann_topk_exactint": (
            # same signature CTE; radius-1 probes via xor; fixed-point
            # isqrt/halfup rerank; (score desc, neighbor) top-5
            "WITH " + _lsh_int_sig_cte() + ", "
            "flips AS (SELECT unnest(generate_series(-1, 7)) AS f), "
            "qprobe AS (SELECT vec_id AS query_id, tbl, "
            "CASE WHEN f < 0 THEN sig "
            "ELSE xor(sig, CAST(1 AS BIGINT) << f) END AS bucket "
            "FROM intsig, flips WHERE vec_id < 20), "
            "cand AS (SELECT DISTINCT query_id, s.vec_id AS neighbor_id "
            "FROM qprobe JOIN intsig s ON s.tbl = qprobe.tbl "
            "AND s.sig = qprobe.bucket WHERE s.vec_id <> query_id), "
            "qz AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT)) AS q FROM embeddings), "
            "qn AS (SELECT vec_id, q, "
            "CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) "
            "AS nq FROM qz), "
            "scored AS (SELECT query_id, neighbor_id, "
            "CAST(list_sum(list_transform(generate_series(1, len(a.q)), "
            "i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) "
            "AS dot_q, a.nq AS na, b.nq AS nb "
            "FROM cand JOIN qn a ON a.vec_id = query_id "
            "JOIN qn b ON b.vec_id = neighbor_id), "
            "pos AS (SELECT query_id, neighbor_id, "
            + _hud("dot_q", "(" + _isq("na") + " * " + _isq("nb") + ")", 6)
            + " AS cos_micro FROM scored WHERE dot_q > 0), "
            "rk AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_micro DESC, neighbor_id) AS rank FROM pos) "
            "SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, "
            "cos_micro FROM rk WHERE rank <= 5"
        ),
        "ivf_topk_exactint": (
            # IVF serving twin: the kmeans_round CTEs (hash-seeded
            # init, integer-L2 argmin, shifted half-up mean) build the
            # cells, every vector is re-assigned to the UPDATED
            # centroids, queries probe their 2 nearest cells, and the
            # shared fixed-point isqrt/halfup rerank scores the probed
            # candidates — candidates, scores and ranks bit-identical
            "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
            "sd AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY "
            "('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))"
            "::BIGINT, vec_id) AS INTEGER) AS cluster_id FROM embeddings "
            "ORDER BY ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), "
            "1, 15))::BIGINT, vec_id LIMIT 8), "
            "se AS (SELECT cluster_id, dim, q AS c FROM sd "
            "JOIN ex USING (vec_id)), "
            "d0 AS (SELECT ex.vec_id AS vec_id, se.cluster_id AS cluster_id, "
            "sum((ex.q - se.c) * (ex.q - se.c)) AS dist "
            "FROM ex JOIN se ON se.dim = ex.dim GROUP BY 1, 2), "
            "a0 AS (SELECT vec_id, cluster_id FROM "
            "(SELECT vec_id, cluster_id, row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d0) "
            "WHERE rn = 1), "
            "cent AS (SELECT a0.cluster_id AS cluster_id, ex.dim AS dim, "
            "CAST(CAST("
            + _hud("(sum(q) + count(*) * 4000000)", "count(*)", 0)
            + " AS BIGINT) - 4000000 AS BIGINT) AS c "
            "FROM ex JOIN a0 ON a0.vec_id = ex.vec_id GROUP BY 1, 2), "
            "d1 AS (SELECT ex.vec_id AS vec_id, cent.cluster_id AS "
            "cluster_id, sum((ex.q - cent.c) * (ex.q - cent.c)) AS dist "
            "FROM ex JOIN cent ON cent.dim = ex.dim GROUP BY 1, 2), "
            "a1 AS (SELECT vec_id, cluster_id FROM "
            "(SELECT vec_id, cluster_id, row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d1) "
            "WHERE rn = 1), "
            "pr AS (SELECT vec_id AS query_id, cluster_id FROM "
            "(SELECT vec_id, cluster_id, row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn "
            "FROM d1 WHERE vec_id < 20) WHERE rn <= 2), "
            "cand AS (SELECT query_id, a1.vec_id AS neighbor_id "
            "FROM pr JOIN a1 USING (cluster_id) "
            "WHERE a1.vec_id <> query_id), "
            "qz AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT)) AS q FROM embeddings), "
            "qn AS (SELECT vec_id, q, "
            "CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) "
            "AS nq FROM qz), "
            "scored AS (SELECT query_id, neighbor_id, "
            "CAST(list_sum(list_transform(generate_series(1, len(a.q)), "
            "i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) "
            "AS dot_q, a.nq AS na, b.nq AS nb "
            "FROM cand JOIN qn a ON a.vec_id = query_id "
            "JOIN qn b ON b.vec_id = neighbor_id), "
            "pos AS (SELECT query_id, neighbor_id, "
            + _hud("dot_q", "(" + _isq("na") + " * " + _isq("nb") + ")", 6)
            + " AS cos_micro FROM scored WHERE dot_q > 0), "
            "rk AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_micro DESC, neighbor_id) AS rank FROM pos) "
            "SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, "
            "cos_micro FROM rk WHERE rank <= 5"
        ),
        "ivfpq_topk_exactint": (
            # composed IVF-PQ twin: the IVF chain (cells + assignment
            # + probes) restricts WHICH vectors are scored, the PQ
            # chain (codebooks + codes + ADC tables) decides HOW;
            # shared seeds, shared fixed-point rerank tail
            "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, "
            "CAST((t.i - 1) // 8 AS INTEGER) AS sub, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
            "sd AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY "
            "('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))"
            "::BIGINT, vec_id) AS INTEGER) AS sid FROM embeddings "
            "ORDER BY ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), "
            "1, 15))::BIGINT, vec_id LIMIT 8), "
            # --- IVF chain ---
            "se AS (SELECT sid AS cluster_id, dim, q AS c FROM sd "
            "JOIN ex USING (vec_id)), "
            "d0 AS (SELECT ex.vec_id AS vec_id, se.cluster_id AS cluster_id, "
            "sum((ex.q - se.c) * (ex.q - se.c)) AS dist "
            "FROM ex JOIN se ON se.dim = ex.dim GROUP BY 1, 2), "
            "a0 AS (SELECT vec_id, cluster_id FROM "
            "(SELECT vec_id, cluster_id, row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d0) "
            "WHERE rn = 1), "
            "cent AS (SELECT a0.cluster_id AS cluster_id, ex.dim AS dim, "
            "CAST(CAST("
            + _hud("(sum(q) + count(*) * 4000000)", "count(*)", 0)
            + " AS BIGINT) - 4000000 AS BIGINT) AS c "
            "FROM ex JOIN a0 ON a0.vec_id = ex.vec_id GROUP BY 1, 2), "
            "d1 AS (SELECT ex.vec_id AS vec_id, cent.cluster_id AS "
            "cluster_id, sum((ex.q - cent.c) * (ex.q - cent.c)) AS dist "
            "FROM ex JOIN cent ON cent.dim = ex.dim GROUP BY 1, 2), "
            "a1 AS (SELECT vec_id, cluster_id FROM "
            "(SELECT vec_id, cluster_id, row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d1) "
            "WHERE rn = 1), "
            "pr AS (SELECT vec_id AS query_id, cluster_id FROM "
            "(SELECT vec_id, cluster_id, row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn "
            "FROM d1 WHERE vec_id < 20) WHERE rn <= 2), "
            # --- PQ chain ---
            "pse AS (SELECT sid AS code_id, sub, dim, q AS c FROM sd "
            "JOIN ex USING (vec_id)), "
            "pd0 AS (SELECT ex.vec_id AS vec_id, ex.sub AS sub, "
            "pse.code_id AS code_id, sum((ex.q - pse.c) * (ex.q - pse.c)) "
            "AS dist FROM ex JOIN pse ON pse.dim = ex.dim GROUP BY 1, 2, 3), "
            "pa0 AS (SELECT vec_id, sub, code_id FROM "
            "(SELECT vec_id, sub, code_id, row_number() OVER "
            "(PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn "
            "FROM pd0) WHERE rn = 1), "
            "pcb AS (SELECT ex.sub AS sub, pa0.code_id AS code_id, "
            "ex.dim AS dim, CAST(CAST("
            + _hud("(sum(q) + count(*) * 4000000)", "count(*)", 0)
            + " AS BIGINT) - 4000000 AS BIGINT) AS c "
            "FROM ex JOIN pa0 ON pa0.vec_id = ex.vec_id AND pa0.sub = ex.sub "
            "GROUP BY 1, 2, 3), "
            "pd1 AS (SELECT ex.vec_id AS vec_id, ex.sub AS sub, "
            "pcb.code_id AS code_id, sum((ex.q - pcb.c) * (ex.q - pcb.c)) "
            "AS dist FROM ex JOIN pcb ON pcb.dim = ex.dim GROUP BY 1, 2, 3), "
            "pcodes AS (SELECT vec_id, sub, code_id FROM "
            "(SELECT vec_id, sub, code_id, row_number() OVER "
            "(PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn "
            "FROM pd1) WHERE rn = 1), "
            "pdtab AS (SELECT vec_id AS query_id, sub, code_id, dist "
            "FROM pd1 WHERE vec_id < 20), "
            # --- composition ---
            "ic AS (SELECT query_id, a1.vec_id AS vec_id "
            "FROM pr JOIN a1 USING (cluster_id) "
            "WHERE a1.vec_id <> query_id), "
            "adc AS (SELECT ic.query_id AS query_id, "
            "ic.vec_id AS neighbor_id, CAST(sum(pdtab.dist) AS BIGINT) "
            "AS adc FROM ic "
            "JOIN pcodes ON pcodes.vec_id = ic.vec_id "
            "JOIN pdtab ON pdtab.query_id = ic.query_id "
            "AND pdtab.sub = pcodes.sub AND pdtab.code_id = pcodes.code_id "
            "GROUP BY 1, 2), "
            "pool AS (SELECT query_id, neighbor_id FROM "
            "(SELECT query_id, neighbor_id, row_number() OVER "
            "(PARTITION BY query_id ORDER BY adc, neighbor_id) AS pr2 "
            "FROM adc) WHERE pr2 <= 40), "
            "qz AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT)) AS q FROM embeddings), "
            "qn AS (SELECT vec_id, q, "
            "CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) "
            "AS nq FROM qz), "
            "scored AS (SELECT query_id, neighbor_id, "
            "CAST(list_sum(list_transform(generate_series(1, len(a.q)), "
            "i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) "
            "AS dot_q, a.nq AS na, b.nq AS nb "
            "FROM pool JOIN qn a ON a.vec_id = query_id "
            "JOIN qn b ON b.vec_id = neighbor_id), "
            "pos AS (SELECT query_id, neighbor_id, "
            + _hud("dot_q", "(" + _isq("na") + " * " + _isq("nb") + ")", 6)
            + " AS cos_micro FROM scored WHERE dot_q > 0), "
            "rk AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_micro DESC, neighbor_id) AS rank FROM pos) "
            "SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, "
            "cos_micro FROM rk WHERE rank <= 5"
        ),
        "pq_topk_exactint": (
            # PQ serving twin: per-subspace one-round codebooks from
            # the same 'km:' seed vectors' sub-vectors, integer-L2
            # encode, query ADC tables reusing the encoder distances,
            # (adc, id) survivor pool, shared fixed-point rerank
            "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, "
            "CAST((t.i - 1) // 8 AS INTEGER) AS sub, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
            "sd AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY "
            "('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))"
            "::BIGINT, vec_id) AS INTEGER) AS code_id FROM embeddings "
            "ORDER BY ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), "
            "1, 15))::BIGINT, vec_id LIMIT 8), "
            "se AS (SELECT code_id, sub, dim, q AS c FROM sd "
            "JOIN ex USING (vec_id)), "
            "d0 AS (SELECT ex.vec_id AS vec_id, ex.sub AS sub, "
            "se.code_id AS code_id, sum((ex.q - se.c) * (ex.q - se.c)) "
            "AS dist FROM ex JOIN se ON se.dim = ex.dim GROUP BY 1, 2, 3), "
            "a0 AS (SELECT vec_id, sub, code_id FROM "
            "(SELECT vec_id, sub, code_id, row_number() OVER "
            "(PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn "
            "FROM d0) WHERE rn = 1), "
            "cb AS (SELECT ex.sub AS sub, a0.code_id AS code_id, "
            "ex.dim AS dim, CAST(CAST("
            + _hud("(sum(q) + count(*) * 4000000)", "count(*)", 0)
            + " AS BIGINT) - 4000000 AS BIGINT) AS c "
            "FROM ex JOIN a0 ON a0.vec_id = ex.vec_id AND a0.sub = ex.sub "
            "GROUP BY 1, 2, 3), "
            "d1 AS (SELECT ex.vec_id AS vec_id, ex.sub AS sub, "
            "cb.code_id AS code_id, sum((ex.q - cb.c) * (ex.q - cb.c)) "
            "AS dist FROM ex JOIN cb ON cb.dim = ex.dim GROUP BY 1, 2, 3), "
            "codes AS (SELECT vec_id, sub, code_id FROM "
            "(SELECT vec_id, sub, code_id, row_number() OVER "
            "(PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn "
            "FROM d1) WHERE rn = 1), "
            "dtab AS (SELECT vec_id AS query_id, sub, code_id, dist "
            "FROM d1 WHERE vec_id < 20), "
            "adc AS (SELECT query_id, codes.vec_id AS neighbor_id, "
            "CAST(sum(dist) AS BIGINT) AS adc "
            "FROM codes JOIN dtab USING (sub, code_id) "
            "WHERE codes.vec_id <> query_id GROUP BY 1, 2), "
            "pool AS (SELECT query_id, neighbor_id FROM "
            "(SELECT query_id, neighbor_id, row_number() OVER "
            "(PARTITION BY query_id ORDER BY adc, neighbor_id) AS pr "
            "FROM adc) WHERE pr <= 40), "
            "qz AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT)) AS q FROM embeddings), "
            "qn AS (SELECT vec_id, q, "
            "CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) "
            "AS nq FROM qz), "
            "scored AS (SELECT query_id, neighbor_id, "
            "CAST(list_sum(list_transform(generate_series(1, len(a.q)), "
            "i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) "
            "AS dot_q, a.nq AS na, b.nq AS nb "
            "FROM pool JOIN qn a ON a.vec_id = query_id "
            "JOIN qn b ON b.vec_id = neighbor_id), "
            "pos AS (SELECT query_id, neighbor_id, "
            + _hud("dot_q", "(" + _isq("na") + " * " + _isq("nb") + ")", 6)
            + " AS cos_micro FROM scored WHERE dot_q > 0), "
            "rk AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_micro DESC, neighbor_id) AS rank FROM pos) "
            "SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, "
            "cos_micro FROM rk WHERE rank <= 5"
        ),
        "training_order_shuffle": (
            "WITH d AS (SELECT doc_id, source, "
            "('0x' || substr(md5('shuffle0:' || CAST(doc_id AS VARCHAR)), 1, 15))"
            "::BIGINT AS shuffle_key FROM documents) "
            "SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) "
            "AS BIGINT) - 1 AS position, doc_id, source, shuffle_key FROM d"
        ),
        "epoch_mixture_expand": (
            "WITH d AS (SELECT doc_id, source, "
            "CAST(1 + (('0x' || substr(md5('epochs:' || source), 1, 15))"
            "::BIGINT % 3) AS INT) AS n_epochs FROM documents), "
            "e AS (SELECT doc_id, source, n_epochs, "
            "unnest(generate_series(0, n_epochs - 1)) AS epoch FROM d) "
            "SELECT doc_id, source, n_epochs, CAST(epoch AS INT) AS epoch, "
            "('0x' || substr(md5('ex:' || CAST(epoch AS VARCHAR) || ':' || "
            "CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS example_key FROM e"
        ),
        "tfidf_top_terms": (
            # idf = ln_micro(N, df): the SAME integer shift-and-square
            # fixed-point log Spark runs (functions.ln_micro) — no
            # float ln() on either side, so scores hash-match exactly.
            "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) "
            "AS term FROM documents), "
            "tft AS (SELECT doc_id, term, count(*) AS tf FROM tok "
            "GROUP BY doc_id, term), "
            "dft AS (SELECT term, count(*) AS df FROM tft GROUP BY term), "
            "n AS (SELECT count(*) AS n_docs FROM documents), "
            "idf AS (SELECT term, df, "
            + _lnm("n_docs", "df")
            + " AS idf_unats FROM dft, n), "
            "s AS (SELECT tft.doc_id, tft.term, tft.tf, idf.df, "
            "tft.tf * idf.idf_unats AS score_unats "
            "FROM tft JOIN idf USING (term)), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY score_unats DESC, term) AS rk FROM s) "
            "SELECT doc_id, term, tf, df, score_unats, "
            "CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 3"
        ),
        "bm25_topk": (
            # Okapi BM25 with k1=6/5, b=3/4 reduced to the integer
            # rational 22·T·tf / (10·T·tf + 3·T + 9·dl·N); idf is the
            # same fixed-point ln_micro(N, df) tfidf uses — no float
            # anywhere, so scores and rankings hash-match exactly
            "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) "
            "AS term FROM documents), "
            "tk AS (SELECT * FROM tok WHERE term <> ''), "
            "tft AS (SELECT doc_id, term, count(*) AS tf FROM tk "
            "GROUP BY 1, 2), "
            "dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl "
            "FROM tft GROUP BY 1), "
            "st AS (SELECT CAST(sum(dl) AS BIGINT) AS t_tokens, "
            "CAST(count(*) AS BIGINT) AS n_docs FROM dlt), "
            "dft AS (SELECT term, count(*) AS df FROM tft GROUP BY 1), "
            "top AS (SELECT term, df, row_number() OVER ("
            "ORDER BY df DESC, term) AS rk FROM dft "
            "ORDER BY df DESC, term LIMIT 20), "
            "qt AS (SELECT CAST((rk - 1) // 4 AS INT) AS query_id, "
            "term, " + _lnm("n_docs", "df")
            + " AS idf_unats, t_tokens, n_docs FROM top, st), "
            "s AS (SELECT query_id, tft.doc_id AS doc_id, CAST("
            + _hud(
                "(CAST(idf_unats AS HUGEINT) * 22 * tf * t_tokens)",
                "(10 * CAST(t_tokens AS HUGEINT) * tf "
                "+ 3 * CAST(t_tokens AS HUGEINT) "
                "+ 9 * CAST(dl AS HUGEINT) * n_docs)",
                0,
            )
            + " AS BIGINT) AS s FROM tft JOIN qt USING (term) "
            "JOIN dlt ON dlt.doc_id = tft.doc_id), "
            "a AS (SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) "
            "AS bm25_micro, CAST(count(*) AS INT) AS n_terms_hit "
            "FROM s GROUP BY 1, 2), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY bm25_micro DESC, doc_id) AS rk FROM a) "
            "SELECT query_id, doc_id, bm25_micro, n_terms_hit, "
            "CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 10"
        ),
        "next_token_suggestions": (
            # per-prefix top-3 successors of the MLE bigram model;
            # exact half-up conditional probability in ppm
            "WITH s AS (SELECT string_split(text, ' ') AS t "
            "FROM documents), "
            "g AS (SELECT t[i] AS prefix, t[i + 1] AS next_token "
            "FROM s, UNNEST(range(1, len(t))) AS u(i) "
            "WHERE t[i] <> '' AND t[i + 1] <> ''), "
            "c AS (SELECT prefix, next_token, count(*) AS n FROM g "
            "GROUP BY 1, 2), "
            "tt AS (SELECT prefix, sum(n) AS n_prefix FROM c GROUP BY 1), "
            "r AS (SELECT c.prefix AS prefix, next_token, n, n_prefix, "
            "row_number() OVER (PARTITION BY c.prefix "
            "ORDER BY n DESC, next_token) AS rk "
            "FROM c JOIN tt ON tt.prefix = c.prefix) "
            "SELECT prefix, next_token, n, CAST(rk AS INTEGER) AS rk, "
            "CAST(" + _hud("(n * 1000000)", "n_prefix", 0)
            + " AS BIGINT) AS p_ppm FROM r WHERE rk <= 3"
        ),
        "skipgram_pairs": (
            # offset-exploded equi-join window (pos is 0-based like
            # posexplode); direction preserved; support floor 5
            "WITH tok AS (SELECT * FROM (SELECT doc_id, "
            "CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos, "
            "unnest(toks) AS term FROM (SELECT doc_id, "
            "string_split(text, ' ') AS toks FROM documents)) "
            "WHERE term <> ''), "
            "pr AS (SELECT doc_id, term AS center, pos + o.k AS pos2 "
            "FROM tok, (SELECT unnest([-2, -1, 1, 2]) AS k) o) "
            "SELECT pr.center AS center, t2.term AS context, "
            "count(*) AS n_pairs FROM pr "
            "JOIN tok t2 ON t2.doc_id = pr.doc_id AND t2.pos = pr.pos2 "
            "GROUP BY 1, 2 HAVING count(*) >= 5"
        ),
        "token_subsampling": (
            # word2vec sqrt(t/f) subsampling via the squared-hash
            # cross-multiply (h^2 * c * 1000 < N * 2^60): no sqrt, no RNG;
            # pos is 0-based to match posexplode
            "WITH tok AS (SELECT * FROM (SELECT doc_id, "
            "CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos, "
            "unnest(toks) AS term FROM (SELECT doc_id, "
            "string_split(text, ' ') AS toks FROM documents)) "
            "WHERE term <> ''), "
            "c AS (SELECT term, count(*) AS c FROM tok GROUP BY 1), "
            "n AS (SELECT count(*) AS n_total FROM tok), "
            "k AS (SELECT tok.term AS term, "
            "(('0x' || substr(md5(tok.term || ':' || "
            "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), "
            "1, 15))::BIGINT % 1073741824) AS h, c.c AS c, n.n_total AS nt "
            "FROM tok JOIN c ON c.term = tok.term, n) "
            "SELECT term, count(*) AS n_before, "
            "CAST(sum(CASE WHEN CAST(h AS HUGEINT) * h * c * 1000 < "
            "CAST(nt AS HUGEINT) * 1152921504606846976 THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_kept FROM k GROUP BY term"
        ),
        "heavy_hitter_terms": (
            # the exact answer the two-pass MG scheme must reproduce:
            # plain GROUP BY + HAVING over the full token stream
            "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term "
            "FROM documents), "
            "tk AS (SELECT term FROM tok WHERE term <> ''), "
            "n AS (SELECT count(*) AS n_total FROM tk), "
            "c AS (SELECT term, count(*) AS n_occurrences FROM tk "
            "GROUP BY 1) "
            "SELECT term, n_occurrences, CAST("
            + _hud("(n_occurrences * 1000000)", "n_total", 0)
            + " AS BIGINT) AS share_ppm FROM c, n "
            "WHERE n_occurrences * 200 > n_total"
        ),
        "bpe_encode": (
            # tokenizer APPLY under the fixed pretrained merge table:
            # the identical <c>-wrapped literal-replace chain Spark runs
            "WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks "
            "FROM documents), "
            "tok AS (SELECT * FROM (SELECT doc_id, "
            "CAST(generate_subscripts(toks, 1) AS INTEGER) AS pos, "
            "unnest(toks) AS token FROM s) WHERE token <> ''), "
            "enc AS (SELECT doc_id, pos, "
            + _bpe_chain_sql("regexp_replace(token, '(.)', '<\\1>', 'g')")
            + " AS wrapped FROM tok), "
            "p AS (SELECT doc_id, pos, "
            "trim(replace(wrapped, '><', ' '), '<>') AS pieces, "
            "CAST(len(wrapped) - len(replace(wrapped, '<', '')) AS INTEGER) "
            "AS n_pieces FROM enc) "
            "SELECT doc_id, count(*) AS n_tokens, "
            "CAST(sum(n_pieces) AS BIGINT) AS n_pieces, "
            "md5(string_agg(pieces, '|' ORDER BY pos)) AS pieces_md5, "
            "CAST(max(n_pieces) AS INTEGER) AS max_token_pieces "
            "FROM p GROUP BY doc_id"
        ),
        "copurchase_jaccard_top": (
            # candidate pairs from capped baskets; TRUE degrees from
            # the uncapped distinct bipartite edges; half-up Jaccard
            "WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
            "bs AS (SELECT l_orderkey, count(*) AS sz FROM d GROUP BY 1), "
            "ok AS (SELECT d.l_orderkey, d.l_partkey FROM d "
            "JOIN bs USING (l_orderkey) WHERE sz BETWEEN 2 AND 50), "
            "e AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
            "count(*) AS n_common FROM ok a JOIN ok b "
            "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
            "GROUP BY 1, 2), "
            "deg AS (SELECT l_partkey, count(*) AS dg FROM d GROUP BY 1), "
            "j AS (SELECT part_a, part_b, n_common, da.dg AS deg_a, "
            "db.dg AS deg_b FROM e JOIN deg da ON da.l_partkey = part_a "
            "JOIN deg db ON db.l_partkey = part_b) "
            "SELECT part_a, part_b, n_common, deg_a, deg_b, "
            + _hud("n_common", "(deg_a + deg_b - n_common)", 6)
            + " AS jaccard FROM j "
            "ORDER BY jaccard DESC, part_a, part_b LIMIT 50"
        ),
        "copurchase_adamic_adar": (
            # degree-weighted common-neighbor score: each shared order
            # contributes 10^12 // ln_micro(basket size) micro-units
            "WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
            "bs AS (SELECT l_orderkey, count(*) AS sz FROM d GROUP BY 1), "
            "w AS (SELECT l_orderkey, CAST(1000000000000 // ("
            + _lnm("sz", "1")
            + ") AS BIGINT) AS w_micro FROM bs WHERE sz BETWEEN 2 AND 50), "
            "ok AS (SELECT d.l_orderkey, d.l_partkey FROM d "
            "JOIN w USING (l_orderkey)), "
            "e AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
            "CAST(count(*) AS BIGINT) AS n_common, "
            "CAST(sum(w_micro) AS BIGINT) AS aa_micro "
            "FROM ok a JOIN ok b ON a.l_orderkey = b.l_orderkey "
            "AND a.l_partkey < b.l_partkey "
            "JOIN w ON w.l_orderkey = a.l_orderkey GROUP BY 1, 2) "
            "SELECT part_a, part_b, n_common, aa_micro FROM e "
            "ORDER BY aa_micro DESC, part_a, part_b LIMIT 50"
        ),
        "part_golden_record": (
            # match (blocked levenshtein) -> recursive-CTE closure ->
            # survivorship; twin of the Spark CC + groupBy pipeline
            "WITH RECURSIVE n AS (SELECT p_partkey, p_name, "
            "string_split(p_name, ' ')[1] AS block FROM part), "
            "e0 AS (SELECT a.p_partkey AS doc_a, b.p_partkey AS doc_b "
            "FROM n a JOIN n b ON a.block = b.block "
            "AND a.p_partkey < b.p_partkey "
            "WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4), "
            "edges AS (SELECT doc_a AS src, doc_b AS dst FROM e0 "
            "UNION SELECT doc_b, doc_a FROM e0), "
            "reach(node, lbl) AS (SELECT p_partkey, p_partkey FROM part "
            "UNION SELECT e.dst, r.lbl FROM reach r "
            "JOIN edges e ON e.src = r.node), "
            "comp AS (SELECT node AS p_partkey, min(lbl) AS cluster_id "
            "FROM reach GROUP BY node) "
            "SELECT c.cluster_id AS cluster_id, count(*) AS n_members, "
            "min(CASE WHEN p.p_partkey = c.cluster_id THEN p.p_name END) "
            "AS survivor_name, "
            "CAST(round(max(CAST(p_retailprice AS DECIMAL(12,2))), 2) "
            "AS DOUBLE) AS golden_price, "
            "count(DISTINCT p_brand) AS n_brands, "
            "min(p_size) AS min_size, max(p_size) AS max_size "
            "FROM part p JOIN comp c USING (p_partkey) "
            "GROUP BY 1 HAVING count(*) >= 2"
        ),
        "term_pmi_top_pairs": (
            # document-level co-occurrence, per-doc distinct-term cap
            # 256 (lexicographic), pair support >= 5; signed fixed-point
            # PMI via the same ln_micro integer log Spark runs
            "WITH tok AS (SELECT DISTINCT doc_id, term FROM "
            "(SELECT doc_id, unnest(string_split(text, ' ')) AS term "
            "FROM documents) WHERE term <> ''), "
            "capped AS (SELECT doc_id, term FROM "
            "(SELECT doc_id, term, row_number() OVER "
            "(PARTITION BY doc_id ORDER BY term) AS rn FROM tok) "
            "WHERE rn <= 256), "
            "dft AS (SELECT term, count(*) AS df FROM capped GROUP BY term), "
            "p AS (SELECT a.term AS term_a, b.term AS term_b, "
            "count(*) AS c_ab FROM capped a JOIN capped b USING (doc_id) "
            "WHERE a.term < b.term GROUP BY 1, 2 HAVING count(*) >= 5), "
            "n AS (SELECT count(*) AS n_docs FROM documents), "
            "j AS (SELECT term_a, term_b, c_ab, da.df AS c_a, db.df AS c_b, "
            "n_docs * c_ab AS num, da.df * db.df AS den "
            "FROM p JOIN dft da ON da.term = p.term_a "
            "JOIN dft db ON db.term = p.term_b, n), "
            "s AS (SELECT term_a, term_b, c_ab, c_a, c_b, "
            "CASE WHEN num >= den THEN " + _lnm("num", "den")
            + " ELSE -" + _lnm("den", "num") + " END AS pmi_unats FROM j) "
            "SELECT * FROM s ORDER BY pmi_unats DESC, term_a, term_b LIMIT 50"
        ),
        "frequent_terms": (
            "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) "
            "AS term FROM documents), "
            "c AS (SELECT term, count(*) AS n_occurrences, "
            "count(DISTINCT doc_id) AS n_docs FROM tok "
            "WHERE term <> '' GROUP BY term) "
            "SELECT term, n_occurrences, n_docs FROM c "
            "ORDER BY n_occurrences DESC, term LIMIT 50"
        ),
        "source_vocab_overlap": (
            # pairwise source vocabulary Jaccard over distinct
            # (source, token); exact integers, half-up 6 dp
            "WITH st AS (SELECT DISTINCT source, t.token FROM documents, "
            "unnest(string_split(text, ' ')) AS t(token) "
            "WHERE t.token <> ''), "
            "sizes AS (SELECT source, CAST(count(*) AS BIGINT) "
            "AS n_vocab FROM st GROUP BY 1), "
            "common AS (SELECT a.source AS source_a, b.source AS source_b, "
            "CAST(count(*) AS BIGINT) AS n_common FROM st a JOIN st b "
            "ON a.token = b.token AND a.source < b.source GROUP BY 1, 2) "
            "SELECT source_a, source_b, n_common, "
            "sa.n_vocab AS n_a, sb.n_vocab AS n_b, "
            + _hud("n_common", "(sa.n_vocab + sb.n_vocab - n_common)", 6)
            + " AS jaccard FROM common "
            "JOIN sizes sa ON sa.source = source_a "
            "JOIN sizes sb ON sb.source = source_b"
        ),
        "heaps_law_fit": (
            # vocabulary growth at 10 dense-doc-id prefixes; ln_micro
            # logs, HUGEINT normal equations, sign-split trunc division
            "WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks "
            "FROM documents), "
            "nd AS (SELECT count(*) AS n_docs FROM d), "
            "tok AS (SELECT doc_id, t.token FROM d, "
            "unnest(toks) AS t(token) WHERE t.token <> ''), "
            "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok "
            "FROM tok GROUP BY 1), "
            "fd AS (SELECT token, min(doc_id) AS fdoc FROM tok "
            "GROUP BY 1), "
            "dn AS (SELECT c AS checkpoint, CAST(sum(n_tok) AS BIGINT) "
            "AS n_tokens FROM (SELECT n_tok, "
            "unnest(generate_series((doc_id * 10) // n_docs + 1, 10)) "
            "AS c FROM pd, nd) GROUP BY 1), "
            "dv AS (SELECT c AS checkpoint, CAST(count(*) AS BIGINT) "
            "AS vocab FROM (SELECT "
            "unnest(generate_series((fdoc * 10) // n_docs + 1, 10)) "
            "AS c FROM fd, nd) GROUP BY 1), "
            "xy AS (SELECT checkpoint, n_tokens, vocab, ("
            + _lnm("n_tokens", "1")
            + ") AS x, ("
            + _lnm("vocab", "1")
            + ") AS y FROM dn JOIN dv USING (checkpoint)), "
            "g AS (SELECT CAST(count(*) AS HUGEINT) AS n_points, "
            "sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy, "
            "sum(CAST(x AS HUGEINT) * y) AS sxy, "
            "sum(CAST(x AS HUGEINT) * x) AS sxx FROM xy), "
            "s AS (SELECT n_points * sxy - sx * sy AS nm, "
            "n_points * sxx - sx * sx AS dn2 FROM g), "
            "b AS (SELECT CAST(CASE WHEN nm < 0 THEN "
            "-(((-nm) * 1000000) // dn2) ELSE (nm * 1000000) // dn2 END "
            "AS BIGINT) AS beta_micro FROM s) "
            "SELECT CAST(checkpoint AS BIGINT) AS checkpoint, n_tokens, "
            "vocab, beta_micro FROM xy, b"
        ),
        "zipf_law_fit": (
            # fixed-point OLS of ln(freq) on ln(rank) over the top-1000
            # tokens; ln_micro on both engines, HUGEINT/decimal(38,0)
            # normal equations, half-up division — bit-identical
            "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term "
            "FROM documents), "
            "c AS (SELECT term, count(*) AS n FROM tok WHERE term <> '' "
            "GROUP BY term), "
            "top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 1000), "
            "r AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, term) "
            "AS BIGINT) AS rnk, CAST(n AS BIGINT) AS n FROM top), "
            f"p AS (SELECT {_lnm('rnk', '1')} AS x, {_lnm('n', '1')} AS y "
            "FROM r), "
            "s AS (SELECT CAST(count(*) AS HUGEINT) AS k, "
            "CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy, "
            "CAST(sum(x * y) AS HUGEINT) AS sxy, "
            "CAST(sum(x * x) AS HUGEINT) AS sxx FROM p) "
            "SELECT CAST(k AS BIGINT) AS n_terms, "
            f"{_hud('sx', 'k', 6)} AS mean_ln_rank, "
            f"{_hud('sy', 'k', 6)} AS mean_ln_freq, "
            f"{_hud('(sx * sy - k * sxy)', '(k * sxx - sx * sx)', 6)} "
            "AS zipf_exponent FROM s"
        ),
        "urgent_order_customers": (
            "SELECT c_custkey, c_name, c_mktsegment FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders "
            "WHERE o_orderpriority = '1-URGENT')"
        ),
        "order_metrics_unpivot": (
            "WITH w AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            "CAST(count(*) AS DOUBLE) AS n_orders, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS total_price, "
            "CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers "
            "FROM orders GROUP BY 1) "
            "SELECT order_year, 'n_orders' AS metric, n_orders AS value FROM w "
            "UNION ALL "
            "SELECT order_year, 'total_price', total_price FROM w "
            "UNION ALL "
            "SELECT order_year, 'n_customers', n_customers FROM w"
        ),
        "sales_grouping_sets": (
            "SELECT coalesce(c_mktsegment, 'ALL') AS segment, "
            "coalesce(CAST(year(o_orderdate) AS INTEGER), -1) AS order_year, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS total_sales, count(*) AS n_orders, "
            "CAST(GROUPING(c_mktsegment, year(o_orderdate)) AS INTEGER) AS gid "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY GROUPING SETS ((c_mktsegment, year(o_orderdate)), "
            "(c_mktsegment), (year(o_orderdate)), ())"
        ),
        "sales_cube": (
            "SELECT coalesce(c_mktsegment, 'ALL') AS segment, "
            "coalesce(o_orderstatus, 'ALL') AS status, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS total_sales, count(*) AS n_orders, "
            "CAST(GROUPING(c_mktsegment, o_orderstatus) AS INTEGER) AS gid "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY CUBE(c_mktsegment, o_orderstatus)"
        ),
        "order_value_percentiles": (
            "WITH r AS (SELECT c_mktsegment, o_totalprice, "
            "row_number() OVER (PARTITION BY c_mktsegment "
            "ORDER BY o_totalprice, o_orderkey) AS rn, "
            "count(*) OVER (PARTITION BY c_mktsegment) AS n "
            "FROM orders JOIN customer ON o_custkey = c_custkey) "
            "SELECT c_mktsegment, "
            "CASE WHEN rn = ceil(n * 0.5) THEN 'p50' ELSE 'p90' END AS quantile, "
            "o_totalprice AS value FROM r "
            "WHERE rn = ceil(n * 0.5) OR rn = ceil(n * 0.9)"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 1) AS sum_qty, "
            "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS sum_base_price, "
            f"{_rev()} AS sum_disc_price, "
            f"{_rev(_CHARGE)} AS sum_charge, "
            + _hud("CAST(sum(l_quantity) AS HUGEINT)", "count(*)", 6)
            + " AS avg_qty, "
            f"{_avg_cents('l_extendedprice', 6)} AS avg_price, "
            f"{_avg_cents('l_discount', 6)} AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "shipping_priority": (
            "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, "
            "o_orderpriority, revenue FROM ("
            "SELECT o_orderkey, o_orderdate, o_orderpriority, "
            f"{_rev()} AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON o_orderkey = l_orderkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' "
            "AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00' "
            "GROUP BY o_orderkey, o_orderdate, o_orderpriority) "
            "ORDER BY revenue DESC, o_orderkey LIMIT 10"
        ),
        "local_supplier_volume": (
            "SELECT n_name AS nation, "
            f"{_rev()} AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "GROUP BY n_name"
        ),
        "order_docs_stats": (
            "SELECT o.o_orderkey, o.o_custkey, count(*) AS n_items, "
            "CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS items_gross "
            "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "GROUP BY o.o_orderkey, o.o_custkey"
        ),
        "copurchase_edges": (
            "WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
            "ok AS (SELECT l_orderkey FROM basket GROUP BY l_orderkey "
            "HAVING count(*) <= 50), "
            "b2 AS (SELECT b.l_orderkey, b.l_partkey FROM basket b "
            "JOIN ok USING (l_orderkey)) "
            "SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
            "count(*) AS n_orders "
            "FROM b2 a JOIN b2 b ON a.l_orderkey = b.l_orderkey "
            "AND a.l_partkey < b.l_partkey "
            "GROUP BY 1, 2 HAVING count(*) >= 2"
        ),
        "copurchase_bfs_hops": (
            # recursive-CTE BFS with UNION dedup; min(dist) collapses
            # the level-k rediscoveries the Spark side's visited-set
            # anti-join never emits
            "WITH RECURSIVE basket AS (SELECT DISTINCT l_orderkey, "
            "l_partkey FROM lineitem), "
            "ok AS (SELECT l_orderkey FROM basket GROUP BY l_orderkey "
            "HAVING count(*) <= 50), "
            "b2 AS (SELECT b.l_orderkey, b.l_partkey FROM basket b "
            "JOIN ok USING (l_orderkey)), "
            "ed AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
            "count(*) AS n_orders "
            "FROM b2 a JOIN b2 b ON a.l_orderkey = b.l_orderkey "
            "AND a.l_partkey < b.l_partkey "
            "GROUP BY 1, 2 HAVING count(*) >= 2), "
            "und AS (SELECT part_a AS src, part_b AS dst, n_orders "
            "FROM ed UNION ALL SELECT part_b, part_a, n_orders FROM ed), "
            "seeds AS (SELECT src AS part FROM (SELECT src, "
            "sum(n_orders) AS wdeg FROM und GROUP BY src) "
            "ORDER BY wdeg DESC, src LIMIT 5), "
            "walk(part, dist) AS (SELECT part, 0 FROM seeds "
            "UNION SELECT u.dst, w.dist + 1 FROM walk w "
            "JOIN und u ON u.src = w.part WHERE w.dist < 3) "
            "SELECT part, CAST(min(dist) AS INTEGER) AS dist "
            "FROM walk GROUP BY part"
        ),
        "product_triangles": (
            "WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
            "ok AS (SELECT l_orderkey FROM basket GROUP BY l_orderkey "
            "HAVING count(*) <= 50), "
            "b2 AS (SELECT b.l_orderkey, b.l_partkey FROM basket b "
            "JOIN ok USING (l_orderkey)), "
            "ed AS (SELECT a.l_partkey AS a, b.l_partkey AS b "
            "FROM b2 a JOIN b2 b ON a.l_orderkey = b.l_orderkey "
            "AND a.l_partkey < b.l_partkey "
            "GROUP BY 1, 2 HAVING count(*) >= 2), "
            "tri0 AS (SELECT e1.a, e1.b, e2.c FROM ed e1 "
            "JOIN (SELECT a AS b, b AS c FROM ed) e2 USING (b) "
            "JOIN (SELECT a, b AS c FROM ed) e3 USING (a, c)), "
            "tn AS (SELECT part, count(*) AS n_triangles FROM ("
            "SELECT a AS part FROM tri0 UNION ALL SELECT b FROM tri0 "
            "UNION ALL SELECT c FROM tri0) GROUP BY part), "
            "deg AS (SELECT part, count(*) AS degree FROM ("
            "SELECT a AS part FROM ed UNION ALL SELECT b FROM ed) "
            "GROUP BY part) "
            "SELECT deg.part AS l_partkey, CAST(degree AS BIGINT) AS degree, "
            "CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles, "
            "CASE WHEN degree >= 2 THEN "
            + _hud("coalesce(n_triangles, 0) * 2", "degree * (degree - 1)", 6)
            + " ELSE 0.0 END AS clustering_coeff "
            "FROM deg LEFT JOIN tn ON tn.part = deg.part"
        ),
        "product_pagerank_exact": _pagerank_exact_sql(),
        "product_degree": (
            "SELECT l_partkey, count(DISTINCT l_orderkey) AS order_degree, "
            "count(DISTINCT o_custkey) AS customer_reach "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY l_partkey"
        ),
        "customer_copurchase_top": (
            "WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
            "ok AS (SELECT l_orderkey FROM basket GROUP BY l_orderkey "
            "HAVING count(*) <= 50), "
            "b2 AS (SELECT b.l_orderkey, b.l_partkey FROM basket b "
            "JOIN ok USING (l_orderkey)), "
            "edges AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
            "count(*) AS n_orders "
            "FROM b2 a JOIN b2 b ON a.l_orderkey = b.l_orderkey "
            "AND a.l_partkey < b.l_partkey GROUP BY 1, 2) "
            "SELECT part_a, part_b, pa.p_name AS name_a, pb.p_name AS name_b, n_orders "
            "FROM edges JOIN part pa ON pa.p_partkey = part_a "
            "JOIN part pb ON pb.p_partkey = part_b "
            "ORDER BY n_orders DESC, part_a, part_b LIMIT 20"
        ),
        "dedup_exact": (
            "WITH h AS (SELECT doc_id, " + _nth() + " AS text_hash "
            "FROM documents), "
            "c AS (SELECT text_hash, min(doc_id) AS keep_id, count(*) AS group_size "
            "FROM h GROUP BY text_hash) "
            "SELECT doc_id, h.text_hash, group_size, "
            "doc_id = keep_id AS is_canonical FROM h JOIN c USING (text_hash)"
        ),
        "setsim_prefix_join": (
            "WITH tok AS (SELECT DISTINCT doc_id, t.token FROM documents, "
            "unnest(string_split(text, ' ')) AS t(token) "
            "WHERE t.token <> ''), "
            "sizes AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id), "
            "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "count(*) AS n_common FROM tok a JOIN tok b ON a.token = b.token "
            "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common, "
            + _hud("n_common", "(sa.s + sb.s - n_common)", 6)
            + " AS jaccard FROM common "
            "JOIN sizes sa ON sa.doc_id = doc_a "
            "JOIN sizes sb ON sb.doc_id = doc_b "
            "WHERE 10 * n_common >= 9 * (sa.s + sb.s - n_common)"
        ),
        "setsim_clusters": (
            # recursive closure over the brute-force verified pair
            # graph — the same reachability pattern as dedup_clusters,
            # but on the token-set Jaccard >= 9/10 edges
            "WITH RECURSIVE tok AS (SELECT DISTINCT doc_id, t.token "
            "FROM documents, unnest(string_split(text, ' ')) AS t(token) "
            "WHERE t.token <> ''), "
            "sizes AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY doc_id), "
            "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "count(*) AS n_common FROM tok a JOIN tok b ON a.token = b.token "
            "AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "jedges AS (SELECT doc_a, doc_b FROM common "
            "JOIN sizes sa ON sa.doc_id = doc_a "
            "JOIN sizes sb ON sb.doc_id = doc_b "
            "WHERE 10 * n_common >= 9 * (sa.s + sb.s - n_common)), "
            "edges AS (SELECT doc_a AS src, doc_b AS dst FROM jedges "
            "UNION SELECT doc_b, doc_a FROM jedges), "
            "reach(node, lbl) AS ("
            "SELECT doc_id, doc_id FROM documents "
            "UNION "
            "SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node), "
            "comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id "
            "FROM reach GROUP BY node), "
            "csize AS (SELECT cluster_id, CAST(count(*) AS BIGINT) "
            "AS cluster_size FROM comp GROUP BY cluster_id) "
            "SELECT doc_id, cluster_id, cluster_size, "
            "doc_id = cluster_id AS is_canonical "
            "FROM comp JOIN csize USING (cluster_id)"
        ),
        "ngram_jaccard_top_pairs": (
            "WITH "
            + _SHINGLES_CTE
            + ", shf AS (SELECT * FROM sh WHERE shingle IN "
            "(SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100)), "
            "sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), "
            "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "count(*) AS n_common FROM shf a JOIN shf b "
            "ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "scored AS (SELECT doc_a, doc_b, "
            "n_common / (sa.n_sh + sb.n_sh - n_common) AS jac_raw, "
            + _hud("n_common", "(sa.n_sh + sb.n_sh - n_common)", 6)
            + " AS jaccard "
            "FROM common JOIN sizes sa ON sa.doc_id = doc_a "
            "JOIN sizes sb ON sb.doc_id = doc_b) "
            "SELECT doc_a, doc_b, jaccard FROM scored "
            "ORDER BY jac_raw DESC, doc_a, doc_b LIMIT 20"
        ),
        "ngram_containment_top_pairs": (
            # Broder containment |A∩B|/min(|A|,|B|) over the SAME
            # df-capped shingle universe as the jaccard twin
            "WITH "
            + _SHINGLES_CTE
            + ", shf AS (SELECT * FROM sh WHERE shingle IN "
            "(SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100)), "
            "sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), "
            "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "count(*) AS n_common FROM shf a JOIN shf b "
            "ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "scored AS (SELECT doc_a, doc_b, "
            "CAST(n_common AS BIGINT) AS n_common, "
            "CAST(least(sa.n_sh, sb.n_sh) AS BIGINT) AS n_small, "
            "n_common / least(sa.n_sh, sb.n_sh) AS cont_raw, "
            + _hud("n_common", "least(sa.n_sh, sb.n_sh)", 6)
            + " AS containment "
            "FROM common JOIN sizes sa ON sa.doc_id = doc_a "
            "JOIN sizes sb ON sb.doc_id = doc_b) "
            "SELECT doc_a, doc_b, n_common, n_small, containment "
            "FROM scored ORDER BY cont_raw DESC, doc_a, doc_b LIMIT 20"
        ),
        "contrastive_pairs": (
            _CC_COMP_CTE
            + ", msz AS (SELECT cluster_id, count(*) AS n FROM comp "
            "GROUP BY cluster_id HAVING count(*) >= 2), "
            "rk AS (SELECT cluster_id, row_number() OVER (ORDER BY "
            "('0x' || substr(md5('neg:' || cluster_id::VARCHAR), 1, 15))"
            "::BIGINT, cluster_id) - 1 AS rk, "
            "count(*) OVER () AS nc FROM msz), "
            # nc >= 2 guard mirrors Spark's r7 degenerate-corpus fix
            "shift AS (SELECT a.cluster_id, b.cluster_id AS neg FROM rk a "
            "JOIN rk b ON b.rk = (a.rk + 1) % a.nc WHERE a.nc >= 2) "
            "SELECT c.doc_id AS anchor_id, c.cluster_id AS positive_id, "
            "s.neg AS negative_id FROM comp c JOIN shift s "
            "USING (cluster_id) WHERE c.doc_id <> c.cluster_id"
        ),
        "substring_dedup": (
            # exact repeated-span removal, positions 0-based to match
            # Spark; occurrence key doc_id*1e9+pos; L = 20 tokens
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk "
            "FROM documents), "
            "g AS (SELECT doc_id, i - 1 AS pos, "
            "doc_id * 1000000000 + (i - 1) AS ok, "
            "md5(array_to_string(tk[i:i+19], ' ')) AS gh "
            "FROM toks, unnest(generate_series(1, len(tk) - 19)) AS s(i)), "
            "c AS (SELECT gh, count(*) AS n, min(ok) AS canon "
            "FROM g GROUP BY gh), "
            "rem AS (SELECT doc_id, pos FROM g JOIN c USING (gh) "
            "WHERE n >= 2 AND ok <> canon), "
            "cov AS (SELECT DISTINCT doc_id, pos + u.o AS tpos "
            "FROM rem, unnest(generate_series(0, 19)) AS u(o)), "
            "tox AS (SELECT doc_id, i - 1 AS tpos, tk[i] AS token "
            "FROM toks, unnest(generate_series(1, len(tk))) AS s(i)), "
            "kept AS (SELECT t.doc_id, t.tpos, t.token FROM tox t "
            "ANTI JOIN cov ON cov.doc_id = t.doc_id "
            "AND cov.tpos = t.tpos), "
            "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, "
            "md5(string_agg(token, ' ' ORDER BY tpos)) AS kept_hash "
            "FROM kept GROUP BY doc_id) "
            "SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, "
            "CAST(len(tk) - coalesce(n_kept, 0) AS BIGINT) AS n_removed, "
            "CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept, "
            "coalesce(kept_hash, md5('')) AS kept_hash "
            "FROM toks t LEFT JOIN agg ON agg.doc_id = t.doc_id"
        ),
        "exactsubstr_spans": (
            # ExactSubstr remove-all-occurrences with maximal spans:
            # L = 8 tokens; coverage = windowed max of dup-start flags
            # over the trailing 7 positions; islands by pos-row_number
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk "
            "FROM documents), "
            "g AS (SELECT doc_id, i - 1 AS pos, "
            "md5(array_to_string(tk[i:i+7], ' ')) AS gh "
            "FROM toks, unnest(generate_series(1, len(tk) - 7)) AS s(i)), "
            "dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2), "
            "ds AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)), "
            "tox AS (SELECT doc_id, i - 1 AS tpos, tk[i] AS token "
            "FROM toks, unnest(generate_series(1, len(tk))) AS s(i)), "
            "fl AS (SELECT t.doc_id, t.tpos, t.token, "
            "CASE WHEN ds.pos IS NOT NULL THEN 1 ELSE 0 END AS dsf "
            "FROM tox t LEFT JOIN ds ON ds.doc_id = t.doc_id "
            "AND ds.pos = t.tpos), "
            "cov AS (SELECT doc_id, tpos, token, "
            "max(dsf) OVER (PARTITION BY doc_id ORDER BY tpos "
            "ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered "
            "FROM fl), "
            "isl AS (SELECT doc_id, tpos, tpos - row_number() OVER "
            "(PARTITION BY doc_id ORDER BY tpos) AS grp "
            "FROM cov WHERE covered = 1), "
            "spans AS (SELECT doc_id, grp, count(*) AS span_len "
            "FROM isl GROUP BY doc_id, grp), "
            "sa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, "
            "CAST(max(span_len) AS BIGINT) AS max_span_len, "
            "CAST(sum(span_len) AS BIGINT) AS n_removed "
            "FROM spans GROUP BY doc_id), "
            "ka AS (SELECT doc_id, "
            "md5(string_agg(token, ' ' ORDER BY tpos)) AS kept_hash "
            "FROM cov WHERE covered = 0 GROUP BY doc_id) "
            "SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, "
            "CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans, "
            "CAST(coalesce(max_span_len, 0) AS BIGINT) AS max_span_len, "
            "CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed, "
            "coalesce(kept_hash, md5('')) AS kept_hash "
            "FROM toks t LEFT JOIN sa ON sa.doc_id = t.doc_id "
            "LEFT JOIN ka ON ka.doc_id = t.doc_id"
        ),
        "dedup_clusters": (
            _CC_COMP_CTE
            + ", csize AS (SELECT cluster_id, count(*) AS cluster_size "
            "FROM comp GROUP BY cluster_id) "
            "SELECT doc_id, cluster_id, cluster_size, "
            "doc_id = cluster_id AS is_canonical "
            "FROM comp JOIN csize USING (cluster_id)"
        ),
        "cluster_safe_split": (
            _CC_COMP_CTE
            + " SELECT doc_id, cluster_id, "
            "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' "
            "ELSE 'test' END AS split FROM ("
            "SELECT doc_id, cluster_id, "
            "CAST(('0x' || substr(md5('csplit:' || cluster_id::VARCHAR), "
            "1, 15))::BIGINT % 100 AS INTEGER) AS b FROM comp) x"
        ),
        "dedup_incremental": (
            "WITH "
            + _SHINGLES_CTE
            + ", shf AS (SELECT * FROM sh WHERE shingle IN "
            "(SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100)), "
            "sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id), "
            "common AS (SELECT n.doc_id AS doc_id, o.doc_id AS corpus_id, "
            "count(*) AS n_common FROM shf n JOIN shf o "
            "ON n.shingle = o.shingle "
            "WHERE n.doc_id >= 400 AND o.doc_id < 400 GROUP BY 1, 2), "
            "near AS (SELECT c.doc_id, min(c.corpus_id) AS matched_id, "
            "'near' AS reason FROM common c "
            "JOIN sizes sn ON sn.doc_id = c.doc_id "
            "JOIN sizes so ON so.doc_id = c.corpus_id "
            "WHERE 2 * n_common >= (sn.n_sh + so.n_sh - n_common) "
            "GROUP BY c.doc_id), "
            "h AS (SELECT doc_id, " + _nth() + " AS text_hash FROM documents), "
            "ch AS (SELECT text_hash, min(doc_id) AS matched_id FROM h "
            "WHERE doc_id < 400 GROUP BY text_hash), "
            "ex AS (SELECT b.doc_id, ch.matched_id, 'exact' AS reason "
            "FROM h b JOIN ch USING (text_hash) WHERE b.doc_id >= 400), "
            "u AS (SELECT * FROM ex UNION ALL SELECT * FROM near), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY reason, matched_id) AS rn FROM u) "
            "SELECT doc_id, matched_id, reason FROM r WHERE rn = 1"
        ),
        "minhash_signatures": (
            "WITH "
            + _MINHASH_CTE
            + " SELECT doc_id, "
            "min(CASE WHEN i = 0 THEN mh END) AS mh0, "
            "min(CASE WHEN i = 1 THEN mh END) AS mh1, "
            "min(CASE WHEN i = 2 THEN mh END) AS mh2, "
            "min(CASE WHEN i = 3 THEN mh END) AS mh3, "
            "md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS sig_digest "
            "FROM mh GROUP BY doc_id"
        ),
        "lsh_tuning_curve": " UNION ALL ".join(
            "(WITH "
            + _MINHASH_CTE
            + f", band AS (SELECT doc_id, CAST(i // {r} AS INT) AS band, "
            "md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_key "
            f"FROM mh GROUP BY doc_id, i // {r}), "
            "cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b "
            "FROM band a JOIN band b ON a.band = b.band "
            "AND a.band_key = b.band_key AND a.doc_id < b.doc_id), "
            "sb AS (SELECT band, band_key FROM band "
            "GROUP BY band, band_key HAVING count(*) >= 2) "
            f"SELECT CAST({b} AS INTEGER) AS n_bands, "
            f"CAST({r} AS INTEGER) AS rows_per_band, "
            "(SELECT count(*) FROM sb) AS n_shared_buckets, "
            "(SELECT count(*) FROM cand) AS n_candidate_pairs)"
            for b, r in ((2, 8), (4, 4), (8, 2))
        ),
        "lsh_candidate_pairs": (
            "WITH "
            + _MINHASH_CTE
            + ", band AS (SELECT doc_id, CAST(i // 4 AS INT) AS band, "
            "md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_key "
            "FROM mh GROUP BY doc_id, i // 4) "
            "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
            "FROM band a JOIN band b ON a.band = b.band "
            "AND a.band_key = b.band_key AND a.doc_id < b.doc_id"
        ),
        "copurchase_kcore": (
            # 8 unrolled peel rounds over the capped-basket graph;
            # per-round survivor counts + converged flag
            'WITH d0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), bs AS (SELECT l_orderkey, count(*) AS sz FROM d0 GROUP BY 1), ok AS (SELECT d0.l_orderkey, d0.l_partkey FROM d0 JOIN bs USING (l_orderkey) WHERE sz BETWEEN 2 AND 50), e0 AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b FROM ok a JOIN ok b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), dir AS (SELECT part_a AS src, part_b AS dst FROM e0 UNION ALL SELECT part_b, part_a FROM e0), a0 AS MATERIALIZED (SELECT DISTINCT src AS pk FROM dir), a1 AS MATERIALIZED (SELECT src AS pk FROM dir JOIN a0 p1 ON dir.src = p1.pk JOIN a0 p2 ON dir.dst = p2.pk GROUP BY src HAVING count(*) >= 80), a2 AS MATERIALIZED (SELECT src AS pk FROM dir JOIN a1 p1 ON dir.src = p1.pk JOIN a1 p2 ON dir.dst = p2.pk GROUP BY src HAVING count(*) >= 80), a3 AS MATERIALIZED (SELECT src AS pk FROM dir JOIN a2 p1 ON dir.src = p1.pk JOIN a2 p2 ON dir.dst = p2.pk GROUP BY src HAVING count(*) >= 80), a4 AS MATERIALIZED (SELECT src AS pk FROM dir JOIN a3 p1 ON dir.src = p1.pk JOIN a3 p2 ON dir.dst = p2.pk GROUP BY src HAVING count(*) >= 80), a5 AS MATERIALIZED (SELECT src AS pk FROM dir JOIN a4 p1 ON dir.src = p1.pk JOIN a4 p2 ON dir.dst = p2.pk GROUP BY src HAVING count(*) >= 80), a6 AS MATERIALIZED (SELECT src AS pk FROM dir JOIN a5 p1 ON dir.src = p1.pk JOIN a5 p2 ON dir.dst = p2.pk GROUP BY src HAVING count(*) >= 80), a7 AS MATERIALIZED (SELECT src AS pk FROM dir JOIN a6 p1 ON dir.src = p1.pk JOIN a6 p2 ON dir.dst = p2.pk GROUP BY src HAVING count(*) >= 80), a8 AS MATERIALIZED (SELECT src AS pk FROM dir JOIN a7 p1 ON dir.src = p1.pk JOIN a7 p2 ON dir.dst = p2.pk GROUP BY src HAVING count(*) >= 80), traj AS (SELECT 0 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a0 UNION ALL SELECT 1 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a1 UNION ALL SELECT 2 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a2 UNION ALL SELECT 3 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a3 UNION ALL SELECT 4 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a4 UNION ALL SELECT 5 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a5 UNION ALL SELECT 6 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a6 UNION ALL SELECT 7 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a7 UNION ALL SELECT 8 AS round, CAST(count(*) AS BIGINT) AS n_alive FROM a8) SELECT CAST(round AS INTEGER) AS round, n_alive, CAST(coalesce(lag(n_alive) OVER (ORDER BY round) - n_alive, 0) AS BIGINT) AS n_removed, (round = 8) AND coalesce(lag(n_alive) OVER (ORDER BY round) - n_alive, 0) = 0 AS converged FROM traj ORDER BY round'
        ),
        "shapley_channel_attribution": (
            # exact 3-player Shapley over the exposure lattice:
            # v(S) micro rates, 6*phi with integer weights (2,1,1,2)
            "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), pu AS (SELECT user_id, min(CASE WHEN event_type = 'purchase' THEN us END) AS t_buy, min(CASE WHEN event_type = 'view' THEN us END) AS t_view, min(CASE WHEN event_type = 'click' THEN us END) AS t_click, min(CASE WHEN event_type = 'signup' THEN us END) AS t_signup FROM ev GROUP BY 1), m AS (SELECT 1 * (CASE WHEN t_view IS NOT NULL AND (t_buy IS NULL OR t_view < t_buy) THEN 1 ELSE 0 END) + 2 * (CASE WHEN t_click IS NOT NULL AND (t_buy IS NULL OR t_click < t_buy) THEN 1 ELSE 0 END) + 4 * (CASE WHEN t_signup IS NOT NULL AND (t_buy IS NULL OR t_signup < t_buy) THEN 1 ELSE 0 END) AS mask, CASE WHEN t_buy IS NOT NULL THEN 1 ELSE 0 END AS conv FROM pu), grid AS (SELECT mask, CAST(count(*) AS BIGINT) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv FROM m GROUP BY 1), one AS (SELECT CAST(coalesce(max(CASE WHEN mask = 0 THEN CAST(CAST(n_conv AS HUGEINT) * 1000000 // n_users AS BIGINT) END), 0) AS BIGINT) AS v0, CAST(coalesce(max(CASE WHEN mask = 1 THEN CAST(CAST(n_conv AS HUGEINT) * 1000000 // n_users AS BIGINT) END), 0) AS BIGINT) AS v1, CAST(coalesce(max(CASE WHEN mask = 2 THEN CAST(CAST(n_conv AS HUGEINT) * 1000000 // n_users AS BIGINT) END), 0) AS BIGINT) AS v2, CAST(coalesce(max(CASE WHEN mask = 3 THEN CAST(CAST(n_conv AS HUGEINT) * 1000000 // n_users AS BIGINT) END), 0) AS BIGINT) AS v3, CAST(coalesce(max(CASE WHEN mask = 4 THEN CAST(CAST(n_conv AS HUGEINT) * 1000000 // n_users AS BIGINT) END), 0) AS BIGINT) AS v4, CAST(coalesce(max(CASE WHEN mask = 5 THEN CAST(CAST(n_conv AS HUGEINT) * 1000000 // n_users AS BIGINT) END), 0) AS BIGINT) AS v5, CAST(coalesce(max(CASE WHEN mask = 6 THEN CAST(CAST(n_conv AS HUGEINT) * 1000000 // n_users AS BIGINT) END), 0) AS BIGINT) AS v6, CAST(coalesce(max(CASE WHEN mask = 7 THEN CAST(CAST(n_conv AS HUGEINT) * 1000000 // n_users AS BIGINT) END), 0) AS BIGINT) AS v7 FROM grid) SELECT 'view' AS channel, CAST(2 * (v1 - v0) + 1 * (v3 - v2) + 1 * (v5 - v4) + 2 * (v7 - v6) AS BIGINT) AS phi_x6_micro, v1 AS v_solo_micro, v7 AS v_full_micro FROM one UNION ALL SELECT 'click' AS channel, CAST(2 * (v2 - v0) + 1 * (v3 - v1) + 1 * (v6 - v4) + 2 * (v7 - v5) AS BIGINT) AS phi_x6_micro, v2 AS v_solo_micro, v7 AS v_full_micro FROM one UNION ALL SELECT 'signup' AS channel, CAST(2 * (v4 - v0) + 1 * (v5 - v1) + 1 * (v6 - v2) + 2 * (v7 - v3) AS BIGINT) AS phi_x6_micro, v4 AS v_solo_micro, v7 AS v_full_micro FROM one ORDER BY channel"
        ),
        "range_partition_boundaries": (
            # equal-rows range cuts over the day-grain cumulative
            # grid; exact integer ceil; signed micro deviation
            "WITH days AS (SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1), g AS (SELECT day, n, CAST(sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM days), tot AS (SELECT max(cum) AS nn FROM g), a AS (SELECT day, n, CAST((CAST(cum AS HUGEINT) * 8 + nn - 1) // nn - 1 AS BIGINT) AS p FROM g CROSS JOIN tot), parts AS (SELECT p, min(day) AS d_lo, max(day) AS d_hi, CAST(sum(n) AS BIGINT) AS n_rows FROM a GROUP BY 1) SELECT CAST(p AS INTEGER) AS partition, strftime(d_lo, '%Y-%m-%d') AS day_lo, strftime(d_hi, '%Y-%m-%d') AS day_hi, n_rows, CAST(CASE WHEN CAST(n_rows AS HUGEINT) * 8000000 - CAST(nn AS HUGEINT) * 1000000 < 0 THEN -((CAST(nn AS HUGEINT) * 1000000 - CAST(n_rows AS HUGEINT) * 8000000) // nn) ELSE (CAST(n_rows AS HUGEINT) * 8000000 - CAST(nn AS HUGEINT) * 1000000) // nn END AS BIGINT) AS dev_micro FROM parts CROSS JOIN tot ORDER BY partition"
        ),
        "fk_discovery": (
            # value-containment FK detection at distinct-key grain
            # over the literal candidate list (true FKs + decoys)
            "WITH u AS ((SELECT 'orders' AS child_table, 'o_custkey' AS child_col, 'customer' AS parent_table, 'c_custkey' AS parent_col, (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_child_distinct, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT o_custkey AS v FROM orders) c WHERE EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.v)) AS n_contained, (SELECT count(*) = count(DISTINCT c_custkey) FROM customer) AS parent_unique) UNION ALL (SELECT 'lineitem' AS child_table, 'l_orderkey' AS child_col, 'orders' AS parent_table, 'o_orderkey' AS parent_col, (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS n_child_distinct, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT l_orderkey AS v FROM lineitem) c WHERE EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.v)) AS n_contained, (SELECT count(*) = count(DISTINCT o_orderkey) FROM orders) AS parent_unique) UNION ALL (SELECT 'lineitem' AS child_table, 'l_partkey' AS child_col, 'part' AS parent_table, 'p_partkey' AS parent_col, (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem) AS n_child_distinct, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT l_partkey AS v FROM lineitem) c WHERE EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.v)) AS n_contained, (SELECT count(*) = count(DISTINCT p_partkey) FROM part) AS parent_unique) UNION ALL (SELECT 'lineitem' AS child_table, 'l_suppkey' AS child_col, 'supplier' AS parent_table, 's_suppkey' AS parent_col, (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM lineitem) AS n_child_distinct, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT l_suppkey AS v FROM lineitem) c WHERE EXISTS (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.v)) AS n_contained, (SELECT count(*) = count(DISTINCT s_suppkey) FROM supplier) AS parent_unique) UNION ALL (SELECT 'customer' AS child_table, 'c_nationkey' AS child_col, 'nation' AS parent_table, 'n_nationkey' AS parent_col, (SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT) FROM customer) AS n_child_distinct, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT c_nationkey AS v FROM customer) c WHERE EXISTS (SELECT 1 FROM nation p WHERE p.n_nationkey = c.v)) AS n_contained, (SELECT count(*) = count(DISTINCT n_nationkey) FROM nation) AS parent_unique) UNION ALL (SELECT 'nation' AS child_table, 'n_regionkey' AS child_col, 'region' AS parent_table, 'r_regionkey' AS parent_col, (SELECT CAST(count(DISTINCT n_regionkey) AS BIGINT) FROM nation) AS n_child_distinct, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT n_regionkey AS v FROM nation) c WHERE EXISTS (SELECT 1 FROM region p WHERE p.r_regionkey = c.v)) AS n_contained, (SELECT count(*) = count(DISTINCT r_regionkey) FROM region) AS parent_unique) UNION ALL (SELECT 'orders' AS child_table, 'o_custkey' AS child_col, 'part' AS parent_table, 'p_partkey' AS parent_col, (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_child_distinct, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT o_custkey AS v FROM orders) c WHERE EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.v)) AS n_contained, (SELECT count(*) = count(DISTINCT p_partkey) FROM part) AS parent_unique) UNION ALL (SELECT 'customer' AS child_table, 'c_custkey' AS child_col, 'supplier' AS parent_table, 's_suppkey' AS parent_col, (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer) AS n_child_distinct, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT c_custkey AS v FROM customer) c WHERE EXISTS (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.v)) AS n_contained, (SELECT count(*) = count(DISTINCT s_suppkey) FROM supplier) AS parent_unique)) SELECT child_table, child_col, parent_table, parent_col, n_child_distinct, n_contained, CAST(CAST(n_contained AS HUGEINT) * 1000000 // n_child_distinct AS BIGINT) AS containment_micro, parent_unique, (CAST(n_contained AS HUGEINT) * 1000000 // n_child_distinct >= 990000) AND parent_unique AS is_fk FROM u ORDER BY child_table, child_col, parent_table"
        ),
        "bbit_minhash_estimates": (
            # 1-bit minhash: J_hat = 2A - 1 as the exact integer
            # (2*agree - 16)*62500 micro; same candidates/truth as
            # minhash_estimate_error
            "WITH "
            + _MINHASH_CTE
            + ", band AS (SELECT doc_id, CAST(i // 4 AS INT) AS band, md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_key FROM mh GROUP BY doc_id, i // 4), cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM band a JOIN band b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id), agree AS (SELECT doc_a, doc_b, CAST(sum(CASE WHEN sa.mh % 2 = sb.mh % 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_1bit FROM cand JOIN mh sa ON sa.doc_id = doc_a JOIN mh sb ON sb.doc_id = doc_b AND sb.i = sa.i GROUP BY 1, 2), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), common AS (SELECT doc_a, doc_b, count(*) AS n_common FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle GROUP BY 1, 2), j AS (SELECT doc_a, doc_b, n_agree_1bit, CAST(coalesce(n_common, 0) AS BIGINT) AS n_common, CAST(sa.n_sh + sb.n_sh - coalesce(n_common, 0) AS BIGINT) AS n_union FROM agree LEFT JOIN common USING (doc_a, doc_b) JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b) SELECT doc_a, doc_b, n_agree_1bit, CAST((2 * n_agree_1bit - 16) * 62500 AS BIGINT) AS est_1bit_micro, (CAST(((CAST(n_common AS HUGEINT) * 2000000 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS true_jaccard, CAST((2 * n_agree_1bit - 16) * 62500 AS DOUBLE) / 1000000.0 - (CAST(((CAST(n_common AS HUGEINT) * 2000000 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS err FROM j"
        ),
        "minhash_estimate_error": (
            "WITH "
            + _MINHASH_CTE
            + ", band AS (SELECT doc_id, CAST(i // 4 AS INT) AS band, "
            "md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_key "
            "FROM mh GROUP BY doc_id, i // 4), "
            "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
            "FROM band a JOIN band b ON a.band = b.band "
            "AND a.band_key = b.band_key AND a.doc_id < b.doc_id), "
            "agree AS (SELECT doc_a, doc_b, "
            "CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_agree FROM cand "
            "JOIN mh sa ON sa.doc_id = doc_a "
            "JOIN mh sb ON sb.doc_id = doc_b AND sb.i = sa.i "
            "GROUP BY 1, 2), "
            "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
            "common AS (SELECT doc_a, doc_b, count(*) AS n_common "
            "FROM cand c JOIN sh a ON a.doc_id = c.doc_a "
            "JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle "
            "GROUP BY 1, 2), "
            "j AS (SELECT doc_a, doc_b, n_agree, "
            "CAST(coalesce(n_common, 0) AS BIGINT) AS n_common, "
            "CAST(sa.n_sh + sb.n_sh - coalesce(n_common, 0) AS BIGINT) "
            "AS n_union FROM agree "
            "LEFT JOIN common USING (doc_a, doc_b) "
            "JOIN sizes sa ON sa.doc_id = doc_a "
            "JOIN sizes sb ON sb.doc_id = doc_b) "
            "SELECT doc_a, doc_b, n_agree, n_common, n_union, "
            + _hud("n_agree", "16", 6)
            + " AS est_jaccard, "
            + _hud("n_common", "n_union", 6)
            + " AS true_jaccard, "
            + _hud("n_agree", "16", 6)
            + " - "
            + _hud("n_common", "n_union", 6)
            + " AS err FROM j"
        ),
        "simhash_near_pairs": (
            "WITH "
            + _SIMHASH_CTE
            + ", banded AS (SELECT doc_id, simhash, CAST(band AS INT) AS band, "
            "CAST((simhash >> CAST(band * 8 AS INT)) & 255 AS INT) AS band_val "
            "FROM sig, UNNEST(range(0, 4)) AS u(band)), "
            "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
            "FROM banded a JOIN banded b ON a.band = b.band "
            "AND a.band_val = b.band_val AND a.doc_id < b.doc_id) "
            "SELECT doc_a, doc_b, "
            "CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming "
            "FROM cand JOIN sig sa ON sa.doc_id = doc_a "
            "JOIN sig sb ON sb.doc_id = doc_b "
            "ORDER BY hamming, doc_a, doc_b LIMIT 20"
        ),
        "window_funnel_strict": (
            # greedy-earliest ordered funnel with a 1h window per
            # transition (ClickHouse windowFunnel semantics)
            "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), users AS (SELECT DISTINCT user_id FROM ev), a AS (SELECT user_id, min(us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1), s2 AS (SELECT e.user_id, min(us) AS t2 FROM ev e JOIN a USING (user_id) WHERE e.event_type = 'click' AND e.us > a.t1 AND e.us <= a.t1 + 3600000000 GROUP BY 1), s3 AS (SELECT e.user_id, min(us) AS t3 FROM ev e JOIN s2 USING (user_id) WHERE e.event_type = 'purchase' AND e.us > s2.t2 AND e.us <= s2.t2 + 3600000000 GROUP BY 1), d AS (SELECT u.user_id, CASE WHEN a.t1 IS NULL THEN 0 WHEN s2.t2 IS NULL THEN 1 WHEN s3.t3 IS NULL THEN 2 ELSE 3 END AS depth FROM users u LEFT JOIN a USING (user_id) LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)) SELECT CAST(depth AS INTEGER) AS depth, CAST(count(*) AS BIGINT) AS n_users FROM d GROUP BY 1 ORDER BY 1"
        ),
        "join_cardinality_estimate": (
            # per-bucket c1*c2/max(d1,d2) containment estimator vs
            # the key-grain exact truth; signed micro relative error
            "WITH r AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cr FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1), s AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cs FROM lineitem WHERE l_linestatus = 'O' GROUP BY 1), rb AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 256 AS b, CAST(sum(cr) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS d1 FROM r GROUP BY 1), sb AS (SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 256 AS b, CAST(sum(cs) AS BIGINT) AS c2, CAST(count(*) AS BIGINT) AS d2 FROM s GROUP BY 1), est AS (SELECT CAST(sum(CAST(c1 AS HUGEINT) * c2 // greatest(d1, d2)) AS BIGINT) AS est_rows FROM rb JOIN sb USING (b)), act AS (SELECT CAST(sum(CAST(cr AS HUGEINT) * cs) AS BIGINT) AS actual_rows FROM r JOIN s USING (l_partkey)), ks AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM r) AS keys_r, (SELECT CAST(count(*) AS BIGINT) FROM s) AS keys_s), g AS (SELECT * FROM est CROSS JOIN act CROSS JOIN ks) SELECT CAST(256 AS BIGINT) AS n_buckets, keys_r, keys_s, est_rows, actual_rows, CAST(CASE WHEN est_rows < actual_rows THEN -((CAST(actual_rows AS HUGEINT) - est_rows) * 1000000 // actual_rows) ELSE (CAST(est_rows AS HUGEINT) - actual_rows) * 1000000 // actual_rows END AS BIGINT) AS rel_err_micro FROM g"
        ),
        "knn_label_accuracy": (
            # exact top-5 cosine (the knn_brute scorer), majority
            # label via min(ROW(-votes, label)), per-class accuracy
            'WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS true_label FROM embeddings WHERE vec_id < 100), c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label AS nb_label FROM embeddings), s AS (SELECT query_id, true_label, neighbor_id, nb_label, round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cos_sim FROM q, c WHERE query_id <> neighbor_id), r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM s), v AS (SELECT query_id, true_label, nb_label, CAST(count(*) AS BIGINT) AS votes FROM r WHERE rk <= 5 GROUP BY 1, 2, 3), p AS (SELECT query_id, true_label, min(ROW(-votes, nb_label)) AS pick FROM v GROUP BY 1, 2), g AS (SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_queries, CAST(sum(CASE WHEN CAST(pick[2] AS INTEGER) = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct FROM p GROUP BY 1) SELECT label, n_queries, n_correct, (CAST(((CAST(n_correct AS HUGEINT) * 2000000 + CAST(n_queries AS HUGEINT)) // (CAST(n_queries AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS accuracy FROM g ORDER BY label'
        ),
        "knn_brute": (
            "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
            "FROM embeddings WHERE vec_id < 20), "
            "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv "
            "FROM embeddings), "
            "s AS (SELECT query_id, neighbor_id, "
            "round(list_dot_product(qv, cv) / "
            "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) "
            "AS cos_sim FROM q, c WHERE query_id <> neighbor_id), "
            "r AS (SELECT query_id, neighbor_id, cos_sim, row_number() OVER "
            "(PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk FROM s) "
            "SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank, cos_sim "
            "FROM r WHERE rk <= 5"
        ),
        "text_stats": (
            "WITH toks AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t "
            "FROM documents) "
            "SELECT doc_id, n_chars, CAST(len(t) AS INTEGER) AS n_tokens, "
            "CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct, "
            + _hud("len(list_distinct(t))", "len(t)", 6)
            + " AS ttr, "
            + _hud(
                "list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))",
                "len(t)",
                6,
            )
            + " AS avg_token_len FROM toks"
        ),
        "quality_scores": (
            "WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t, "
            "length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS alnum "
            "FROM documents) "
            "SELECT doc_id, CAST(length(text) AS INTEGER) AS len_chars, "
            + _hud("(length(text) - alnum)", "length(text)", 6)
            + " AS punct_ratio, "
            + _hud(
                "len(list_filter(t, x -> x IN ("
                + ", ".join(f"'{w}'" for w in ["the", "a", "of", "and", "to", "in", "is"])
                + ")))",
                "len(t)",
                6,
            )
            + " AS stopword_ratio, "
            + _hud("alnum", "length(text)", 6)
            + " AS alnum_ratio FROM d"
        ),
        "token_counts": (
            "WITH d AS (SELECT source, "
            "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, "
            "CAST(ceil(n_chars / 4) AS BIGINT) AS est_bpe FROM documents) "
            "SELECT source, count(*) AS n_docs, "
            "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
            "CAST(sum(est_bpe) AS BIGINT) AS total_est_bpe, "
            + _hud("sum(n_tokens)", "count(*)", 6)
            + " AS avg_tokens FROM d GROUP BY source"
        ),
        "supplier_hhi": (
            # HHI*10^4 = 10^4 * sum(r_i^2) // T^2 per part type
            'WITH ts AS (SELECT p_type, l_suppkey, CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS r FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2), g AS (SELECT p_type, CAST(count(*) AS BIGINT) AS n_suppliers, CAST(sum(r) AS BIGINT) AS total_cents, sum(CAST(r AS HUGEINT) * r) AS sq FROM ts GROUP BY 1) SELECT p_type, n_suppliers, total_cents, CAST(sq * 10000 // (CAST(total_cents AS HUGEINT) * total_cents) AS BIGINT) AS hhi_x10k FROM g ORDER BY hhi_x10k DESC, p_type'
        ),
        "interpurchase_regularity": (
            # CV^2 of inter-order gaps: (nQ - S^2)*n*1e6 // ((n-1)S^2)
            "WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders), gp AS (SELECT o_custkey, CAST(date_diff('day', lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey), d) AS BIGINT) AS g FROM o), st AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps, CAST(sum(g) AS BIGINT) AS s, sum(CAST(g AS HUGEINT) * g) AS q FROM gp WHERE g IS NOT NULL GROUP BY 1 HAVING count(*) >= 3 AND sum(g) > 0) SELECT o_custkey, n_gaps, CAST(CAST(s AS HUGEINT) * 1000 // n_gaps AS BIGINT) AS mean_gap_milli, CAST((CAST(n_gaps AS HUGEINT) * q - CAST(s AS HUGEINT) * s) * n_gaps * 1000000 // ((CAST(n_gaps AS HUGEINT) - 1) * s * s) AS BIGINT) AS cv2_micro FROM st ORDER BY cv2_micro, o_custkey LIMIT 100"
        ),
        "brand_return_bayes_rank": (
            # Bayesian average: shrunk = (k*1e6 + C*g_micro)//(n+C)
            "WITH b AS (SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_items, CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1), g AS (SELECT CAST(CAST(sum(n_returned) AS HUGEINT) * 1000000 // sum(n_items) AS BIGINT) AS g_micro FROM b) SELECT brand, n_items, n_returned, CAST(CAST(n_returned AS HUGEINT) * 1000000 // n_items AS BIGINT) AS raw_micro, CAST((CAST(n_returned AS HUGEINT) * 1000000 + 50 * g_micro) // (n_items + 50) AS BIGINT) AS shrunk_micro FROM b CROSS JOIN g ORDER BY shrunk_micro DESC, brand"
        ),
        "revenue_pareto_cut": (
            # first rank with cum*5 >= total*4 (cross-multiplied)
            'WITH pp AS (SELECT l_partkey, CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev FROM lineitem GROUP BY 1), r AS (SELECT l_partkey, rev, CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, row_number() OVER (ORDER BY rev DESC, l_partkey) AS rk FROM pp), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_parts, CAST(sum(rev) AS BIGINT) AS total_cents FROM pp), hit AS (SELECT * FROM r CROSS JOIN tot WHERE CAST(cum AS HUGEINT) * 5 >= CAST(total_cents AS HUGEINT) * 4 ORDER BY rk LIMIT 1) SELECT n_parts, total_cents, CAST(rk AS BIGINT) AS n_parts_80, CAST(CAST(cum AS HUGEINT) * 1000000 // total_cents AS BIGINT) AS share_micro, CAST(CAST(rev AS HUGEINT) * 1000000 // total_cents AS BIGINT) AS cut_part_share_micro FROM hit'
        ),
        "lang_id_kappa": (
            # chance-corrected agreement: kappa = (N*A - M)/(N^2 - M)
            # sign-split at micro; same predictor CASE as lang_id
            "WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') "
            "AS t FROM documents), "
            f"scores AS (SELECT doc_id, lang, {score_cols} FROM toks)"
            ", p AS (SELECT lang, CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und' WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en' WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de' WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr' ELSE 'es' END AS pred FROM scores), "
            "pt AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n_true "
            "FROM p GROUP BY 1), "
            "pp AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS n_pred "
            "FROM p GROUP BY 1), "
            "mp AS (SELECT CAST(sum(CAST(coalesce(n_true, 0) AS HUGEINT) * "
            "coalesce(n_pred, 0)) AS BIGINT) AS marginal_prod "
            "FROM pt FULL OUTER JOIN pp USING (cls)), "
            "ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_agree FROM p), "
            "g AS (SELECT * FROM ag CROSS JOIN mp) "
            "SELECT n_docs, n_agree, marginal_prod, "
            "CAST(CAST(n_agree AS HUGEINT) * 1000000 // n_docs AS BIGINT) "
            "AS po_micro, "
            "CAST(CAST(marginal_prod AS HUGEINT) * 1000000 // "
            "(CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS pe_micro, "
            "CAST(CASE WHEN CAST(n_docs AS HUGEINT) * n_agree - "
            "marginal_prod < 0 THEN -((marginal_prod - "
            "CAST(n_docs AS HUGEINT) * n_agree) * 1000000 // "
            "(CAST(n_docs AS HUGEINT) * n_docs - marginal_prod)) ELSE "
            "(CAST(n_docs AS HUGEINT) * n_agree - marginal_prod) * 1000000 "
            "// (CAST(n_docs AS HUGEINT) * n_docs - marginal_prod) END "
            "AS BIGINT) AS kappa_micro FROM g"
        ),
        "lang_id": (
            "WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t "
            "FROM documents), "
            f"scores AS (SELECT doc_id, lang, {score_cols} FROM toks), "
            "p AS (SELECT *, greatest(score_en, score_de, score_fr, score_es) AS best "
            "FROM scores) "
            "SELECT doc_id, lang, score_en, score_de, score_fr, score_es, "
            "CASE WHEN best = 0 THEN 'und' "
            "WHEN score_en = best THEN 'en' WHEN score_de = best THEN 'de' "
            "WHEN score_fr = best THEN 'fr' ELSE 'es' END AS pred_lang, "
            "(CASE WHEN best = 0 THEN 'und' "
            "WHEN score_en = best THEN 'en' WHEN score_de = best THEN 'de' "
            "WHEN score_fr = best THEN 'fr' ELSE 'es' END) = lang AS agree "
            "FROM p"
        ),
        "doc_fingerprint": (
            "WITH "
            + _SHINGLES_CTE
            + ", f AS (SELECT doc_id, "
            "list_sort(list(('0x' || substr(md5(shingle), 1, 15))::BIGINT)) AS hs "
            "FROM sh GROUP BY doc_id) "
            "SELECT doc_id, hs[1] AS fp0, hs[2] AS fp1, hs[3] AS fp2, hs[4] AS fp3 FROM f"
        ),
        "events_hourly": (
            "SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us, "
            "event_type, count(*) AS n_events, "
            "CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        "events_multires_rollup": (
            # continuous-aggregate cascade: hour aggregates the minute
            # TIER, day aggregates the hour tier — sums carried as
            # exact decimals, rounded only at output
            "WITH m AS (SELECT epoch_us(ts) - epoch_us(ts) % 60000000 "
            "AS b, event_type, count(*) AS n, "
            "sum(CAST(value AS DECIMAL(12,2))) AS sv "
            "FROM events GROUP BY 1, 2), "
            "h AS (SELECT b - b % 3600000000 AS b, event_type, "
            "CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv FROM m "
            "GROUP BY 1, 2), "
            "d AS (SELECT b - b % 86400000000 AS b, event_type, "
            "CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv FROM h "
            "GROUP BY 1, 2) "
            "SELECT 'minute' AS resolution, b AS bucket_start_us, "
            "event_type, CAST(n AS BIGINT) AS n_events, "
            "CAST(round(sv, 2) AS DOUBLE) AS total_value FROM m "
            "UNION ALL SELECT 'hour', b, event_type, n, "
            "CAST(round(sv, 2) AS DOUBLE) FROM h "
            "UNION ALL SELECT 'day', b, event_type, n, "
            "CAST(round(sv, 2) AS DOUBLE) FROM d"
        ),
        "open_orders_daily": (
            # delta encoding + calendar-spine running sum: the scalable
            # interval-concurrency shape (2 rows per interval, no
            # day x order join)
            "WITH spans AS (SELECT o_orderkey, "
            "min(CAST(o_orderdate AS DATE)) AS open_day, "
            "greatest(max(CAST(l_shipdate AS DATE)), "
            "min(CAST(o_orderdate AS DATE))) AS close_day "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY 1), "
            "deltas AS (SELECT open_day AS day, 1 AS delta FROM spans "
            "UNION ALL SELECT close_day + 1, -1 FROM spans), "
            "pd AS (SELECT day, sum(delta) AS d FROM deltas GROUP BY 1), "
            "bd AS (SELECT min(open_day) AS d0, max(close_day) AS d1 "
            "FROM spans), "
            "spine AS (SELECT unnest(generate_series(d0, d1, "
            "INTERVAL 1 DAY))::DATE AS day FROM bd) "
            "SELECT strftime(day, '%Y-%m-%d') AS day, "
            "CAST(sum(coalesce(d, 0)) OVER (ORDER BY day "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open "
            "FROM spine LEFT JOIN pd USING (day)"
        ),
        "session_paths_top": (
            # gap-islands sessionization, rank<=8 prefix, ordered
            # string_agg; identical tie-breaks (us, event_id)
            "WITH e AS (SELECT user_id, event_id, event_type, "
            "epoch_us(ts) AS us FROM events), "
            "f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL "
            "OR us - lag(us) OVER w >= 900000000 THEN 1 ELSE 0 END AS new_s "
            "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), "
            "sx AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id "
            "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session "
            "FROM f), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session "
            "ORDER BY us, event_id) AS rn FROM sx), "
            "p AS (SELECT user_id, session, "
            "string_agg(event_type, '>' ORDER BY rn) AS path FROM r "
            "WHERE rn <= 8 GROUP BY 1, 2) "
            "SELECT path, count(*) AS n_sessions FROM p GROUP BY path "
            "ORDER BY n_sessions DESC, path LIMIT 30"
        ),
        "events_seasonality": (
            # hour-of-day profile grid; variance numerator by the exact
            # one-pass identity n*sum(c^2) - sum(c)^2 in HUGEINT
            "WITH pd AS (SELECT event_type, "
            "epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us, "
            "(epoch_us(ts) % 86400000000) // 3600000000 AS hod, "
            "count(*) AS c FROM events GROUP BY 1, 2, 3) "
            "SELECT event_type, hod, CAST(sum(c) AS BIGINT) AS n_events, "
            "count(*) AS n_days, "
            + _hud("sum(c)", "count(*)", 6) + " AS mean_per_day, "
            "CAST(count(*) * sum(CAST(c AS HUGEINT) * c) "
            "- sum(CAST(c AS HUGEINT)) * sum(CAST(c AS HUGEINT)) AS BIGINT) "
            "AS var_num FROM pd GROUP BY 1, 2"
        ),
        "user_state_scd2": (
            # islands: change-flag lag -> running-sum version id ->
            # interval min/lead; identical window algebra to Spark
            "WITH e AS (SELECT user_id, event_id, event_type, "
            "epoch_us(ts) AS us FROM events), "
            "f AS (SELECT user_id, event_id, us, event_type, "
            "CASE WHEN lag(event_type) OVER w IS NULL "
            "OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END "
            "AS chg FROM e WINDOW w AS (PARTITION BY user_id "
            "ORDER BY us, event_id)), "
            "v AS (SELECT user_id, us, event_type, "
            "sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id "
            "ROWS UNBOUNDED PRECEDING) AS version FROM f), "
            "g AS (SELECT user_id, version, min(event_type) AS state, "
            "min(us) AS effective_from, count(*) AS n_observations "
            "FROM v GROUP BY 1, 2) "
            "SELECT user_id, CAST(version AS INTEGER) AS version, state, "
            "effective_from, "
            "lead(effective_from) OVER vw AS effective_to, "
            "lead(effective_from) OVER vw IS NULL AS is_current, "
            "n_observations FROM g "
            "WINDOW vw AS (PARTITION BY user_id ORDER BY version)"
        ),
        "event_volume_anomalies": (
            # trailing-24h RANGE frame, self-excluding; the 3σ verdict
            # is the integer cross-multiply (w·c − S)² > 9·(w·Q − S²)
            # in HUGEINT — the same DECIMAL(38,0) algebra Spark runs
            "WITH h AS (SELECT event_type, "
            "(epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us, "
            "count(*) AS n_events FROM events GROUP BY 1, 2), "
            "w AS (SELECT *, count(*) OVER fr AS wn, "
            "sum(CAST(n_events AS HUGEINT)) OVER fr AS s, "
            "sum(CAST(n_events AS HUGEINT) * n_events) OVER fr AS q "
            "FROM h WINDOW fr AS (PARTITION BY event_type "
            "ORDER BY hour_start_us RANGE BETWEEN 86400000000 PRECEDING "
            "AND 3600000000 PRECEDING)) "
            "SELECT event_type, hour_start_us, n_events, "
            "CAST(wn AS INTEGER) AS trailing_hours, "
            "CAST(coalesce(s, 0) AS BIGINT) AS trailing_events, "
            "CASE WHEN wn >= 12 THEN "
            "(wn * CAST(n_events AS HUGEINT) - s) * "
            "(wn * CAST(n_events AS HUGEINT) - s) > 9 * (wn * q - s * s) "
            "ELSE false END AS is_anomaly FROM w"
        ),
        "events_by_type_salted": (
            # the SAME answer as the direct groupBy — salting is plan-
            # level only (the oracle proves result transparency)
            "SELECT event_type, count(*) AS n_events, "
            "CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS total_value FROM events GROUP BY event_type"
        ),
        "rolling_distinct_users": (
            "WITH d AS (SELECT DISTINCT user_id, "
            "epoch_us(ts) // 86400000000 AS day FROM events), "
            "days AS (SELECT DISTINCT day FROM d) "
            "SELECT days.day, count(DISTINCT d.user_id) AS n_users_7d "
            "FROM days JOIN d ON d.day BETWEEN days.day - 6 AND days.day "
            "GROUP BY days.day"
        ),
        "customer_rfm_segments": (
            # real NTILE(5) per metric verifies the two-level exact
            # quintile decomposition bit for bit
            "WITH s AS (SELECT o_custkey, "
            "CAST(max(CAST(o_orderdate AS DATE)) - DATE '1970-01-01' "
            "AS BIGINT) AS last_day, "
            "CAST(count(*) AS BIGINT) AS n_orders, "
            "round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS spend "
            "FROM orders GROUP BY o_custkey), "
            "q AS (SELECT o_custkey, last_day, n_orders, "
            "CAST(spend AS DOUBLE) AS total_spend, "
            "CAST(ntile(5) OVER (ORDER BY last_day DESC, o_custkey) "
            "AS INTEGER) AS r_score, "
            "CAST(ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) "
            "AS INTEGER) AS f_score, "
            "CAST(ntile(5) OVER (ORDER BY spend DESC, o_custkey) "
            "AS INTEGER) AS m_score FROM s) "
            "SELECT *, CAST(r_score * 100 + f_score * 10 + m_score "
            "AS INTEGER) AS rfm_segment FROM q"
        ),
        "lorenz_customer_deciles": (
            # Lorenz curve: exact cents, real NTILE ascending, cumulative
            # share in ppm by exact floor division (mirrors
            # warehouse.q_lorenz_customer_deciles two-level rank form)
            "WITH s AS (SELECT o_custkey, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) "
            "AS cents FROM orders GROUP BY o_custkey), "
            "d AS (SELECT cents, CAST(ntile(10) OVER "
            "(ORDER BY cents ASC, o_custkey ASC) AS INTEGER) AS decile "
            "FROM s), "
            "per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers, "
            "CAST(sum(cents) AS BIGINT) AS decile_cents FROM d GROUP BY 1), "
            "c AS (SELECT *, CAST(sum(decile_cents) OVER (ORDER BY decile) "
            "AS BIGINT) AS cum_cents, "
            "CAST(sum(decile_cents) OVER () AS HUGEINT) AS tot FROM per) "
            "SELECT decile, n_customers, decile_cents, cum_cents, "
            "CAST((CAST(cum_cents AS HUGEINT) * 1000000) // tot AS BIGINT) "
            "AS cum_share_ppm FROM c ORDER BY decile"
        ),
        "ols_residual_diagnostics": (
            # daily-revenue OLS diagnostics: exact HUGEINT power sums,
            # rounded-residual convention (y - trunc(fit)), sign-split
            # truncate-toward-zero everywhere a numerator can be
            # negative (mirrors warehouse.q_ols_residual_diagnostics)
            "WITH daily AS (SELECT "
            "CAST(date_diff('day', DATE '1992-01-01', o_orderdate) "
            "AS BIGINT) AS day, "
            "sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
            "AS BIGINT)) AS cents FROM orders GROUP BY 1), "
            "g AS (SELECT CAST(count(*) AS HUGEINT) AS n, "
            "sum(CAST(day AS HUGEINT)) AS sx, "
            "sum(CAST(cents AS HUGEINT)) AS sy, "
            "sum(CAST(day AS HUGEINT) * cents) AS sxy, "
            "sum(CAST(day AS HUGEINT) * day) AS sxx, "
            "sum(CAST(cents AS HUGEINT) * cents) AS syy FROM daily), "
            "gg AS (SELECT *, n * sxy - sx * sy AS num_b, "
            "n * sxx - sx * sx AS den FROM g), "
            "resid AS (SELECT day, n, sx, sy, syy, num_b, den, "
            "CAST(cents AS HUGEINT) - (CASE "
            "WHEN (n * num_b * day + den * sy - num_b * sx) < 0 "
            "THEN -((-(n * num_b * day + den * sy - num_b * sx)) "
            "// (n * den)) "
            "ELSE (n * num_b * day + den * sy - num_b * sx) // (n * den) "
            "END) AS e FROM daily CROSS JOIN gg), "
            "lagged AS (SELECT *, e - lag(e) OVER (ORDER BY day) AS de "
            "FROM resid), "
            "o AS (SELECT n, sx, sy, syy, num_b, den, "
            "sum(e * e) AS sse, sum(de * de) AS sdd, "
            "sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS n_pos, "
            "max(abs(e)) AS max_abs_e "
            "FROM lagged GROUP BY 1, 2, 3, 4, 5, 6) "
            "SELECT CAST(n AS BIGINT) AS n_days, "
            "CAST(CASE WHEN num_b < 0 "
            "THEN -(((-num_b) * 1000000) // den) "
            "ELSE (num_b * 1000000) // den END AS BIGINT) "
            "AS slope_micro_cents_per_day, "
            "CAST(CASE WHEN (den * sy - num_b * sx) < 0 "
            "THEN -((-(den * sy - num_b * sx)) // (n * den)) "
            "ELSE (den * sy - num_b * sx) // (n * den) END AS BIGINT) "
            "AS intercept_cents, "
            "CAST(1000000 - ((n * sse * 1000000) // (n * syy - sy * sy)) "
            "AS BIGINT) AS r2_ppm, "
            "CAST((sdd * 1000000) // sse AS BIGINT) AS dw_micro, "
            "CAST(n_pos AS BIGINT) AS n_pos_resid, "
            "CAST(max_abs_e AS BIGINT) AS max_abs_resid_cents FROM o"
        ),
        "jarque_bera_residuals": (
            # JB normality on the daily-revenue OLS residuals: shared
            # rounded-residual construction, $100-unit quantization,
            # integer moment ratios, isqrt sd (mirrors
            # warehouse.q_jarque_bera_residuals)
            "WITH daily AS (SELECT "
            "CAST(date_diff('day', DATE '1992-01-01', o_orderdate) "
            "AS BIGINT) AS day, "
            "sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
            "AS BIGINT)) AS cents FROM orders GROUP BY 1), "
            "g AS (SELECT CAST(count(*) AS HUGEINT) AS n, "
            "sum(CAST(day AS HUGEINT)) AS sx, "
            "sum(CAST(cents AS HUGEINT)) AS sy, "
            "sum(CAST(day AS HUGEINT) * cents) AS sxy, "
            "sum(CAST(day AS HUGEINT) * day) AS sxx FROM daily), "
            "gg AS (SELECT *, n * sxy - sx * sy AS num_b, "
            "n * sxx - sx * sx AS den FROM g), "
            "resid AS (SELECT n, "
            "CAST(cents AS HUGEINT) - (CASE "
            "WHEN (n * num_b * day + den * sy - num_b * sx) < 0 "
            "THEN -((-(n * num_b * day + den * sy - num_b * sx)) "
            "// (n * den)) "
            "ELSE (n * num_b * day + den * sy - num_b * sx) // (n * den) "
            "END) AS e FROM daily CROSS JOIN gg), "
            "q AS (SELECT n, CASE WHEN e < 0 THEN -((-e) // 10000) "
            "ELSE e // 10000 END AS ek FROM resid), "
            "sums AS (SELECT n, sum(ek * ek) AS s2, "
            "sum(ek * ek * ek) AS s3, sum(ek * ek * ek * ek) AS s4 "
            "FROM q GROUP BY 1), "
            "m AS (SELECT n, s2 // n AS m2, "
            "CASE WHEN s3 < 0 THEN -((-s3) // n) ELSE s3 // n END AS m3, "
            "s4 // n AS m4 FROM sums), "
            f"ms AS (SELECT *, {_isq('m2')} AS s FROM m), "
            "stats AS (SELECT CAST(n AS BIGINT) AS n_days, "
            "CAST(10000 AS BIGINT) AS resid_unit_cents, "
            "CAST(CASE WHEN s = 0 THEN 0 "
            "WHEN m3 < 0 THEN -(((-m3) * 1000) // "
            "(CAST(s AS HUGEINT) * s * s)) "
            "ELSE (m3 * 1000) // (CAST(s AS HUGEINT) * s * s) "
            "END AS BIGINT) "
            "AS skew_milli, "
            "CAST(CASE WHEN m2 = 0 THEN 0 "
            "ELSE (m4 * 1000) // (m2 * m2) - 3000 END AS BIGINT) "
            "AS kurt_excess_milli FROM ms) "
            "SELECT *, CAST((CAST(n_days AS HUGEINT) * "
            "(4 * CAST(skew_milli AS HUGEINT) * skew_milli "
            "+ CAST(kurt_excess_milli AS HUGEINT) * kurt_excess_milli)) "
            "// 24000 AS BIGINT) AS jb_milli, "
            "(CAST(n_days AS HUGEINT) * "
            "(4 * CAST(skew_milli AS HUGEINT) * skew_milli "
            "+ CAST(kurt_excess_milli AS HUGEINT) * kurt_excess_milli)) "
            "// 24000 > 5991 AS significant FROM stats"
        ),
        "revenue_weekday_profile": (
            # classical additive decomposition on the daily grid:
            # centered 7-row MA trend (full windows only), per-isodow
            # seasonal mean, remainder vs seasonal — all exact integer
            # (mirrors warehouse.q_revenue_weekday_profile)
            "WITH daily AS (SELECT o_orderdate AS d, "
            "sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
            "AS BIGINT)) AS cents, "
            "CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow "
            "FROM orders GROUP BY 1, 3), "
            "ma AS (SELECT d, iso_dow, cents, "
            "sum(CAST(cents AS HUGEINT)) OVER "
            "(ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) "
            "AS win_sum, "
            "count(*) OVER "
            "(ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) "
            "AS win_n FROM daily), "
            "detr AS (SELECT d, iso_dow, "
            "CAST(cents AS HUGEINT) - (win_sum // 7) AS detrended "
            "FROM ma WHERE win_n = 7), "
            "seasonal AS (SELECT iso_dow, "
            "CAST(count(*) AS BIGINT) AS n_days, "
            "sum(detrended) AS dsum, "
            "CAST(min(detrended) AS BIGINT) AS detrended_min_cents, "
            "CAST(max(detrended) AS BIGINT) AS detrended_max_cents "
            "FROM detr GROUP BY 1), "
            "seas2 AS (SELECT *, CASE WHEN dsum < 0 "
            "THEN -((-dsum) // CAST(n_days AS HUGEINT)) "
            "ELSE dsum // CAST(n_days AS HUGEINT) END AS seasonal_cents "
            "FROM seasonal), "
            "rem AS (SELECT detr.iso_dow, "
            "CAST(sum(abs(detr.detrended - s.seasonal_cents)) AS HUGEINT) "
            "AS rsum, CAST(count(*) AS HUGEINT) AS rn "
            "FROM detr JOIN seas2 s ON detr.iso_dow = s.iso_dow "
            "GROUP BY 1) "
            "SELECT s.iso_dow, s.n_days, "
            "CAST(s.seasonal_cents AS BIGINT) AS seasonal_cents, "
            "CAST(rem.rsum // rem.rn AS BIGINT) "
            "AS remainder_mean_abs_cents, "
            "s.detrended_min_cents, s.detrended_max_cents "
            "FROM seas2 s JOIN rem ON s.iso_dow = rem.iso_dow "
            "ORDER BY s.iso_dow"
        ),
        "customer_spend_ntile": (
            "WITH s AS (SELECT o_custkey, "
            "round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS spend_dec "
            "FROM orders GROUP BY o_custkey) "
            "SELECT o_custkey, CAST(spend_dec AS DOUBLE) AS total_spend, "
            "CAST(ntile(10) OVER (ORDER BY spend_dec DESC, o_custkey) "
            "AS INTEGER) AS decile FROM s"
        ),
        "orders_above_customer_avg": (
            "WITH a AS (SELECT o_custkey, count(*) AS n, "
            "sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS HUGEINT)) "
            "AS s FROM orders GROUP BY o_custkey) "
            "SELECT o.o_custkey, o_orderkey, o_totalprice "
            "FROM orders o JOIN a USING (o_custkey) "
            "WHERE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS HUGEINT) "
            "* n > s"
        ),
        "revenue_moving_avg": (
            "WITH m AS (SELECT "
            "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) "
            "AS month_key, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) "
            "AS rev_cents, count(*) AS n_orders FROM orders GROUP BY 1) "
            "SELECT month_key, n_orders, "
            "CAST(rev_cents AS DOUBLE) / 100.0 AS revenue, "
            + _hud(
                "sum(rev_cents) OVER (ORDER BY month_key "
                "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
                "(count(*) OVER (ORDER BY month_key "
                "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 100",
                4,
            )
            + " AS moving_avg_3m FROM m"
        ),
        "fuzzy_part_names": (
            "WITH n AS (SELECT p_partkey, p_name, "
            "string_split(p_name, ' ')[1] AS block FROM part) "
            "SELECT a.p_partkey AS part_a, b.p_partkey AS part_b, "
            "CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist "
            "FROM n a JOIN n b ON a.block = b.block "
            "AND a.p_partkey < b.p_partkey "
            "WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4 "
            "ORDER BY edit_dist, part_a, part_b LIMIT 200"
        ),
        "cuped_adjusted_diff": (
            # CUPED: pooled theta from integer sufficient stats
            # (sign-split micro quantization), milli group means,
            # rho^2 variance reduction — every product HUGEINT-lifted
            "WITH my AS (SELECT max(year(o_orderdate)) AS maxy "
            "FROM orders), "
            "oc AS (SELECT o_custkey, year(o_orderdate) AS y, "
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
            "AS cents FROM orders), "
            "pc AS (SELECT o_custkey, "
            "CAST(sum(CASE WHEN y < maxy THEN cents ELSE 0 END) "
            "AS BIGINT) AS x, "
            "CAST(sum(CASE WHEN y < maxy THEN 0 ELSE cents END) "
            "AS BIGINT) AS yy FROM oc CROSS JOIN my GROUP BY 1), "
            "j AS (SELECT pc.*, c_mktsegment FROM pc "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), "
            "a AS (SELECT "
            "CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 "
            "ELSE 0 END) AS BIGINT) AS n_a, "
            "CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 0 "
            "ELSE 1 END) AS BIGINT) AS n_b, "
            "CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN x "
            "ELSE 0 END) AS BIGINT) AS sxa, "
            "CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN yy "
            "ELSE 0 END) AS BIGINT) AS sya, "
            "CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 0 "
            "ELSE x END) AS BIGINT) AS sxb, "
            "CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 0 "
            "ELSE yy END) AS BIGINT) AS syb, "
            "CAST(count(*) AS BIGINT) AS n, "
            "sum(CAST(x AS HUGEINT) * x) AS sxx, "
            "sum(CAST(x AS HUGEINT) * yy) AS sxy, "
            "sum(CAST(yy AS HUGEINT) * yy) AS syy FROM j), "
            "g AS (SELECT *, "
            "CAST(n AS HUGEINT) * sxy - CAST(sxa + sxb AS HUGEINT) * "
            "(sya + syb) AS th_num, "
            "CAST(n AS HUGEINT) * sxx - CAST(sxa + sxb AS HUGEINT) * "
            "(sxa + sxb) AS th_den, "
            "CAST(n AS HUGEINT) * syy - CAST(sya + syb AS HUGEINT) * "
            "(sya + syb) AS den_y FROM a), "
            "g2 AS (SELECT *, CAST(CASE WHEN th_num < 0 THEN "
            "-((-th_num) * 1000000 // th_den) ELSE "
            "th_num * 1000000 // th_den END AS BIGINT) AS theta_micro, "
            "CAST(CAST(sya AS HUGEINT) * 1000 // n_a AS BIGINT) AS yam, "
            "CAST(CAST(syb AS HUGEINT) * 1000 // n_b AS BIGINT) AS ybm, "
            "CAST(CAST(sxa AS HUGEINT) * 1000 // n_a AS BIGINT) AS xam, "
            "CAST(CAST(sxb AS HUGEINT) * 1000 // n_b AS BIGINT) AS xbm "
            "FROM g), "
            "g3 AS (SELECT *, CAST(CAST(abs(theta_micro) AS HUGEINT) * "
            "abs(th_num) // den_y AS BIGINT) AS rho2_micro, "
            "CAST(CASE WHEN CAST(theta_micro AS HUGEINT) * (xam - xbm) "
            "< 0 THEN -((-(CAST(theta_micro AS HUGEINT) * "
            "(xam - xbm))) // 1000000) ELSE "
            "CAST(theta_micro AS HUGEINT) * (xam - xbm) // 1000000 "
            "END AS BIGINT) AS adj FROM g2) "
            "SELECT 'BUILDING' AS seg_a, 'MACHINERY' AS seg_b, n_a, "
            "n_b, theta_micro, yam - ybm AS diff_raw_milli, "
            "(yam - ybm) - adj AS diff_cuped_milli, rho2_micro "
            "FROM g3"
        ),
        "segment_price_utest": (
            # Mann-Whitney with tie correction over the distinct-cents
            # grid: doubled U keeps tie half-credit integer; exact
            # rational z^2 at micro; N < 1e5 guard MIRRORED
            "WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) "
            "* 100 AS BIGINT) AS cents, CASE WHEN c_mktsegment = "
            "'BUILDING' THEN 1 ELSE 0 END AS is_a "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), "
            "grid AS (SELECT cents, CAST(sum(is_a) AS BIGINT) AS ca, "
            "CAST(sum(1 - is_a) AS BIGINT) AS cb FROM o GROUP BY 1), "
            "g AS (SELECT cents, ca, cb, CAST(sum(cb) OVER (ORDER BY "
            "cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "AS BIGINT) AS cum_b_incl, ca + cb AS tt FROM grid), "
            "a AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, "
            "CAST(sum(cb) AS BIGINT) AS n_b, "
            "CAST(sum(ca * (2 * (cum_b_incl - cb) + cb)) AS BIGINT) "
            "AS u2, CAST(sum(CAST(tt AS HUGEINT) * tt * tt - tt) "
            "AS BIGINT) AS tie_term FROM g), "
            "gn AS (SELECT *, CASE WHEN n_a + n_b >= 100000 THEN "
            "CAST(error('utest contract violated: N >= 1e5 exceeds the "
            "exact z^2 DECIMAL(38,0) range; sample or rescale "
            "upstream') AS BIGINT) ELSE n_a + n_b END AS nn FROM a), "
            "z AS (SELECT *, CAST(3 * CAST(u2 - n_a * n_b AS HUGEINT) "
            "* (u2 - n_a * n_b) * nn * (nn - 1) * 1000000 // "
            "(CAST(n_a AS HUGEINT) * n_b * (CAST(nn + 1 AS HUGEINT) * "
            "nn * (nn - 1) - tie_term)) AS BIGINT) AS z2_micro "
            "FROM gn) "
            "SELECT 'BUILDING' AS seg_a, 'MACHINERY' AS seg_b, n_a, "
            "n_b, u2, tie_term, z2_micro, z2_micro > 3841600 AS "
            "significant FROM z"
        ),
        "markov_conversion_prob": (
            # absorbing-Markov funnel: 5 unrolled value-iteration
            # rounds over the bounded transition grid, micro units,
            # one trunc division per state per round
            "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events), pr AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type, event_type AS to_type FROM e), c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_ij FROM pr WHERE from_type IS NOT NULL GROUP BY 1, 2), m AS (SELECT from_type, CAST(sum(n_ij) AS BIGINT) AS n_i FROM c GROUP BY 1), s AS (SELECT DISTINCT event_type AS state FROM events), p0 AS (SELECT state, CAST(CASE WHEN state = 'purchase' THEN 1000000 ELSE 0 END AS BIGINT) AS p FROM s), x1 AS (SELECT c.from_type AS state, CAST(sum(CAST(c.n_ij AS HUGEINT) * p0.p) // min(m.n_i) AS BIGINT) AS p FROM c JOIN p0 ON c.to_type = p0.state JOIN m ON m.from_type = c.from_type GROUP BY 1), p1 AS (SELECT s.state, CAST(CASE WHEN s.state = 'purchase' THEN 1000000 ELSE COALESCE(x1.p, 0) END AS BIGINT) AS p FROM s LEFT JOIN x1 ON s.state = x1.state), x2 AS (SELECT c.from_type AS state, CAST(sum(CAST(c.n_ij AS HUGEINT) * p1.p) // min(m.n_i) AS BIGINT) AS p FROM c JOIN p1 ON c.to_type = p1.state JOIN m ON m.from_type = c.from_type GROUP BY 1), p2 AS (SELECT s.state, CAST(CASE WHEN s.state = 'purchase' THEN 1000000 ELSE COALESCE(x2.p, 0) END AS BIGINT) AS p FROM s LEFT JOIN x2 ON s.state = x2.state), x3 AS (SELECT c.from_type AS state, CAST(sum(CAST(c.n_ij AS HUGEINT) * p2.p) // min(m.n_i) AS BIGINT) AS p FROM c JOIN p2 ON c.to_type = p2.state JOIN m ON m.from_type = c.from_type GROUP BY 1), p3 AS (SELECT s.state, CAST(CASE WHEN s.state = 'purchase' THEN 1000000 ELSE COALESCE(x3.p, 0) END AS BIGINT) AS p FROM s LEFT JOIN x3 ON s.state = x3.state), x4 AS (SELECT c.from_type AS state, CAST(sum(CAST(c.n_ij AS HUGEINT) * p3.p) // min(m.n_i) AS BIGINT) AS p FROM c JOIN p3 ON c.to_type = p3.state JOIN m ON m.from_type = c.from_type GROUP BY 1), p4 AS (SELECT s.state, CAST(CASE WHEN s.state = 'purchase' THEN 1000000 ELSE COALESCE(x4.p, 0) END AS BIGINT) AS p FROM s LEFT JOIN x4 ON s.state = x4.state), x5 AS (SELECT c.from_type AS state, CAST(sum(CAST(c.n_ij AS HUGEINT) * p4.p) // min(m.n_i) AS BIGINT) AS p FROM c JOIN p4 ON c.to_type = p4.state JOIN m ON m.from_type = c.from_type GROUP BY 1), p5 AS (SELECT s.state, CAST(CASE WHEN s.state = 'purchase' THEN 1000000 ELSE COALESCE(x5.p, 0) END AS BIGINT) AS p FROM s LEFT JOIN x5 ON s.state = x5.state) SELECT CAST(1 AS INTEGER) AS step, state, p AS p_micro FROM p1 UNION ALL SELECT CAST(2 AS INTEGER) AS step, state, p AS p_micro FROM p2 UNION ALL SELECT CAST(3 AS INTEGER) AS step, state, p AS p_micro FROM p3 UNION ALL SELECT CAST(4 AS INTEGER) AS step, state, p AS p_micro FROM p4 UNION ALL SELECT CAST(5 AS INTEGER) AS step, state, p AS p_micro FROM p5 ORDER BY step, state"
        ),
        "view_purchase_join_streamed": (
            # the batch time-range join IS the oracle for the
            # stream-stream append join (a match emits exactly once)
            "WITH v AS (SELECT user_id, event_id AS view_event_id, "
            "epoch_us(ts) AS vus FROM events WHERE event_type = 'view'), "
            "p AS (SELECT user_id, event_id AS purchase_event_id, "
            "epoch_us(ts) AS pus FROM events "
            "WHERE event_type = 'purchase') "
            "SELECT v.user_id AS user_id, view_event_id, "
            "purchase_event_id, pus - vus AS lag_us "
            "FROM v JOIN p ON v.user_id = p.user_id "
            "AND pus >= vus AND pus <= vus + 3600000000"
        ),
        "revenue_theil_sen": (
            # median of pairwise yearly slopes, carried as the exact
            # integer dy*(2520//dx) before the order-statistic median;
            # the dx <= 10 LCM contract guard is MIRRORED
            "WITH fact AS (SELECT n_name AS nation, "
            "CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            f"{_NET} AS net_price "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey), "
            "yearly AS (SELECT nation, order_year, "
            "CAST(round(sum(net_price), 2) * 100 AS BIGINT) AS cents "
            "FROM fact GROUP BY 1, 2), "
            "p AS (SELECT a.nation, b.order_year - a.order_year AS dx, "
            "b.cents - a.cents AS dy FROM yearly a JOIN yearly b "
            "ON a.nation = b.nation AND a.order_year < b.order_year), "
            "g AS (SELECT nation, CASE WHEN dx > 10 THEN "
            "CAST(error('theil_sen contract violated: year gap > 10 "
            "breaks the exact LCM scaling; widen YEAR_SPAN_LCM') "
            "AS BIGINT) ELSE CAST(dy * (2520 // dx) AS BIGINT) END "
            "AS slope_lcm FROM p), "
            "r AS (SELECT nation, slope_lcm, row_number() OVER "
            "(PARTITION BY nation ORDER BY slope_lcm) AS rk, "
            "count(*) OVER (PARTITION BY nation) AS np FROM g), "
            "ny AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_years "
            "FROM yearly GROUP BY 1) "
            "SELECT r.nation AS nation, n_years, "
            "CAST(np AS BIGINT) AS n_pairs, slope_lcm AS ts_slope_lcm "
            "FROM r JOIN ny ON r.nation = ny.nation "
            "WHERE rk = (np + 1) // 2 ORDER BY nation"
        ),
        "price_drift_ks": (
            # two-sample KS over the distinct-cents grid: integer CDFs,
            # cross-multiplied gap, micro D, isqrt critical value
            "WITH my AS (SELECT max(year(o_orderdate)) AS maxy "
            "FROM orders), "
            "o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * "
            "100 AS BIGINT) AS cents, year(o_orderdate) AS y "
            "FROM orders), "
            "grid AS (SELECT cents, CAST(sum(CASE WHEN y = maxy - 1 "
            "THEN 1 ELSE 0 END) AS BIGINT) AS ca, "
            "CAST(sum(CASE WHEN y = maxy THEN 1 ELSE 0 END) AS BIGINT) "
            "AS cb FROM o CROSS JOIN my WHERE y >= maxy - 1 "
            "GROUP BY 1), "
            "g AS (SELECT cents, CAST(sum(ca) OVER w AS BIGINT) AS "
            "cum_a, CAST(sum(cb) OVER w AS BIGINT) AS cum_b FROM grid "
            "WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW)), "
            "tot AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b "
            "FROM g), "
            "sc AS (SELECT cents, abs(cum_a * n_b - cum_b * n_a) AS "
            "gap FROM g CROSS JOIN tot), "
            "best AS (SELECT min(ROW(-gap, cents)) AS pick FROM sc), "
            "f AS (SELECT CAST(-(pick[1]) AS HUGEINT) AS mg, "
            "pick[2] AS d_at_cents, n_a, n_b, maxy FROM best "
            "CROSS JOIN tot CROSS JOIN my), "
            "r AS (SELECT *, CAST(mg * 1000000 // "
            "(CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS d_micro, "
            "CAST(1358 * ((CASE WHEN (CAST(floor(sqrt(CAST((CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST((CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) AS DOUBLE))) AS BIGINT) + 1) <= (CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) THEN CAST(floor(sqrt(CAST((CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST((CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST((CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) AS DOUBLE))) AS BIGINT) > (CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) THEN CAST(floor(sqrt(CAST((CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST((CAST(n_a + n_b AS HUGEINT) * 1000000000000 // (CAST(n_a AS HUGEINT) * n_b)) AS DOUBLE))) AS BIGINT) END)) // 1000 AS BIGINT) "
            "AS crit_micro FROM f) "
            "SELECT CAST(maxy - 1 AS INTEGER) AS year_a, "
            "CAST(maxy AS INTEGER) AS year_b, n_a, n_b, d_micro, "
            "d_at_cents, crit_micro, d_micro > crit_micro AS drifted "
            "FROM r"
        ),
        "copurchase_eval_hitrate": (
            # leakage-free temporal backtest: train top-5 neighbor
            # lists on years < max, hit-rate against max-year pairs
            "WITH d AS (SELECT DISTINCT l_orderkey, l_partkey "
            "FROM lineitem), "
            "jy AS (SELECT d.l_orderkey, d.l_partkey, "
            "year(o_orderdate) AS y FROM d "
            "JOIN orders ON l_orderkey = o_orderkey), "
            "my AS (SELECT max(year(o_orderdate)) AS maxy FROM orders), "
            "tr AS (SELECT l_orderkey, l_partkey FROM jy CROSS JOIN my "
            "WHERE y < maxy), "
            "te AS (SELECT l_orderkey, l_partkey FROM jy CROSS JOIN my "
            "WHERE y = maxy), "
            "trbs AS (SELECT l_orderkey, count(*) AS sz FROM tr "
            "GROUP BY 1), "
            "trok AS (SELECT tr.l_orderkey, tr.l_partkey FROM tr "
            "JOIN trbs USING (l_orderkey) WHERE sz BETWEEN 2 AND 50), "
            "e AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
            "count(*) AS n_orders FROM trok a JOIN trok b "
            "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
            "GROUP BY 1, 2), "
            "dir AS (SELECT part_a AS src, part_b AS dst, n_orders "
            "FROM e UNION ALL SELECT part_b, part_a, n_orders FROM e), "
            "rkd AS (SELECT src, dst, row_number() OVER (PARTITION BY "
            "src ORDER BY n_orders DESC, dst) AS rk FROM dir), "
            "recs AS (SELECT DISTINCT least(src, dst) AS part_a, "
            "greatest(src, dst) AS part_b FROM rkd WHERE rk <= 5), "
            "tebs AS (SELECT l_orderkey, count(*) AS sz FROM te "
            "GROUP BY 1), "
            "teok AS (SELECT te.l_orderkey, te.l_partkey FROM te "
            "JOIN tebs USING (l_orderkey) WHERE sz BETWEEN 2 AND 50), "
            "tp AS (SELECT DISTINCT a.l_partkey AS part_a, "
            "b.l_partkey AS part_b FROM teok a JOIN teok b "
            "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), "
            "g AS (SELECT "
            "(SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM tr) "
            "AS n_train_orders, "
            "(SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM te) "
            "AS n_test_orders, "
            "(SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_test_pairs, "
            "(SELECT CAST(count(*) AS BIGINT) FROM tp "
            "JOIN recs USING (part_a, part_b)) AS n_hits) "
            "SELECT n_train_orders, n_test_orders, n_test_pairs, "
            "n_hits, "
            + _hud("n_hits", "n_test_pairs", 6)
            + " AS hit_rate FROM g"
        ),
        "term_burstiness": (
            # Fano factor var/mean per term over ALL docs (zeros
            # implicit): (N*sxx - sx^2)*1e6 // ((N-1)*sx)
            "WITH td AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS x FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) WHERE term <> '' GROUP BY 1, 2), g AS (SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(x) AS BIGINT) AS sx, sum(CAST(x AS HUGEINT) * x) AS sxx FROM td GROUP BY 1), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents) SELECT term, df, sx AS total_tf, CAST((CAST(n_docs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) * 1000000 // ((CAST(n_docs AS HUGEINT) - 1) * sx) AS BIGINT) AS fano_micro FROM g CROSS JOIN nd ORDER BY fano_micro DESC, term LIMIT 50"
        ),
        "revenue_cusum": (
            # clamp-at-zero CUSUM via the scan identity
            # S_t = cum_t - min prefix cum; mu/sd/k/h exact cents
            "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev FROM orders GROUP BY 1), st AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(rev) AS HUGEINT) AS s1, sum(CAST(rev AS HUGEINT) * rev) AS s2 FROM daily), ms AS (SELECT CAST(s1 // n AS BIGINT) AS mu, CAST((CASE WHEN (CAST(floor(sqrt(CAST(((n * s2 - s1 * s1) // (n * (n - 1))) AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(((n * s2 - s1 * s1) // (n * (n - 1))) AS DOUBLE))) AS BIGINT) + 1) <= ((n * s2 - s1 * s1) // (n * (n - 1))) THEN CAST(floor(sqrt(CAST(((n * s2 - s1 * s1) // (n * (n - 1))) AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(((n * s2 - s1 * s1) // (n * (n - 1))) AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(((n * s2 - s1 * s1) // (n * (n - 1))) AS DOUBLE))) AS BIGINT) > ((n * s2 - s1 * s1) // (n * (n - 1))) THEN CAST(floor(sqrt(CAST(((n * s2 - s1 * s1) // (n * (n - 1))) AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(((n * s2 - s1 * s1) // (n * (n - 1))) AS DOUBLE))) AS BIGINT) END) AS BIGINT) AS sd FROM st), g AS (SELECT day, rev, rev - mu - sd // 2 AS y, sd FROM daily CROSS JOIN ms), c AS (SELECT day, rev, sd, CAST(sum(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM g), c2 AS (SELECT *, CAST(least(min(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS run_min FROM c) SELECT strftime(day, '%Y-%m-%d') AS day, rev AS revenue_cents, cum - run_min AS cusum_cents, cum - run_min > sd * 4 AS alarm FROM c2 ORDER BY day"
        ),
        "feature_hash_stats": (
            # hashing-trick collision audit: portable-hash buckets
            # mod 2^12, count-of-counts histogram + load-0 row
            "WITH v AS (SELECT DISTINCT term FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) WHERE term <> ''), b AS (SELECT ('0x' || substr(md5(term), 1, 15))::BIGINT % 4096 AS bucket FROM v), loads AS (SELECT bucket, CAST(count(*) AS BIGINT) AS bucket_load FROM b GROUP BY 1), hist AS (SELECT bucket_load, CAST(count(*) AS BIGINT) AS n_buckets FROM loads GROUP BY 1), occ AS (SELECT CAST(sum(n_buckets) AS BIGINT) AS occ FROM hist) SELECT bucket_load, n_buckets, CAST(bucket_load * n_buckets AS BIGINT) AS n_terms FROM hist UNION ALL SELECT CAST(0 AS BIGINT), 4096 - occ, CAST(0 AS BIGINT) FROM occ ORDER BY bucket_load"
        ),
        "neyman_allocation": (
            # Neyman n_h ~ N_h*sigma_h with exact isqrt sd and the
            # Hamilton largest-remainder rounding, twice (optimal
            # and proportional for contrast)
            'WITH j AS (SELECT c_mktsegment AS segment, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM orders JOIN customer ON o_custkey = c_custkey), s AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(c) AS HUGEINT) AS s1, sum(CAST(c AS HUGEINT) * c) AS s2 FROM j GROUP BY 1), v0 AS (SELECT *, (CAST(n_rows AS HUGEINT) * s2 - s1 * s1) // (CAST(n_rows AS HUGEINT) * (n_rows - 1)) AS var FROM s), w AS (SELECT segment, n_rows, CAST((CASE WHEN (CAST(floor(sqrt(CAST(var AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(var AS DOUBLE))) AS BIGINT) + 1) <= var THEN CAST(floor(sqrt(CAST(var AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(var AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(var AS DOUBLE))) AS BIGINT) > var THEN CAST(floor(sqrt(CAST(var AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(var AS DOUBLE))) AS BIGINT) END) AS BIGINT) AS sd_cents FROM v0), w2 AS (SELECT *, n_rows * sd_cents AS weight FROM w), t1 AS (SELECT CAST(sum(weight) AS HUGEINT) AS wt1 FROM w2), g1 AS (SELECT w2.*, CAST(CAST(1000 AS HUGEINT) * weight // wt1 AS BIGINT) AS base1, CAST(CAST(1000 AS HUGEINT) * weight % wt1 AS BIGINT) AS rem1 FROM w2 CROSS JOIN t1), b1 AS (SELECT CAST(sum(base1) AS BIGINT) AS bs1 FROM g1), r1 AS (SELECT *, row_number() OVER (ORDER BY rem1 DESC, segment) AS rk1 FROM g1), a1 AS MATERIALIZED (SELECT r1.*, CAST(base1 + CASE WHEN rk1 <= 1000 - bs1 THEN 1 ELSE 0 END AS BIGINT) AS alloc_neyman FROM r1 CROSS JOIN b1), t2 AS (SELECT CAST(sum(n_rows) AS HUGEINT) AS wt2 FROM a1), g2 AS (SELECT a1.*, CAST(CAST(1000 AS HUGEINT) * n_rows // wt2 AS BIGINT) AS base2, CAST(CAST(1000 AS HUGEINT) * n_rows % wt2 AS BIGINT) AS rem2 FROM a1 CROSS JOIN t2), b2 AS (SELECT CAST(sum(base2) AS BIGINT) AS bs2 FROM g2), r2 AS (SELECT *, row_number() OVER (ORDER BY rem2 DESC, segment) AS rk2 FROM g2), a2 AS MATERIALIZED (SELECT r2.*, CAST(base2 + CASE WHEN rk2 <= 1000 - bs2 THEN 1 ELSE 0 END AS BIGINT) AS alloc_proportional FROM r2 CROSS JOIN b2) SELECT segment, n_rows, sd_cents, weight, alloc_neyman, alloc_proportional FROM a2 ORDER BY segment'
        ),
        "brand_price_elasticity": (
            # log-log OLS per brand over the 11-level discount
            # ladder: both axes through integer ln_micro, slope
            # sign-split at milli
            'WITH cells AS (SELECT p_brand AS brand, CAST(round(l_discount * 100) AS INTEGER) AS d, CAST(sum(l_quantity) AS BIGINT) AS q FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2 HAVING sum(l_quantity) >= 1), pts AS (SELECT brand, q, CAST(((((length(bin(((100 - d) // 1))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((100 - d) AS BIGINT) * 1073741824) // 1) >> (length(bin(((100 - d) // 1))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16) AS HUGEINT) AS x, CAST(((((length(bin((q // 1))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(q AS BIGINT) * 1073741824) // 1) >> (length(bin((q // 1))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16) AS HUGEINT) AS y FROM cells), g AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_points, CAST(sum(q) AS BIGINT) AS total_qty, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts GROUP BY 1), s AS (SELECT *, (CAST(n_points AS HUGEINT) * sxy - sx * sy) * 1000 AS num, CAST(n_points AS HUGEINT) * sxx - sx * sx AS den FROM g) SELECT brand, n_points, total_qty, CAST(CASE WHEN num < 0 THEN -((-num) // den) ELSE num // den END AS BIGINT) AS elasticity_milli FROM s WHERE n_points >= 2 ORDER BY brand'
        ),
        "bootstrap_mean_ci": (
            # deterministic Poisson bootstrap: ONE portable hash per
            # row, then the splitmix60 integer mixer per replicate
            # (r10 — mirrors functions.splitmix60 exactly), through
            # the SAME literal Poisson(1) CDF thresholds;
            # order-statistic CI over the 32 replicate means
            "WITH base AS (SELECT "
            "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))"
            "::BIGINT AS seed, "
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
            "AS c FROM orders), "
            "e AS (SELECT c, r, "
            + _smx("seed", "r")
            + " AS h FROM base "
            "CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS r) "
            "rr), "
            "wts AS (SELECT r, c, "
            "(CASE WHEN h >= 424136118829305344 THEN 1 ELSE 0 END + "
            "CASE WHEN h >= 848272237658610688 THEN 1 ELSE 0 END + "
            "CASE WHEN h >= 1060340297073263360 THEN 1 ELSE 0 END + "
            "CASE WHEN h >= 1131029650211480960 THEN 1 ELSE 0 END + "
            "CASE WHEN h >= 1148701988496035328 THEN 1 ELSE 0 END) "
            "AS w FROM e), "
            "reps AS (SELECT r, "
            + _hud("sum(w * c)", "sum(w)", 3)
            + " AS m FROM wts GROUP BY r), "
            "ms AS (SELECT m, row_number() OVER (ORDER BY m) AS rk "
            "FROM reps), "
            "f AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(c) AS BIGINT) AS sc FROM base) "
            "SELECT CAST(32 AS BIGINT) AS n_replicates, n_rows, "
            + _hud("sc", "n_rows", 3)
            + " AS mean_c3, "
            "(SELECT m FROM ms WHERE rk = 2) AS ci_lo_c3, "
            "(SELECT m FROM ms WHERE rk = 31) AS ci_hi_c3 FROM f"
        ),
        "ldiversity_profile": (
            # distinct l per (nation, year, month) QI class over the
            # bounded (QI, priority) grid; count-of-counts histogram
            "WITH cells AS (SELECT c_nationkey, "
            "CAST(year(o_orderdate) AS INTEGER) AS order_year, "
            "CAST(month(o_orderdate) AS INTEGER) AS order_month, "
            "o_orderpriority, CAST(count(*) AS BIGINT) AS n "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY 1, 2, 3, 4), "
            "cl AS (SELECT c_nationkey, order_year, order_month, "
            "CAST(sum(n) AS BIGINT) AS class_size, "
            "CAST(count(*) AS BIGINT) AS l_distinct "
            "FROM cells GROUP BY 1, 2, 3) "
            "SELECT l_distinct, CAST(count(*) AS BIGINT) AS n_classes, "
            "CAST(sum(class_size) AS BIGINT) AS n_rows, "
            "l_distinct < 3 AS at_risk FROM cl GROUP BY 1"
        ),
        "negative_sampling_table": (
            # freq^(3/4) as the deterministic isqrt(f*isqrt(f))
            # quantization; Hamilton largest-remainder slot allocation;
            # the f < 2^34 isqrt-domain guard is MIRRORED
            "WITH tf0 AS (SELECT term, CAST(count(*) AS BIGINT) AS freq "
            "FROM (SELECT unnest(string_split(text, ' ')) AS term "
            "FROM documents) WHERE term <> '' GROUP BY 1 "
            "ORDER BY freq DESC, term LIMIT 65536), "
            "tf AS (SELECT term, CASE WHEN freq >= 17179869184 THEN "
            "CAST(error('negative_sampling contract violated: freq >= "
            "2^34 exceeds the exact isqrt domain; pre-scale counts') "
            "AS BIGINT) ELSE freq END AS freq FROM tf0), "
            "w AS (SELECT term, freq, (CASE WHEN (CAST(floor(sqrt(CAST((freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST((freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) AS DOUBLE))) AS BIGINT) + 1) <= (freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) THEN CAST(floor(sqrt(CAST((freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST((freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST((freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) AS DOUBLE))) AS BIGINT) > (freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) THEN CAST(floor(sqrt(CAST((freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST((freq * ((CASE WHEN (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1) <= freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) > freq THEN CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) END))) AS DOUBLE))) AS BIGINT) END) AS weight "
            "FROM tf), "
            "tot AS (SELECT CAST(sum(weight) AS HUGEINT) AS w_total "
            "FROM w), "
            "g AS (SELECT term, freq, weight, "
            "CAST(CAST(65536 AS HUGEINT) * weight // w_total AS BIGINT) "
            "AS base_quota, "
            "CAST(CAST(65536 AS HUGEINT) * weight % w_total AS BIGINT) "
            "AS remainder FROM w CROSS JOIN tot), "
            "bs AS (SELECT CAST(sum(base_quota) AS BIGINT) AS base_sum "
            "FROM g), "
            "rkd AS (SELECT *, row_number() OVER (ORDER BY remainder "
            "DESC, term) AS rk FROM g) "
            "SELECT term, freq, weight, base_quota, "
            "CAST(base_quota + CASE WHEN rk <= 65536 - base_sum THEN 1 "
            "ELSE 0 END AS BIGINT) AS slots "
            "FROM rkd CROSS JOIN bs ORDER BY slots DESC, term LIMIT 50"
        ),
        "er_blocking_quality": (
            # reduction ratio + pair completeness of the first-token
            # blocking vs the levenshtein-1..4 rule over the bounded
            # lowest-partkey sample (all-pairs is audit-only)
            "WITH s AS (SELECT p_partkey, p_name, "
            "string_split(p_name, ' ')[1] AS block FROM part "
            "ORDER BY p_partkey LIMIT 500), "
            "pr AS (SELECT CASE WHEN a.block = b.block THEN 1 ELSE 0 "
            "END AS blocked, CASE WHEN levenshtein(a.p_name, b.p_name) "
            "BETWEEN 1 AND 4 THEN 1 ELSE 0 END AS t "
            "FROM s a JOIN s b ON a.p_partkey < b.p_partkey), "
            "g AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_total, "
            "CAST(sum(blocked) AS BIGINT) AS n_candidates, "
            "CAST(sum(t) AS BIGINT) AS n_true, "
            "CAST(sum(blocked * t) AS BIGINT) AS n_true_blocked FROM pr) "
            "SELECT CAST(500 AS BIGINT) AS n_sample, n_pairs_total, "
            "n_candidates, n_true, n_true_blocked, "
            + _hud("(n_pairs_total - n_candidates)", "n_pairs_total", 6)
            + " AS reduction_ratio, CASE WHEN n_true > 0 THEN "
            + _hud("n_true_blocked", "n_true", 6)
            + " ELSE NULL END AS pair_completeness FROM g"
        ),
        "status_bitmap_algebra": (
            # 32-bit-in-int64 bitmap words per (status, key>>5) via
            # bit_or; algebra is word-grain popcount sums
            "WITH w AS (SELECT o_orderstatus AS status, "
            "o_orderkey // 32 AS word_id, "
            "bit_or(CAST(1 AS BIGINT) << CAST(o_orderkey % 32 AS "
            "INTEGER)) AS w FROM orders GROUP BY 1, 2) "
            "SELECT a.status AS status_a, b.status AS status_b, "
            "CAST(count(*) AS BIGINT) AS n_common_words, "
            "CAST(sum(bit_count(a.w)) AS BIGINT) AS pop_a_common, "
            "CAST(sum(bit_count(b.w)) AS BIGINT) AS pop_b_common, "
            "CAST(sum(bit_count(a.w & b.w)) AS BIGINT) AS pop_and "
            "FROM w a JOIN w b ON a.word_id = b.word_id "
            "AND a.status <= b.status "
            "GROUP BY 1, 2 ORDER BY status_a, status_b"
        ),
        "part_price_band_join": (
            # the oracle PROVES the bucket decomposition lossless: a
            # direct theta band self-join must yield the same pairs
            "WITH p AS (SELECT p_partkey, p_type, "
            "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
            "AS cents FROM part) "
            "SELECT a.p_partkey AS part_a, b.p_partkey AS part_b, "
            "a.p_type AS p_type, a.cents AS cents_a, b.cents AS cents_b, "
            "abs(a.cents - b.cents) AS diff_cents "
            "FROM p a JOIN p b ON a.p_type = b.p_type "
            "AND a.p_partkey < b.p_partkey "
            "AND abs(a.cents - b.cents) <= 100 "
            "ORDER BY diff_cents, part_a, part_b LIMIT 100"
        ),
        "shard_rendezvous_stats": (
            # highest-random-weight assignment: per doc, argmax of the
            # portable md5 hash over shard ids 0..7 and 0..8; the
            # max(ROW(h, s)) struct compare mirrors Spark's array_max
            "WITH u AS (SELECT doc_id, s, "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
            "CAST(s AS VARCHAR)), 1, 15))::BIGINT AS h "
            "FROM documents CROSS JOIN "
            "(SELECT unnest(generate_series(0, 8)) AS s) sh), "
            "a AS (SELECT doc_id, "
            "max(CASE WHEN s < 8 THEN ROW(h, s) END) AS p8, "
            "max(ROW(h, s)) AS p9 FROM u GROUP BY 1), "
            "b AS (SELECT CAST(p8[2] AS INTEGER) AS shard8, "
            "CAST(p9[2] AS INTEGER) AS shard9 FROM a), "
            "g8 AS (SELECT shard8 AS shard, CAST(count(*) AS BIGINT) "
            "AS n_docs_8 FROM b GROUP BY 1), "
            "g9 AS (SELECT shard9 AS shard, CAST(count(*) AS BIGINT) "
            "AS n_docs_9, CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 "
            "ELSE 0 END) AS BIGINT) AS n_arrivals FROM b GROUP BY 1) "
            "SELECT shard, COALESCE(n_docs_8, 0) AS n_docs_8, "
            "COALESCE(n_docs_9, 0) AS n_docs_9, "
            "COALESCE(n_arrivals, 0) AS n_arrivals "
            "FROM g8 FULL OUTER JOIN g9 USING (shard) ORDER BY shard"
        ),
        "zone_map_pruning": (
            # year-grain zone maps + per-predicate conditional match
            # counts in ONE aggregate; pruned decided from the map only
            "WITH c AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS "
            "order_year, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * "
            "100 AS BIGINT) AS c FROM orders), "
            "zm AS (SELECT order_year, CAST(count(*) AS BIGINT) AS "
            "n_rows, min(c) AS min_cents, max(c) AS max_cents, "
            "CAST(sum(CASE WHEN c BETWEEN 45000000 AND 50000000 "
            "THEN 1 ELSE 0 END) AS BIGINT) AS m_top, "
            "CAST(sum(CASE WHEN c BETWEEN 20000000 AND 30000000 "
            "THEN 1 ELSE 0 END) AS BIGINT) AS m_mid, "
            "CAST(sum(CASE WHEN c BETWEEN 0 AND 100000 THEN 1 "
            "ELSE 0 END) AS BIGINT) AS m_micro FROM c GROUP BY 1), "
            "p AS (SELECT * FROM (VALUES "
            "('top_decile_value', 45000000, 50000000), "
            "('mid_band_value', 20000000, 30000000), "
            "('micro_orders', 0, 100000)) AS v(predicate, lo, hi)) "
            "SELECT predicate, order_year, n_rows, min_cents, "
            "max_cents, CAST(CASE WHEN max_cents < lo OR min_cents > "
            "hi THEN 1 ELSE 0 END AS INTEGER) AS pruned, "
            "CASE predicate WHEN 'top_decile_value' THEN m_top "
            "WHEN 'mid_band_value' THEN m_mid ELSE m_micro END "
            "AS n_matches FROM zm CROSS JOIN p "
            "ORDER BY predicate, order_year"
        ),
        "segment_price_ttest": (
            # Welch t^2 from integer sufficient statistics (n, sum
            # cents, sum cents^2): mean gap quantized once at
            # milli-cents (abs before //, so flooring == truncating),
            # variance/n terms at milli-cents^2, Welch df at milli;
            # the se2 < 3e17 DECIMAL(38,0) guard is MIRRORED so both
            # engines fail loudly, never diverge
            "WITH s AS (SELECT c_mktsegment AS seg, "
            "CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
            "AS BIGINT)) AS HUGEINT) AS s1, "
            "sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
            "AS BIGINT) AS HUGEINT) * CAST(CAST(o_totalprice AS "
            "DECIMAL(12,2)) * 100 AS BIGINT)) AS s2 "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY 1), "
            "p AS (SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS n_a, "
            "b.n AS n_b, a.s1 AS s1_a, b.s1 AS s1_b, a.s2 AS s2_a, "
            "b.s2 AS s2_b FROM s a JOIN s b ON a.seg < b.seg), "
            "t AS (SELECT *, "
            "(CAST(n_a AS HUGEINT) * s2_a - s1_a * s1_a) * 1000 // "
            "(CAST(n_a AS HUGEINT) * n_a * (n_a - 1)) AS ta, "
            "(CAST(n_b AS HUGEINT) * s2_b - s1_b * s1_b) * 1000 // "
            "(CAST(n_b AS HUGEINT) * n_b * (n_b - 1)) AS tb FROM p), "
            "g AS (SELECT *, CASE WHEN ta + tb >= 300000000000000000 "
            "THEN CAST(error('ttest contract violated: se2_milli2 >= "
            "3e17 exceeds the exact DECIMAL(38,0) square range; "
            "rescale upstream') AS HUGEINT) ELSE ta + tb END AS se2g, "
            "abs(s1_a * n_b - s1_b * n_a) * 1000 // "
            "(CAST(n_a AS HUGEINT) * n_b) AS dm FROM t) "
            "SELECT seg_a, seg_b, n_a, n_b, "
            "CAST(dm AS BIGINT) AS dm_milli_abs, "
            "CAST(dm * dm * 1000 // se2g AS BIGINT) AS t2_micro, "
            "CAST(se2g * se2g * 1000 // "
            "(ta * ta // (n_a - 1) + tb * tb // (n_b - 1)) AS BIGINT) "
            "AS df_milli FROM g ORDER BY seg_a, seg_b"
        ),
        "kaplan_meier_repeat": (
            # KM time-to-repeat-purchase in exact log space: death =
            # second order at t = days(first, second); no second order
            # => right-censored at the corpus max order date; ln S as
            # a running sum of -ln_micro(n, n-d); NULL once n = d
            "WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) "
            "AS d, o_orderkey FROM orders), "
            "rk AS (SELECT o_custkey, d, row_number() OVER (PARTITION "
            "BY o_custkey ORDER BY d, o_orderkey) AS rn FROM o), "
            "f AS (SELECT o_custkey, min(CASE WHEN rn = 1 THEN d END) "
            "AS d1, min(CASE WHEN rn = 2 THEN d END) AS d2 FROM rk "
            "GROUP BY 1), "
            "gm AS (SELECT max(CAST(o_orderdate AS DATE)) AS gmax "
            "FROM orders), "
            "u AS (SELECT CAST(CASE WHEN d2 IS NOT NULL THEN "
            "date_diff('day', d1, d2) ELSE date_diff('day', d1, gmax) "
            "END AS INTEGER) AS t_days, CASE WHEN d2 IS NULL THEN 1 "
            "ELSE 0 END AS cen FROM f CROSS JOIN gm), "
            "grid AS (SELECT t_days, CAST(sum(1 - cen) AS BIGINT) AS "
            "n_deaths, CAST(sum(cen) AS BIGINT) AS n_censored "
            "FROM u GROUP BY 1), "
            "r AS (SELECT *, CAST(sum(n_deaths + n_censored) OVER "
            "(ORDER BY t_days DESC ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW) AS BIGINT) AS n_risk FROM grid), "
            "st AS (SELECT *, CASE WHEN n_deaths > 0 AND "
            "n_risk - n_deaths >= 1 THEN -("
            + _lnm("n_risk", "(n_risk - n_deaths)")
            + ") ELSE 0 END AS step, CASE WHEN n_deaths > 0 AND "
            "n_risk = n_deaths THEN 1 ELSE 0 END AS dead FROM r), "
            "c AS (SELECT t_days, n_risk, n_deaths, n_censored, "
            "CAST(sum(step) OVER (ORDER BY t_days ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS lnsum, "
            "max(dead) OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS cumdead FROM st) "
            "SELECT t_days, n_risk, n_deaths, n_censored, "
            "CASE WHEN cumdead = 1 THEN NULL ELSE lnsum END "
            "AS ln_surv_micro FROM c WHERE n_deaths > 0 "
            "ORDER BY t_days"
        ),
        "copurchase_cosine_top": (
            # cosine link prediction surfaced as the monotone exact
            # rational cos^2 = n_common^2 / (deg_a * deg_b), half-up 6dp
            "WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
            "bs AS (SELECT l_orderkey, count(*) AS sz FROM d GROUP BY 1), "
            "ok AS (SELECT d.l_orderkey, d.l_partkey FROM d "
            "JOIN bs USING (l_orderkey) WHERE sz BETWEEN 2 AND 50), "
            "e AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
            "count(*) AS n_common FROM ok a JOIN ok b "
            "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
            "GROUP BY 1, 2), "
            "deg AS (SELECT l_partkey, count(*) AS dg FROM d GROUP BY 1), "
            "j AS (SELECT part_a, part_b, n_common, da.dg AS deg_a, "
            "db.dg AS deg_b FROM e JOIN deg da ON da.l_partkey = part_a "
            "JOIN deg db ON db.l_partkey = part_b) "
            "SELECT part_a, part_b, n_common, deg_a, deg_b, "
            + _hud("(n_common * n_common)", "(deg_a * deg_b)", 6)
            + " AS cosine2 FROM j "
            "ORDER BY cosine2 DESC, part_a, part_b LIMIT 50"
        ),
        "user_activity_streaks": (
            # gaps-and-islands: day - row_number() island key; longest
            # streak's start via the same min(-len, start) tie-break
            "WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d "
            "FROM events), "
            "g AS (SELECT user_id, d, d - CAST(row_number() OVER "
            "(PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp "
            "FROM days), "
            "s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len, "
            "min(d) AS start FROM g GROUP BY 1, 2), "
            "u AS (SELECT user_id, CAST(sum(len) AS BIGINT) "
            "AS n_active_days, CAST(count(*) AS BIGINT) AS n_streaks, "
            "max(len) AS longest_streak, "
            "min(ROW(-len, start)) AS pick FROM s GROUP BY 1) "
            "SELECT user_id, n_active_days, n_streaks, longest_streak, "
            "strftime(pick[2], '%Y-%m-%d') AS longest_start FROM u "
            "ORDER BY longest_streak DESC, n_active_days DESC, user_id "
            "LIMIT 100"
        ),
        "user_stickiness": (
            # WAU over trailing-4-week MAU; the vote explode mirrors
            # the Spark side's bounded sequence fan-out
            "WITH uw AS (SELECT DISTINCT user_id, "
            "epoch_us(ts) // 86400000000 // 7 AS week FROM events), "
            "wau AS (SELECT week, CAST(count(*) AS BIGINT) AS wau "
            "FROM uw GROUP BY 1), "
            "votes AS (SELECT user_id, unnest(generate_series(week, "
            "week + 3)) AS week FROM uw), "
            "mau AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) "
            "AS mau FROM votes GROUP BY 1) "
            "SELECT week, wau, mau, "
            + _hud("wau", "mau", 6)
            + " AS stickiness FROM wau JOIN mau USING (week)"
        ),
        "events_rate_capped": (
            # deterministic first-K-per-(user, hour) throttle
            "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us "
            "FROM events), "
            "h AS (SELECT event_id, user_id, us, "
            "us - us % 3600000000 AS hour_us FROM e), "
            "r AS (SELECT event_id, user_id, hour_us, "
            "CAST(row_number() OVER (PARTITION BY user_id, hour_us "
            "ORDER BY us, event_id) AS INTEGER) AS rk FROM h) "
            "SELECT event_id, user_id, hour_us, rk FROM r WHERE rk <= 5"
        ),
        "user_behavior_entropy": (
            # per-user Markov conditional entropy in exact micro-nats:
            # same lag pairing, same fixed-point ln_micro terms, same
            # exact half-up final division
            "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, "
            "event_id FROM events), "
            "p AS (SELECT user_id, lag(event_type) OVER (PARTITION BY "
            "user_id ORDER BY us, event_id) AS from_type, "
            "event_type AS to_type FROM e), "
            "c AS (SELECT user_id, from_type, to_type, "
            "CAST(count(*) AS BIGINT) AS n_ij FROM p "
            "WHERE from_type IS NOT NULL GROUP BY 1, 2, 3), "
            "m AS (SELECT user_id, from_type, CAST(sum(n_ij) AS BIGINT) "
            "AS n_i FROM c GROUP BY 1, 2), "
            "j AS (SELECT c.user_id, n_ij, n_i FROM c "
            "JOIN m USING (user_id, from_type)), "
            "g AS (SELECT user_id, CAST(sum(n_ij) AS BIGINT) "
            "AS n_transitions, "
            "CAST(sum(n_ij * (" + _lnm("n_i", "n_ij") + ")) AS BIGINT) "
            "AS tot FROM j GROUP BY 1) "
            "SELECT user_id, n_transitions, "
            + _hud("tot", "n_transitions", 0)
            + " AS entropy_micro_nats FROM g"
        ),
        "user_modal_event": (
            # the window formulation proves the Spark side's
            # sort-free min(struct(-n, type)) aggregate equivalent
            "WITH c AS (SELECT user_id, event_type, "
            "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), "
            "t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_total "
            "FROM c GROUP BY 1), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id "
            "ORDER BY n DESC, event_type) AS rk FROM c) "
            "SELECT user_id, event_type AS modal_event_type, "
            "n AS n_modal, n_total FROM r JOIN t USING (user_id) "
            "WHERE rk = 1"
        ),
        "latest_event_per_user": (
            "WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, "
            "event_type, CAST(value AS DECIMAL(12,2)) AS v FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id "
            "ORDER BY us DESC, event_id DESC) AS rn FROM e) "
            "SELECT user_id, us AS last_us, event_id AS last_event_id, "
            "event_type AS last_event_type, CAST(v AS DOUBLE) AS last_value "
            "FROM r WHERE rn = 1"
        ),
        "purchase_error_burst": (
            "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us, "
            "CAST(value AS DECIMAL(12,2)) AS v FROM events), "
            "p AS (SELECT user_id, event_id, us FROM e "
            "WHERE event_type = 'purchase') "
            "SELECT p.user_id, p.event_id, "
            "CAST(count(r.us) AS BIGINT) AS n_errors_10min, "
            "CAST(round(coalesce(sum(r.v), CAST(0 AS DECIMAL(12,2))), 2) "
            "AS DOUBLE) AS error_value_10min "
            "FROM p LEFT JOIN e r ON r.user_id = p.user_id "
            "AND r.event_type = 'error' "
            "AND r.us > p.us AND r.us <= p.us + 600000000 "
            "GROUP BY p.user_id, p.event_id"
        ),
        "embedding_quantize_int8": (
            # per-dim affine int8 quantization in exact integer math:
            # micro-unit widening, integer min/max profile, half-up
            # code/de-quantize (HUGEINT), md5 over dim-ordered codes
            "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
            "prof AS (SELECT dim, min(q) AS minq, max(q) AS maxq "
            "FROM ex GROUP BY dim), "
            "coded AS (SELECT vec_id, ex.dim AS dim, q, minq, maxq, "
            "CASE WHEN maxq = minq THEN 0 ELSE CAST("
            + _hud("((q - minq) * 255)", "(maxq - minq)", 0)
            + " AS BIGINT) END AS code0 "
            "FROM ex JOIN prof ON prof.dim = ex.dim), "
            "s AS (SELECT vec_id, dim, code0 - 128 AS code, "
            "abs(q - (minq + CASE WHEN maxq = minq THEN 0 ELSE CAST("
            + _hud("(code0 * (maxq - minq))", "255", 0)
            + " AS BIGINT) END)) AS err FROM coded) "
            "SELECT vec_id, CAST(count(*) AS INTEGER) AS n_dims, "
            "CAST(sum(err) AS BIGINT) AS l1_err_micro, "
            "CAST(max(err) AS BIGINT) AS max_err_micro, "
            "md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim)) "
            "AS codes_md5 FROM s GROUP BY vec_id"
        ),
        "revenue_gini": (
            # exact rational Gini over ascending spend ranks (oracle
            # side may sort); ties by custkey, value tie-invariant
            "WITH sp AS (SELECT c_mktsegment AS segment, o_custkey, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) "
            "AS cents FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY 1, 2), "
            "r AS (SELECT segment, cents, row_number() OVER "
            "(PARTITION BY segment ORDER BY cents, o_custkey) AS i FROM sp), "
            "a AS (SELECT segment, count(*) AS n, sum(cents) AS total_cents, "
            "sum(CAST(cents AS HUGEINT) * 2 * i) AS s2i FROM r GROUP BY 1) "
            "SELECT segment, CAST(n AS BIGINT) AS n_customers, "
            "CAST(total_cents AS BIGINT) AS total_cents, "
            + _hud("(s2i - (n + 1) * CAST(total_cents AS HUGEINT))",
                   "(CAST(n AS HUGEINT) * total_cents)", 6)
            + " AS gini FROM a"
        ),
        "orders_zorder_keys": (
            # 16-bit range normalization + Morton bit interleave, all
            # integer; epoch-us day values keep both engines identical
            "WITH o AS (SELECT o_orderkey, o_custkey AS ck, "
            "epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS d FROM orders), "
            "bd AS (SELECT min(ck) AS ck0, max(ck) AS ck1, min(d) AS d0, "
            "max(d) AS d1 FROM o), "
            "sc AS (SELECT o_orderkey, "
            "((ck - ck0) * 65535) // greatest(ck1 - ck0, 1) AS zx, "
            "((d - d0) * 65535) // greatest(d1 - d0, 1) AS zy FROM o, bd) "
            "SELECT o_orderkey, CAST(zx AS BIGINT) AS zx, "
            "CAST(zy AS BIGINT) AS zy, "
            "CAST(list_sum(list_transform(range(0, 16), b -> "
            "(((zx >> b) & 1) << (2 * b)) + (((zy >> b) & 1) << (2 * b + 1))"
            ")) AS BIGINT) AS zkey FROM sc"
        ),
        "embedding_random_projection": (
            # Achlioptas +-1 JL sketch: md5-parity sign matrix, exact
            # integer projection sums
            "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
            "sg AS (SELECT CAST(k.i AS INTEGER) AS k, "
            "CAST(d.i AS INTEGER) AS dim, "
            "((('0x' || substr(md5('jl:' || CAST(k.i AS VARCHAR) || ':' || "
            "CAST(d.i AS VARCHAR)), 1, 15))::BIGINT % 2) * 2 - 1) AS s "
            "FROM range(1, 17) k(i), range(1, 65) d(i)) "
            "SELECT vec_id, sg.k AS out_dim, "
            "CAST(sum(sg.s * ex.q) AS BIGINT) AS value "
            "FROM ex JOIN sg ON sg.dim = ex.dim GROUP BY 1, 2"
        ),
        "pca_power_iteration": (
            # centered integer Gram + 5 unrolled power-iteration
            # rounds with L-inf renormalization; canonical sign
            "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
            "nn AS (SELECT count(*) AS n FROM embeddings), "
            "msum AS (SELECT dim, sum(q) AS m FROM ex GROUP BY 1), "
            "cx AS (SELECT vec_id, ex.dim AS dim, "
            "CAST(n AS HUGEINT) * q - m AS c "
            "FROM ex JOIN msum USING (dim), nn), "
            "gram AS (SELECT a.dim AS di, b.dim AS dj, sum(a.c * b.c) "
            "AS val FROM cx a JOIN cx b ON a.vec_id = b.vec_id "
            "GROUP BY 1, 2), "
            "r0 AS (SELECT dim, CAST(1 AS BIGINT) AS v FROM msum), "
            "w1 AS (SELECT g.dj AS dim, sum(g.val * r0.v) AS w FROM gram g JOIN r0 ON r0.dim = g.di GROUP BY 1), "
            "m1 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w1), "
            "r1 AS (SELECT dim, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END) * ((abs(w) * 1048576) // mx) AS BIGINT) AS v FROM w1, m1), "
            "w2 AS (SELECT g.dj AS dim, sum(g.val * r1.v) AS w FROM gram g JOIN r1 ON r1.dim = g.di GROUP BY 1), "
            "m2 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w2), "
            "r2 AS (SELECT dim, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END) * ((abs(w) * 1048576) // mx) AS BIGINT) AS v FROM w2, m2), "
            "w3 AS (SELECT g.dj AS dim, sum(g.val * r2.v) AS w FROM gram g JOIN r2 ON r2.dim = g.di GROUP BY 1), "
            "m3 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w3), "
            "r3 AS (SELECT dim, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END) * ((abs(w) * 1048576) // mx) AS BIGINT) AS v FROM w3, m3), "
            "w4 AS (SELECT g.dj AS dim, sum(g.val * r3.v) AS w FROM gram g JOIN r3 ON r3.dim = g.di GROUP BY 1), "
            "m4 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w4), "
            "r4 AS (SELECT dim, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END) * ((abs(w) * 1048576) // mx) AS BIGINT) AS v FROM w4, m4), "
            "w5 AS (SELECT g.dj AS dim, sum(g.val * r4.v) AS w FROM gram g JOIN r4 ON r4.dim = g.di GROUP BY 1), "
            "m5 AS (SELECT greatest(max(abs(w)), 1) AS mx FROM w5), "
            "r5 AS (SELECT dim, CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END) * ((abs(w) * 1048576) // mx) AS BIGINT) AS v FROM w5, m5), "
            
            "pick AS (SELECT v FROM r5 ORDER BY abs(v) DESC, dim LIMIT 1), "
            "sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s "
            "FROM pick) "
            "SELECT dim, CAST(v * s AS BIGINT) AS v FROM r5, sgn"
        ),
        "kmeans_round": (
            # one exact Lloyd round: md5-hash-seeded init, integer-L2
            # argmin assignment (tie -> smallest cluster), exact integer
            # centroid update with the shifted half-up mean
            "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
            "sd AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY "
            "('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))"
            "::BIGINT, vec_id) AS INTEGER) AS cluster_id FROM embeddings "
            "ORDER BY ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), "
            "1, 15))::BIGINT, vec_id LIMIT 8), "
            "se AS (SELECT cluster_id, dim, q AS c FROM sd "
            "JOIN ex USING (vec_id)), "
            "d AS (SELECT ex.vec_id AS vec_id, se.cluster_id AS cluster_id, "
            "sum((ex.q - se.c) * (ex.q - se.c)) AS dist "
            "FROM ex JOIN se ON se.dim = ex.dim GROUP BY 1, 2), "
            "a AS (SELECT vec_id, cluster_id FROM "
            "(SELECT vec_id, cluster_id, row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d) "
            "WHERE rn = 1) "
            "SELECT a.cluster_id AS cluster_id, ex.dim AS dim, "
            "count(*) AS n_members, CAST(sum(q) AS BIGINT) AS sum_q, "
            "CAST(CAST("
            + _hud("(sum(q) + count(*) * 4000000)", "count(*)", 0)
            + " AS BIGINT) - 4000000 AS BIGINT) AS centroid_micro "
            "FROM ex JOIN a ON a.vec_id = ex.vec_id GROUP BY 1, 2"
        ),
        "embedding_centroids": (
            "WITH ex AS (SELECT label, CAST(t.i AS INTEGER) AS dim, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q "
            "FROM embeddings, range(1, 65) t(i)) "  # fixture d=64 fixed
            "SELECT label, dim, count(*) AS n_vectors, "
            "CAST(sum(q) AS BIGINT) AS sum_q, "
            "CAST(sum(q) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) "
            "AS centroid FROM ex GROUP BY label, dim"
        ),
        "label_embedding_scatter": (
            # SQL twin of the applyInPandas integer kernel: scatter =
            # sum over dims of (n*sum(q^2) - sum(q)^2), q = millionths
            "WITH ex AS (SELECT label, CAST(t.i AS INTEGER) AS dim, "
            "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS q "
            "FROM embeddings, range(1, 65) t(i)), "
            "per AS (SELECT label, dim, count(*) AS n, "
            "CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss "
            "FROM ex GROUP BY label, dim) "
            "SELECT label, CAST(max(n) AS BIGINT) AS n_vectors, "
            "CAST(sum(n * ss - s * s) AS BIGINT) AS scatter_q "
            "FROM per GROUP BY label"
        ),
        "events_sliding": (
            "SELECT win_start_us, count(*) AS n_events, "
            f"{_avg_cents('value', 6)} AS avg_value FROM ("
            "SELECT ((epoch_us(ts) // 1800000000) - k) * 1800000000 AS win_start_us, "
            "value FROM events, (VALUES (0::BIGINT), (1::BIGINT)) AS s(k)) "
            "GROUP BY win_start_us"
        ),
        "events_sessions": (
            "WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events), "
            "m AS (SELECT user_id, us, value, CASE WHEN "
            "lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL "
            "OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 900000000 "
            "THEN 1 ELSE 0 END AS brk FROM e), "
            "s AS (SELECT user_id, us, value, sum(brk) OVER "
            "(PARTITION BY user_id ORDER BY us "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m) "
            "SELECT user_id, min(us) AS session_start_us, count(*) AS n_events, "
            "CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) "
            "AS session_value FROM s GROUP BY user_id, sid"
        ),
        "events_json_props": (
            "WITH e AS (SELECT event_type, "
            "json_extract_string(props, '$.k')::INTEGER AS k FROM events) "
            "SELECT event_type, count(k) AS n_with_k, "
            + _hud("sum(k)", "count(k)", 6)
            + " AS avg_k, "
            "max(k) AS max_k FROM e GROUP BY event_type"
        ),
        "user_activity": (
            "SELECT user_id, count(*) AS n_events, "
            "min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us, "
            "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_purchase, "
            "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_error, "
            "CAST(round(sum(CASE WHEN event_type = 'purchase' "
            "THEN CAST(value AS DECIMAL(12,2)) "
            "ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) "
            "AS purchase_value "
            "FROM events GROUP BY user_id"
        ),
        "event_funnel": (
            "WITH f AS (SELECT user_id, "
            "min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view, "
            "min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click, "
            "min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase "
            "FROM events GROUP BY user_id), "
            "s AS (SELECT user_id, t_view IS NOT NULL AS s_view, "
            "t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view AS s_click "
            "FROM f), "
            "s2 AS (SELECT s.user_id, s_view, s_click, "
            "s_click AND t_purchase IS NOT NULL AND t_purchase > t_click AS s_purchase "
            "FROM s JOIN f ON s.user_id = f.user_id) "
            "SELECT count(*) AS n_users, "
            "CAST(sum(CASE WHEN s_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view, "
            "CAST(sum(CASE WHEN s_click THEN 1 ELSE 0 END) AS BIGINT) AS n_click, "
            "CAST(sum(CASE WHEN s_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase "
            "FROM s2"
        ),
        "view_to_purchase_lag": (
            # forward as-of: for each view, the user's earliest
            # purchase at-or-after it (inclusive >=; purchase ties at
            # one instant collapse to the min event_id, same as Spark)
            "WITH e AS (SELECT user_id, event_id, event_type, "
            "epoch_us(ts) AS us FROM events), "
            "v AS (SELECT user_id, event_id, us FROM e "
            "WHERE event_type = 'view'), "
            "p AS (SELECT user_id, us AS p_us, min(event_id) AS pid "
            "FROM e WHERE event_type = 'purchase' GROUP BY 1, 2), "
            "m AS (SELECT v.user_id, v.event_id, v.us, "
            "min(p.p_us) AS p_us FROM v JOIN p ON p.user_id = v.user_id "
            "AND p.p_us >= v.us GROUP BY 1, 2, 3) "
            "SELECT m.user_id, m.event_id, p.pid AS purchase_event_id, "
            "m.p_us - m.us AS us_to_purchase FROM m "
            "JOIN p ON p.user_id = m.user_id AND p.p_us = m.p_us"
        ),
        "purchase_time_since_view": (
            "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us "
            "FROM events), "
            "p AS (SELECT user_id, event_id, us FROM e "
            "WHERE event_type = 'purchase'), "
            "v AS (SELECT user_id, us AS v_us, min(event_id) AS view_event_id "
            "FROM e WHERE event_type = 'view' GROUP BY user_id, us) "
            "SELECT p.user_id, p.event_id, v.view_event_id, "
            "p.us - v.v_us AS us_since_view "
            "FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.us >= v.v_us"
        ),
        "event_transitions": (
            "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id "
            "FROM events), "
            "p AS (SELECT lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY us, event_id) AS from_type, "
            "event_type AS to_type FROM e) "
            "SELECT from_type, to_type, count(*) AS n_transitions FROM p "
            "WHERE from_type IS NOT NULL GROUP BY from_type, to_type"
        ),
        "order_interval_overlaps": (
            # interval overlap join: per-customer order pairs whose
            # [orderdate, max shipdate] windows intersect; date - date
            # is exact integer days on both engines
            "WITH ends AS (SELECT l_orderkey, "
            "max(CAST(l_shipdate AS DATE)) AS e FROM lineitem "
            "GROUP BY 1), "
            "iv AS (SELECT o_orderkey, o_custkey, "
            "CAST(o_orderdate AS DATE) AS s, "
            "greatest(CAST(o_orderdate AS DATE), e) AS e FROM orders "
            "JOIN ends ON o_orderkey = l_orderkey) "
            "SELECT a.o_custkey AS custkey, "
            "a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b, "
            "CAST(least(a.e, b.e) - greatest(a.s, b.s) + 1 AS INTEGER) "
            "AS overlap_days "
            "FROM iv a JOIN iv b ON a.o_custkey = b.o_custkey "
            "AND a.o_orderkey < b.o_orderkey "
            "AND a.s <= b.e AND b.s <= a.e"
        ),
        "events_preceding_5min": (
            "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, "
            "CAST(value AS DECIMAL(12,2)) AS v FROM events) "
            "SELECT user_id, event_id, "
            "CAST(count(*) OVER w AS BIGINT) AS n_prev_5min, "
            "CAST(round(coalesce(sum(v) OVER w, 0), 2) AS DOUBLE) "
            "AS value_prev_5min "
            "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us "
            "RANGE BETWEEN 300000000 PRECEDING AND 1 PRECEDING)"
        ),
        "user_type_pivot": (
            "SELECT user_id, "
            + ", ".join(
                f"CAST(sum(CASE WHEN event_type = '{s}' THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS n_{s}"
                for s in ["view", "click", "purchase", "signup", "error"]
            )
            + " FROM events GROUP BY user_id"
        ),
        "incremental_join_state": (
            # v2 join view recomputed from scratch — the maintained
            # view (v1 join + change-feed application) must hash-match
            f"WITH {_MERGE_CTES} "
            "SELECT f.o_orderkey, f.order_year, f.o_orderstatus, "
            "CAST(round(CAST(f.o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) "
            "AS o_totalprice, c.c_name, c.c_mktsegment "
            "FROM final f JOIN customer c ON f.o_custkey = c.c_custkey"
        ),
        "merge_upsert_state": (
            f"WITH {_MERGE_CTES} "
            "SELECT * FROM final"
        ),
        "merge_changes_feed": (
            f"WITH {_MERGE_CTES} "
            "SELECT 'insert' AS change_type, * FROM "
            "(SELECT * FROM final EXCEPT ALL SELECT * FROM base) "
            "UNION ALL "
            "SELECT 'delete' AS change_type, * FROM "
            "(SELECT * FROM base EXCEPT ALL SELECT * FROM final)"
        ),
        # the oracle recomputes the v2 aggregate from scratch; the Spark
        # side maintains it incrementally from the change feed — a hash
        # match proves incremental ≡ recompute
        "incremental_agg_state": (
            f"WITH {_MERGE_CTES} "
            "SELECT order_year, o_orderstatus, "
            "count(*) AS n_orders, "
            "CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) "
            "AS DOUBLE) AS total_price "
            "FROM final GROUP BY 1, 2"
        ),
        "quality_report": _quality_report_sql(),
        "hll_distinct": " UNION ALL ".join(
            _hll_sql_one(t, c) for t, c in quality.HLL_TARGETS
        ),
        "hll_distinct_streamed": _hll_sql_one("documents", "doc_id"),
        "hll_users_by_event_type": _hll_group_sql(
            "events", "user_id", "event_type"
        ),
        "hll_set_algebra": _hll_pair_sql(),
        "value_drift_report": _drift_sql(),
        "categorical_entropy": _entropy_sql(),
        "mad_outlier_stats": (
            # two nearest-rank medians over bounded grids + 3*MAD flag
            "WITH e AS (SELECT event_type, "
            "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c "
            "FROM events), "
            "g1 AS (SELECT event_type, c, count(*) AS k FROM e GROUP BY 1, 2), "
            "c1 AS (SELECT *, sum(k) OVER (PARTITION BY event_type ORDER BY c "
            "ROWS UNBOUNDED PRECEDING) AS cum, "
            "sum(k) OVER (PARTITION BY event_type) AS n FROM g1), "
            "med AS (SELECT event_type, min(CASE WHEN cum >= (n + 1) // 2 "
            "THEN c END) AS median_cents FROM c1 GROUP BY 1), "
            "dv AS (SELECT e.event_type AS event_type, "
            "abs(c - median_cents) AS d FROM e "
            "JOIN med ON med.event_type = e.event_type), "
            "g2 AS (SELECT event_type, d, count(*) AS k FROM dv GROUP BY 1, 2), "
            "c2 AS (SELECT *, sum(k) OVER (PARTITION BY event_type ORDER BY d "
            "ROWS UNBOUNDED PRECEDING) AS cum, "
            "sum(k) OVER (PARTITION BY event_type) AS n FROM g2), "
            "mad AS (SELECT event_type, min(CASE WHEN cum >= (n + 1) // 2 "
            "THEN d END) AS mad_cents FROM c2 GROUP BY 1) "
            "SELECT e.event_type AS event_type, count(*) AS n, "
            "CAST(max(median_cents) AS BIGINT) AS median_cents, "
            "CAST(max(mad_cents) AS BIGINT) AS mad_cents, "
            "CAST(sum(CASE WHEN abs(c - median_cents) > 3 * mad_cents "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers "
            "FROM e JOIN med ON med.event_type = e.event_type "
            "JOIN mad ON mad.event_type = e.event_type GROUP BY 1"
        ),
        "winsorized_value_stats": (
            # nearest-rank p5/p95 over the (type, cents) grid, integer
            # ceil ranks, clamp + exact half-up mean
            "WITH e AS (SELECT event_type, "
            "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c "
            "FROM events), "
            "grid AS (SELECT event_type, c, count(*) AS k FROM e "
            "GROUP BY 1, 2), "
            "g AS (SELECT *, sum(k) OVER (PARTITION BY event_type "
            "ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum, "
            "sum(k) OVER (PARTITION BY event_type) AS n FROM grid), "
            "cuts AS (SELECT event_type, "
            "min(CASE WHEN cum >= (n * 1 + 19) // 20 THEN c END) AS lo_cents, "
            "min(CASE WHEN cum >= (n * 19 + 19) // 20 THEN c END) AS hi_cents "
            "FROM g GROUP BY 1), "
            "cl AS (SELECT e.event_type AS event_type, lo_cents, hi_cents, "
            "greatest(least(c, hi_cents), lo_cents) AS w, "
            "CASE WHEN c < lo_cents THEN 1 ELSE 0 END AS clip_lo, "
            "CASE WHEN c > hi_cents THEN 1 ELSE 0 END AS clip_hi "
            "FROM e JOIN cuts ON cuts.event_type = e.event_type) "
            "SELECT event_type, count(*) AS n, "
            "CAST(max(lo_cents) AS BIGINT) AS lo_cents, "
            "CAST(max(hi_cents) AS BIGINT) AS hi_cents, "
            "CAST(sum(clip_lo) AS BIGINT) AS n_clipped_low, "
            "CAST(sum(clip_hi) AS BIGINT) AS n_clipped_high, "
            + _hud("sum(w)", "count(*)", 6)
            + " AS winsorized_mean_cents FROM cl GROUP BY event_type"
        ),
        "table_stats": (
            # engine-proof extremes: BIGINT for numerics (cents for
            # money, epoch days for dates), raw strings for VARCHARs —
            # never a decimal->VARCHAR / strftime repr (the r6 red row)
            "SELECT 'o_orderkey' AS \"column\", count(*) AS n_rows, "
            "CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_nulls, "
            "count(DISTINCT o_orderkey) AS n_distinct, "
            "CAST(min(o_orderkey) AS BIGINT) AS min_int, "
            "CAST(max(o_orderkey) AS BIGINT) AS max_int, "
            "CAST(NULL AS VARCHAR) AS min_str, "
            "CAST(NULL AS VARCHAR) AS max_str FROM orders "
            "UNION ALL SELECT 'o_custkey', count(*), "
            "CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT), "
            "count(DISTINCT o_custkey), CAST(min(o_custkey) AS BIGINT), "
            "CAST(max(o_custkey) AS BIGINT), CAST(NULL AS VARCHAR), "
            "CAST(NULL AS VARCHAR) FROM orders "
            "UNION ALL SELECT 'o_orderstatus', count(*), "
            "CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT), "
            "count(DISTINCT o_orderstatus), CAST(NULL AS BIGINT), "
            "CAST(NULL AS BIGINT), min(o_orderstatus), "
            "max(o_orderstatus) FROM orders "
            "UNION ALL SELECT 'o_totalprice', count(*), "
            "CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT), "
            "count(DISTINCT CAST(o_totalprice AS DECIMAL(12,2))), "
            "CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT), "
            "CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT), "
            "CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) "
            "FROM orders "
            "UNION ALL SELECT 'o_orderpriority', count(*), "
            "CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT), "
            "count(DISTINCT o_orderpriority), CAST(NULL AS BIGINT), "
            "CAST(NULL AS BIGINT), min(o_orderpriority), "
            "max(o_orderpriority) FROM orders "
            "UNION ALL SELECT 'o_orderdate', count(*), "
            "CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT), "
            "count(DISTINCT o_orderdate), "
            "CAST(min(CAST(o_orderdate AS DATE)) - DATE '1970-01-01' "
            "AS BIGINT), "
            "CAST(max(CAST(o_orderdate AS DATE)) - DATE '1970-01-01' "
            "AS BIGINT), "
            "CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM orders"
        ),
        # multi-column quantile profiler on the same portable register
        # form, one register table per target (r13 graduation)
        "quantile_sketches": _quantile_sketches_sql(),
        "ddsketch_value_quantiles": (
            # DDSketch-style log-bucket quantile brackets: identical
            # fixed-point ln bucketing (ln_micro, gamma=1.02), integer
            # nearest-rank probe, exact per-bucket min/max cents.
            # The 2^31 ln_micro contract guard is MIRRORED from the
            # Spark side (quality.ddsketch_cents_buckets) so both
            # engines fail loudly, not diverge, on out-of-range cents.
            "WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) "
            "* 100 AS BIGINT) AS cents FROM orders), "
            "cp AS (SELECT CASE WHEN cents >= 2147483648 THEN "
            "CAST(error('ddsketch bucket contract violated: cents >= "
            "2^31 exceeds ln_micro exact range; rescale upstream') "
            "AS BIGINT) ELSE cents END AS cents FROM c "
            "WHERE cents >= 1), "
            "b AS (SELECT (" + _lnm("cents", "1") + ") // 19803 AS bucket, "
            "CAST(count(*) AS BIGINT) AS n, min(cents) AS lo_cents, "
            "max(cents) AS hi_cents FROM cp GROUP BY 1), "
            "cum AS (SELECT bucket, n, lo_cents, hi_cents, "
            "CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM b), "
            "tot AS (SELECT max(cum) AS n_total FROM cum), "
            "qs AS (SELECT unnest([50, 90, 99]) AS quantile), "
            "probe AS (SELECT quantile, CAST((quantile * n_total + 99) "
            "// 100 AS BIGINT) AS rank FROM qs, tot) "
            "SELECT CAST(quantile AS INTEGER) AS quantile, rank, "
            "CAST(bucket AS BIGINT) AS bucket, n AS n_in_bucket, "
            "lo_cents, hi_cents FROM probe JOIN cum "
            "ON cum.cum >= probe.rank AND cum.cum - cum.n < probe.rank"
        ),
        "cms_term_estimates": (
            # bit-identical count-min sketch: same portable hash, same
            # D=4 x W=16 grid (collisions exercised), same exact-top query keys
            "WITH tok AS (SELECT t.token AS term FROM documents, "
            "unnest(string_split(text, ' ')) AS t(token) "
            "WHERE t.token <> ''), "
            "rows_ AS (SELECT unnest(generate_series(0, 3)) AS r), "
            "cells AS (SELECT r, CAST(('0x' || substr(md5('cms:' || "
            "CAST(r AS VARCHAR) || ':' || term), 1, 15))::BIGINT % 16 "
            "AS INTEGER) AS b, CAST(count(*) AS BIGINT) AS c "
            "FROM tok, rows_ GROUP BY 1, 2), "
            "exact AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact "
            "FROM tok GROUP BY term), "
            "top AS (SELECT term, n_exact FROM exact "
            "ORDER BY n_exact DESC, term LIMIT 50), "
            "probes AS (SELECT term, n_exact, r, "
            "CAST(('0x' || substr(md5('cms:' || CAST(r AS VARCHAR) || "
            "':' || term), 1, 15))::BIGINT % 16 AS INTEGER) AS b "
            "FROM top, rows_), "
            "est AS (SELECT term, n_exact, min(c) AS n_cms "
            "FROM probes JOIN cells USING (r, b) GROUP BY 1, 2) "
            "SELECT term, n_exact, CAST(n_cms AS BIGINT) AS n_cms, "
            "CAST(n_cms - n_exact AS BIGINT) AS overestimate FROM est"
        ),
        "cms_cells_streamed": (
            # batch twin of the streamed count-min grid over user ids
            "WITH it AS (SELECT CAST(user_id AS VARCHAR) AS term "
            "FROM events), "
            "rows_ AS (SELECT unnest(generate_series(0, 3)) AS r) "
            "SELECT CAST(r AS INTEGER) AS r, "
            "CAST(('0x' || substr(md5('cms:' || "
            "CAST(r AS VARCHAR) || ':' || term), 1, 15))::BIGINT % 16 "
            "AS INTEGER) AS b, CAST(count(*) AS BIGINT) AS c "
            "FROM it, rows_ GROUP BY 1, 2"
        ),
        "moments_sketch": (
            # exact integer power sums in HUGEINT; m3..m6 emitted as
            # plain-digit strings (same as Spark's DECIMAL(38,0) cast)
            "WITH e AS (SELECT event_type, "
            "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT) AS c "
            "FROM events) "
            "SELECT event_type, count(*) AS n, "
            "CAST(min(c) AS BIGINT) AS min_cents, "
            "CAST(max(c) AS BIGINT) AS max_cents, "
            "CAST(sum(c) AS BIGINT) AS m1, "
            "CAST(sum(c * c) AS BIGINT) AS m2, "
            "CAST(sum(c * c * c) AS VARCHAR) AS m3, "
            "CAST(sum(c * c * c * c) AS VARCHAR) AS m4, "
            "CAST(sum(c * c * c * c * c) AS VARCHAR) AS m5, "
            "CAST(sum(c * c * c * c * c * c) AS VARCHAR) AS m6 "
            "FROM e GROUP BY event_type"
        ),
        "hll_users_hourly_streamed": _hll_group_sql(
            "(SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us, "
            "user_id FROM events)",
            "user_id",
            "hour_us",
        ),
        # r9: fixed-point integer DCT pHash / DFT audio fingerprint —
        # the hash-verifiable twins of the rows-only media pair
        # queries (shared literal bases, no runtime transcendentals)
        "media_phash_pairs_exactint": _phash_exactint_sql(),
        "media_audio_pairs_exactint": _afp_exactint_sql(),
        "media_phash_stream": (
            "WITH " + _phash_hash_ctes().rstrip(", ")
            + " SELECT doc_id, phash FROM ph"
        ),
        # knn_lsh: approximate → intentionally no oracle (rows-only)
        # media_features: stubbed codec → intentionally no oracle (rows-only)
    }
    # the streaming drains are hash-checked against their batch twins'
    # oracles — streaming == batch == independent-engine SQL
    out["ccnet_buckets"] = (
        # composed from the bigram-LM oracle: half-up integer rank key,
        # global row_number (oracle side may sort), NTILE(3) arithmetic
        "WITH ce AS (" + out["bigram_cross_entropy"] + "), "
        "sc AS (SELECT doc_id, (2 * CAST(sum_cost_unats AS HUGEINT) "
        "* 1000000 + n_bigrams) // (2 * CAST(n_bigrams AS HUGEINT)) AS k "
        "FROM ce), "
        "n AS (SELECT count(*) AS n FROM sc), "
        "r AS (SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) "
        "AS rank FROM sc) "
        "SELECT doc_id, CAST(k AS BIGINT) AS avg_cost_key, "
        "CAST(rank AS BIGINT) AS rank, "
        "CAST(((rank - 1) * 3) // n + 1 AS INTEGER) AS tercile, "
        "(['head', 'middle', 'tail'])[CAST(((rank - 1) * 3) // n + 1 "
        "AS INTEGER)] AS bucket FROM r, n"
    )
    out["curriculum_order"] = (
        # easy->hard curriculum: ccnet tercile, hash-shuffled inside
        "WITH cc AS (" + out["ccnet_buckets"] + "), "
        "h AS (SELECT doc_id, tercile, "
        "('0x' || substr(md5('cur:' || doc_id::VARCHAR), 1, 15))::BIGINT "
        "AS k FROM cc) "
        "SELECT CAST(row_number() OVER (ORDER BY tercile, k, doc_id) - 1 "
        "AS BIGINT) AS position, doc_id, tercile FROM h"
    )
    out["embedding_outliers"] = (
        # half-up integer centroid (offset trick for negatives), int64
        # dist^2, HUGEINT 3-sigma cross-multiply — mirrors similarity.py
        "WITH ex AS (SELECT vec_id, label, CAST(t.i AS INTEGER) AS dim, "
        "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
        "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
        "cent AS (SELECT label, dim, "
        "CAST((2 * (sum(q) + count(*) * 4000000) + count(*)) "
        "// (2 * count(*)) - 4000000 AS BIGINT) AS c "
        "FROM ex GROUP BY 1, 2), "
        "d2 AS (SELECT vec_id, ex.label AS label, "
        "CAST(sum((q - c) * (q - c)) AS BIGINT) AS dist2_q "
        "FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim "
        "GROUP BY 1, 2), "
        "st AS (SELECT label, CAST(count(*) AS HUGEINT) AS m, "
        "CAST(sum(CAST(dist2_q AS HUGEINT)) AS HUGEINT) AS s, "
        "CAST(sum(CAST(dist2_q AS HUGEINT) * CAST(dist2_q AS HUGEINT)) "
        "AS HUGEINT) AS qq FROM d2 GROUP BY 1) "
        "SELECT vec_id, label, dist2_q, "
        "(m * dist2_q - s > 0 AND "
        "(m * dist2_q - s) * (m * dist2_q - s) > 9 * (m * qq - s * s)) "
        "AS is_outlier FROM d2 JOIN st USING (label)"
    )
    out["lang_eval"] = (
        "WITH pred AS (" + out["lang_id"] + "), "
        "t AS (SELECT lang AS cls, count(*) AS n_true FROM pred GROUP BY 1), "
        "p AS (SELECT pred_lang AS cls, count(*) AS n_pred FROM pred "
        "GROUP BY 1), "
        "tpx AS (SELECT lang AS cls, count(*) AS tp FROM pred "
        "WHERE lang = pred_lang GROUP BY 1), "
        "c AS (SELECT cls FROM t UNION SELECT cls FROM p), "
        "j AS (SELECT c.cls AS cls, CAST(coalesce(n_true, 0) AS BIGINT) "
        "AS n_true, CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred, "
        "CAST(coalesce(tp, 0) AS BIGINT) AS tp FROM c "
        "LEFT JOIN t ON t.cls = c.cls LEFT JOIN p ON p.cls = c.cls "
        "LEFT JOIN tpx ON tpx.cls = c.cls) "
        "SELECT cls, n_true, n_pred, tp, "
        "CASE WHEN n_pred = 0 THEN 0.0 ELSE " + _hud("tp", "n_pred", 6)
        + " END AS prec, "
        "CASE WHEN n_true = 0 THEN 0.0 ELSE " + _hud("tp", "n_true", 6)
        + " END AS rec, "
        "CASE WHEN 2 * tp + (n_pred - tp) + (n_true - tp) = 0 THEN 0.0 "
        "ELSE " + _hud("(2 * tp)", "(2 * tp + (n_pred - tp) + (n_true - tp))", 6)
        + " END AS f1 FROM j"
    )
    # salted-rewrite twins: same oracle as the direct form
    out["order_enriched_salted"] = out["order_enriched"]
    out["events_hourly_streamed"] = out["events_hourly"]
    out["events_multires_streamed"] = out["events_multires_rollup"]
    out["orders_checksum_streamed"] = (
        "WITH " + _ORDERS_HASH_CTE + " "
        "SELECT 'orders' AS table_name, count(*) AS n_rows, "
        "CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum FROM ho"
    )
    out["table_stats_streamed"] = out["table_stats"]
    out["ddsketch_quantiles_streamed"] = out["ddsketch_value_quantiles"]
    out["user_modal_streamed"] = out["user_modal_event"]
    out["events_rate_capped_streamed"] = out["events_rate_capped"]
    out["kaplan_meier_streamed"] = out["kaplan_meier_repeat"]
    out["bootstrap_mean_streamed"] = out["bootstrap_mean_ci"]
    out["event_anomalies_streamed"] = out["event_volume_anomalies"]
    out["latest_event_streamed"] = out["latest_event_per_user"]
    out["events_dedup_streamed"] = (
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS us, "
        "CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value FROM events"
    )
    out["events_sessions_streamed"] = out["events_sessions"]
    out["doc_chunking_streamed"] = out["doc_chunking"]
    out["dedup_groups_streamed"] = (
        "SELECT " + _nth() + " AS text_hash, "
        "min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS group_size "
        "FROM documents GROUP BY 1"
    )
    out["purchase_attribution_streamed"] = (
        "SELECT p.event_id AS purchase_event_id, "
        "v.event_id AS view_event_id, p.user_id AS user_id, "
        "epoch_us(p.ts) AS purchase_us, "
        "epoch_us(p.ts) - epoch_us(v.ts) AS gap_us "
        "FROM events p JOIN events v ON p.user_id = v.user_id "
        "AND p.event_type = 'purchase' AND v.event_type = 'view' "
        "AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts < p.ts"
    )

    # corpus curation (mirrors operators/curation.py constants)
    bucket = (
        "CAST(('0x' || substr(md5('{tag}:' || doc_id::VARCHAR), 1, 15))"
        "::BIGINT % 100 AS INTEGER)"
    )
    out["doc_sample_deterministic"] = (
        "WITH d AS (SELECT doc_id, lang, source, "
        f"{bucket.format(tag='sample')} AS bucket, "
        "CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 25 WHEN 'fr' THEN 25 "
        "WHEN 'es' THEN 25 ELSE 50 END AS rate FROM documents) "
        "SELECT doc_id, lang, source, bucket, rate FROM d WHERE bucket < rate"
    )
    out["weighted_sample"] = (
        # A-ES exponential keys in fixed point: u = h/1e6, key =
        # (ln_micro(1e6, h) * 1e6) div weight; top-100 smallest
        "WITH d AS (SELECT doc_id, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) "
        "AS BIGINT) AS w, "
        "(('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 15))::BIGINT "
        f"% {curation.WSAMPLE_U_MOD} + 1) AS h FROM documents), "
        "k AS (SELECT doc_id, w, "
        + _lnm(str(curation.WSAMPLE_U_MOD), "h")
        + " AS lnu FROM d WHERE w >= 1) "
        "SELECT doc_id, w AS weight, "
        "CAST((lnu * 1000000) // w AS BIGINT) AS key_micro "
        f"FROM k ORDER BY key_micro, doc_id LIMIT {curation.WSAMPLE_K}"
    )
    out["winnow_fps_streamed"] = (
        # batch twin of the streamed winnow selection (same list SQL
        # as winnow_overlap_top, stopped at the per-doc fingerprints)
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w "
        "FROM documents WHERE len(string_split(text, ' ')) >= 6), "
        "g AS (SELECT doc_id, list_transform(range(len(w) - 2), "
        "i -> ('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), "
        "1, 15))::BIGINT) AS hs FROM t), "
        "s AS (SELECT doc_id, list_distinct(list_transform("
        "range(len(hs) - 3), j -> list_min(hs[j+1:j+4]))) AS fps FROM g) "
        "SELECT doc_id, unnest(fps) AS fp FROM s"
    )
    out["bpe_train_merges"] = _bpe_train_sql()
    out["winnow_overlap_top"] = (
        # positional winnowing (MOSS): word-3-gram hash sequence,
        # sliding min over 4-hash windows, distinct selected values;
        # posting-capped overlap counts (mirrors text.py WINNOW_*)
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w "
        "FROM documents WHERE len(string_split(text, ' ')) >= 6), "
        "g AS (SELECT doc_id, list_transform(range(len(w) - 2), "
        "i -> ('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), "
        "1, 15))::BIGINT) AS hs FROM t), "
        "s AS (SELECT doc_id, list_distinct(list_transform("
        "range(len(hs) - 3), j -> list_min(hs[j+1:j+4]))) AS fps FROM g), "
        "f AS (SELECT doc_id, unnest(fps) AS fp FROM s), "
        "ff AS (SELECT * FROM f WHERE fp IN (SELECT fp FROM f "
        "GROUP BY fp HAVING count(*) BETWEEN 2 AND 100)), "
        "c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "count(*) AS n_shared FROM ff a JOIN ff b "
        "ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared FROM c "
        "ORDER BY n_shared DESC, doc_a, doc_b LIMIT 50"
    )
    out["interleaved_mixture"] = (
        # round-robin source interleave: round = within-source shuffled
        # rank, global position = rank over (round, source)
        "WITH d AS (SELECT doc_id, source, "
        "('0x' || substr(md5('il:' || doc_id::VARCHAR), 1, 15))::BIGINT "
        "AS k FROM documents), "
        "r AS (SELECT doc_id, source, row_number() OVER ("
        "PARTITION BY source ORDER BY k, doc_id) AS round FROM d) "
        "SELECT row_number() OVER (ORDER BY round, source) - 1 "
        "AS position, doc_id, source, CAST(round AS BIGINT) AS round FROM r"
    )
    out["length_bucketed_batches"] = (
        # power-of-2 length buckets (integer bit-length, no float log),
        # fixed 8-doc batches in doc_id order, padding-waste accounting
        "WITH d AS (SELECT doc_id, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) "
        "AS BIGINT) AS n_tokens FROM documents), "
        "b AS (SELECT doc_id, n_tokens, greatest(CAST(32 AS BIGINT), "
        "CAST(1 AS BIGINT) << length(bin(greatest(n_tokens - 1, 1)))) "
        "AS bucket FROM d), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY bucket "
        "ORDER BY doc_id) - 1 AS rk FROM b), "
        "bt AS (SELECT bucket, rk // 8 AS batch_id, n_tokens FROM r), "
        "agg AS (SELECT bucket, batch_id, CAST(count(*) AS BIGINT) AS n_docs, "
        "max(n_tokens) AS max_len, CAST(sum(n_tokens) AS BIGINT) AS "
        "sum_tokens FROM bt GROUP BY 1, 2) "
        "SELECT bucket, batch_id, n_docs, max_len, sum_tokens, "
        + _hud("(n_docs * max_len - sum_tokens)", "(n_docs * max_len)", 6)
        + " AS pad_frac FROM agg"
    )
    out["train_val_test_split"] = (
        "WITH d AS (SELECT source, "
        f"{bucket.format(tag='split')} AS b, "
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens "
        "FROM documents) "
        "SELECT source, "
        "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' "
        "ELSE 'test' END AS split, "
        "count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens "
        "FROM d GROUP BY 1, 2"
    )
    out["token_budget_selection"] = (
        "WITH d AS (SELECT doc_id, source, n_chars, "
        "CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens "
        "FROM documents), "
        "r AS (SELECT source, doc_id, n_tokens, "
        "sum(n_tokens) OVER (PARTITION BY source "
        "ORDER BY n_chars DESC, doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM d) "
        "SELECT source, doc_id, n_tokens FROM r WHERE run <= 600"
    )
    def _cleaning_ctes(sfx: str) -> str:
        """The cleaning pipeline's CTE chain with suffixed names, so the
        standalone report and the corpus_survivors composition (where the
        CC closure already owns d/h/c/...) share ONE definition — a
        threshold change can never drift between the two oracles."""
        en = ", ".join(f"'{w}'" for w in ["the", "a", "of", "and", "to", "in", "is"])
        de = ", ".join(f"'{w}'" for w in ["der", "die", "das", "und", "ist", "nicht"])
        fr = ", ".join(f"'{w}'" for w in ["le", "la", "et", "les", "des", "est"])
        es = ", ".join(f"'{w}'" for w in ["el", "los", "las", "y", "es", "una"])
        return (
            f"d{sfx} AS (SELECT doc_id, text, string_split(text, ' ') AS t{sfx} "
            "FROM documents), "
            f"h{sfx} AS (SELECT doc_id, " + _nth() + f" AS thash{sfx}, "
            f"len(list_filter(t{sfx}, x -> x IN ({en}))) AS s_en, "
            f"len(list_filter(t{sfx}, x -> x IN ({de}))) AS s_de, "
            f"len(list_filter(t{sfx}, x -> x IN ({fr}))) AS s_fr, "
            f"len(list_filter(t{sfx}, x -> x IN ({es}))) AS s_es, "
            f"len(t{sfx}) AS n_tokens, "
            "length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS alnum, "
            f"length(text) AS len_chars FROM d{sfx}), "
            f"p{sfx} AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best "
            f"FROM h{sfx}), "
            f"l{sfx} AS (SELECT doc_id, thash{sfx}, n_tokens, alnum, len_chars, "
            "CASE WHEN best = 0 THEN 'und' WHEN s_en = best THEN 'en' "
            "WHEN s_de = best THEN 'de' WHEN s_fr = best THEN 'fr' "
            f"ELSE 'es' END AS pred_lang FROM p{sfx}), "
            f"c{sfx} AS (SELECT thash{sfx}, min(doc_id) AS keep_id FROM l{sfx} "
            f"GROUP BY thash{sfx})"
        )

    out["corpus_cleaning_report"] = (
        "WITH "
        + _cleaning_ctes("0")
        + ", r AS (SELECT l0.doc_id, "
        "CASE WHEN l0.doc_id != c0.keep_id THEN 'duplicate' "
        "WHEN pred_lang != 'en' THEN 'lang' "
        "WHEN n_tokens < 5 OR alnum * 5 < len_chars * 4 THEN 'quality' "
        "ELSE 'kept' END AS reason "
        "FROM l0 JOIN c0 USING (thash0)) "
        "SELECT doc_id, reason, reason = 'kept' AS keep FROM r"
    )

    out["corpus_training_plan"] = (
        # capstone: cleaned docs -> curriculum tercile -> length-bucket
        # batches; constituent CTEs reused verbatim from their oracles
        "WITH "
        + _cleaning_ctes("0")
        + ", cc AS (" + out["ccnet_buckets"] + "), "
        "kept AS (SELECT l0.doc_id FROM l0 JOIN c0 "
        "USING (thash0) WHERE l0.doc_id = keep_id AND pred_lang = 'en' "
        "AND NOT (n_tokens < 5 OR alnum * 5 < len_chars * 4)), "
        # bucketing length = NON-EMPTY token count (unified with the
        # length_bucketed_batches oracle in r7); the cleaning filter
        # above keeps its own unfiltered n_tokens
        "b0 AS (SELECT k.doc_id, cc.tercile, "
        "CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) "
        "AS BIGINT) AS n_tokens "
        "FROM kept k JOIN cc USING (doc_id) "
        "JOIN documents d ON d.doc_id = k.doc_id), "
        "b AS (SELECT doc_id, tercile, n_tokens, "
        "greatest(CAST(32 AS BIGINT), CAST(1 AS BIGINT) << "
        "length(bin(greatest(n_tokens - 1, 1)))) AS bucket FROM b0), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY tercile, bucket "
        "ORDER BY doc_id) - 1 AS rk FROM b), "
        "bt AS (SELECT tercile, bucket, rk // 8 AS batch_id, n_tokens "
        "FROM r), "
        "agg AS (SELECT tercile, bucket, batch_id, "
        "CAST(count(*) AS BIGINT) AS n_docs, max(n_tokens) AS max_len, "
        "CAST(sum(n_tokens) AS BIGINT) AS sum_tokens FROM bt "
        "GROUP BY 1, 2, 3) "
        "SELECT tercile, bucket, batch_id, n_docs, max_len, sum_tokens, "
        + _hud("(n_docs * max_len - sum_tokens)", "(n_docs * max_len)", 6)
        + " AS pad_frac FROM agg"
    )

    # the corpus pipeline's survivor selection, end to end in ONE SQL:
    # recursive-CTE near-dup closure + the same cleaning CASE +
    # canonical-among-cleaned promotion + md5 cluster-split buckets
    out["corpus_survivors"] = (
        _CC_COMP_CTE
        + ", "
        + _cleaning_ctes("9")
        + ", kept9 AS (SELECT l9.doc_id FROM l9 JOIN c9 USING (thash9) "
        "WHERE l9.doc_id = keep_id AND pred_lang = 'en' "
        "AND NOT (n_tokens < 5 OR alnum * 5 < len_chars * 4)), "
        "surv AS (SELECT comp.cluster_id, min(k.doc_id) AS doc_id "
        "FROM kept9 k JOIN comp ON comp.doc_id = k.doc_id "
        "GROUP BY comp.cluster_id) "
        "SELECT doc_id, cluster_id, "
        "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' "
        "ELSE 'test' END AS split FROM ("
        "SELECT doc_id, cluster_id, "
        "CAST(('0x' || substr(md5('csplit:' || cluster_id::VARCHAR), "
        "1, 15))::BIGINT % 100 AS INTEGER) AS b FROM surv) x"
    )

    # PII scan (mirrors text.PII_PATTERNS; counts on original text per
    # class, redaction chained in dict order email -> phone -> ipv4)
    _email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _phone = r"\+?[0-9]{1,3}[-. ][0-9]{2,4}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}"
    _ipv4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
    out["pii_scan"] = (
        "WITH c AS (SELECT doc_id, "
        f"len(regexp_extract_all(text, '{_email}')) AS n_email, "
        f"len(regexp_extract_all(text, '{_phone}')) AS n_phone, "
        f"len(regexp_extract_all(text, '{_ipv4}')) AS n_ipv4, "
        "md5(regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{_email}', '<email>', 'g'), "
        f"'{_phone}', '<phone>', 'g'), "
        f"'{_ipv4}', '<ipv4>', 'g')) AS redacted_hash "
        "FROM documents) "
        "SELECT doc_id, n_email, n_phone, n_ipv4, redacted_hash, "
        "(n_email + n_phone + n_ipv4) > 0 AS has_pii FROM c"
    )

    out["repetition_stats"] = (
        "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t "
        "FROM documents WHERE len(string_split(text, ' ')) >= 2), "
        "g AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram "
        "FROM toks, UNNEST(range(1, len(t))) AS u(i)), "
        "pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2) "
        "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, "
        "CAST(count(*) AS BIGINT) AS n_distinct_grams, "
        "CAST(max(c) AS BIGINT) AS top_gram_freq, "
        "(sum(c) - count(*)) * 5 > sum(c) AS repetitive "
        "FROM pg GROUP BY doc_id"
    )

    # decontamination: posting-list join of train x test 3-gram shingles
    # (df cap 100 mirrors curation.DECON_MAX_DOC_FREQ); split buckets
    # identical to train_val_test_split's
    out["decontaminate"] = (
        "WITH "
        + _SHINGLES_CTE
        + ", shf AS (SELECT * FROM sh WHERE shingle IN "
        "(SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100)), "
        "lab AS (SELECT doc_id, shingle, "
        f"{bucket.format(tag='split')} >= 90 AS is_test FROM shf) "
        "SELECT a.doc_id, "
        "CAST(count(DISTINCT a.shingle) AS BIGINT) AS n_hit_grams, "
        "CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_test_docs "
        "FROM lab a JOIN lab b ON a.shingle = b.shingle "
        "AND NOT a.is_test AND b.is_test "
        "GROUP BY a.doc_id"
    )

    # Bloom-filter decontamination pre-filter (mirrors curation.
    # BLOOM_BITS = 2^16, BLOOM_K = 4): identical md5-derived bit
    # positions, bit_or-aggregated 1024-row filter, no-false-negative
    # probe, and exact false-positive accounting
    def _bpos(j: int) -> str:
        return (
            f"(('0x' || substr(md5('bloom{j}:' || shingle), 1, 15))::BIGINT"
            f" % 65536)"
        )

    _bloom_positions = "[" + ", ".join(_bpos(j) for j in range(4)) + "]"
    out["bloom_decontaminate"] = (
        "WITH "
        + _SHINGLES_CTE
        + ", shf AS (SELECT * FROM sh WHERE shingle IN "
        "(SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100)), "
        "lab AS (SELECT doc_id, shingle, "
        f"{bucket.format(tag='split')} >= 90 AS is_test FROM shf), "
        "tg AS (SELECT DISTINCT shingle FROM lab WHERE is_test), "
        "tr AS (SELECT doc_id, shingle FROM lab WHERE NOT is_test), "
        f"bpos AS (SELECT shingle, unnest({_bloom_positions}) AS p FROM tg), "
        "bloom AS (SELECT p >> 5 AS word, "
        "bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits "
        "FROM bpos GROUP BY 1), "
        "pg AS (SELECT DISTINCT shingle FROM tr), "
        f"ppos AS (SELECT shingle, unnest({_bloom_positions}) AS p FROM pg), "
        "hits AS (SELECT shingle, "
        "sum(CASE WHEN (coalesce(bits, 0) & "
        "(1::BIGINT << CAST(p % 32 AS INT))) <> 0 THEN 1 ELSE 0 END) = 4 "
        "AS bloom_hit FROM (SELECT shingle, p, p >> 5 AS word FROM ppos) q "
        "LEFT JOIN bloom USING (word) GROUP BY shingle), "
        "truth AS (SELECT DISTINCT tr.shingle FROM tr JOIN tg USING (shingle)), "
        "perg AS (SELECT h.shingle, bloom_hit, "
        "(t.shingle IS NOT NULL) AS true_hit "
        "FROM hits h LEFT JOIN truth t ON h.shingle = t.shingle) "
        "SELECT * FROM (SELECT doc_id, "
        "CAST(count(DISTINCT tr.shingle) AS BIGINT) AS n_grams, "
        "CAST(count(DISTINCT CASE WHEN bloom_hit THEN tr.shingle END) "
        "AS BIGINT) AS n_bloom_hits, "
        "CAST(count(DISTINCT CASE WHEN true_hit THEN tr.shingle END) "
        "AS BIGINT) AS n_true_hits, "
        "CAST(count(DISTINCT CASE WHEN bloom_hit THEN tr.shingle END) - "
        "count(DISTINCT CASE WHEN true_hit THEN tr.shingle END) AS BIGINT) "
        "AS n_false_positives "
        "FROM tr JOIN perg USING (shingle) GROUP BY doc_id) "
        "WHERE n_bloom_hits > 0"
    )

    # runtime bloom-filter semi-join pushdown (same 2^16-bit / k=4
    # geometry): identical filter, identical per-line pass tests, and
    # exact false-positive accounting over the urgent+finished slice
    _ok_p = [
        (
            f"(('0x' || substr(md5('bloom{j}:' || "
            f"CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 65536)"
        )
        for j in range(4)
    ]
    _sel_pos = "[" + ", ".join(
        (
            f"(('0x' || substr(md5('bloom{j}:' || "
            f"CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 65536)"
        )
        for j in range(4)
    ) + "]"
    _pass_sql = " AND ".join(
        f"(coalesce(b{j}.bits, 0) & "
        f"(1::BIGINT << CAST(p{j} % 32 AS INT))) <> 0"
        for j in range(4)
    )
    out["bloom_semijoin_pushdown"] = (
        "WITH sel AS (SELECT o_orderkey FROM orders "
        "WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'), "
        f"bpos AS (SELECT unnest({_sel_pos}) AS p FROM sel), "
        "bloom AS (SELECT p >> 5 AS word, "
        "bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits "
        "FROM bpos GROUP BY 1), "
        "lp AS (SELECT l_orderkey, l_extendedprice, l_discount, "
        + ", ".join(f"{_ok_p[j]} AS p{j}" for j in range(4))
        + " FROM lineitem), "
        "flagged AS (SELECT lp.*, "
        f"({_pass_sql}) AS pass, "
        "(s.o_orderkey IS NOT NULL) AS hit FROM lp "
        + " ".join(
            f"LEFT JOIN bloom b{j} ON b{j}.word = p{j} >> 5"
            for j in range(4)
        )
        + " LEFT JOIN sel s ON l_orderkey = s.o_orderkey) "
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM sel) "
        "AS n_orders_selected, "
        "CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_lines_bloom_pass, "
        "CAST(sum(CASE WHEN pass AND hit THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_lines_exact, "
        "CAST(sum(CASE WHEN pass AND NOT hit THEN 1 ELSE 0 END) "
        "AS BIGINT) AS bloom_false_positive_lines, "
        f"CAST(round(sum(CASE WHEN pass AND hit THEN {_NET} "
        "ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS revenue "
        "FROM flagged"
    )

    # T5-style span corruption (mirrors curation.SPAN_MIN_TOKENS = 20,
    # SPAN_SEG = 20, span lengths 2-4): identical md5-derived span
    # geometry AND the masked token text, so tokenization alignment is
    # verified too (1-based inclusive list slicing on both engines)
    _spl = (
        "(2 + ('0x' || substr(md5('spanlen:' || CAST(doc_id AS VARCHAR) "
        "|| ':' || CAST(span_id AS VARCHAR)), 1, 15))::BIGINT % 3)"
    )
    _sps = (
        "(span_id * seg_len + ('0x' || substr(md5('spanstart:' || "
        "CAST(doc_id AS VARCHAR) || ':' || CAST(span_id AS VARCHAR)), "
        "1, 15))::BIGINT % (seg_len - span_len + 1))"
    )
    out["span_corruption_masks"] = (
        "WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n "
        "FROM documents), "
        "f AS (SELECT doc_id, toks, n, n // 20 AS k FROM d "
        "WHERE n >= 20), "
        "g AS (SELECT doc_id, toks, n // k AS seg_len, "
        "unnest(generate_series(0, k - 1)) AS span_id FROM f), "
        f"h AS (SELECT doc_id, toks, seg_len, span_id, {_spl} "
        "AS span_len FROM g), "
        f"i AS (SELECT doc_id, toks, span_id, span_len, {_sps} "
        "AS start_token FROM h) "
        "SELECT doc_id, CAST(span_id AS BIGINT) AS span_id, "
        "CAST(start_token AS BIGINT) AS start_token, "
        "CAST(span_len AS BIGINT) AS span_len, "
        "array_to_string(toks[start_token + 1 : start_token + span_len], "
        "' ') AS masked_tokens FROM i"
    )

    # largest-remainder apportionment (mirrors curation.
    # APPORTION_BUDGET = 1000): HUGEINT floor quotas + remainder ranks
    out["source_quota_apportionment"] = (
        "WITH w AS (SELECT source, CAST(sum(len(string_split(text, ' '))) "
        "AS BIGINT) AS tokens FROM documents GROUP BY 1), "
        "tot AS (SELECT CAST(sum(tokens) AS HUGEINT) AS w_total FROM w), "
        "g AS (SELECT source, tokens, "
        "CAST((1000 * CAST(tokens AS HUGEINT)) // w_total AS BIGINT) "
        "AS base_quota, "
        "CAST((1000 * CAST(tokens AS HUGEINT)) % w_total AS BIGINT) "
        "AS remainder FROM w, tot), "
        "bs AS (SELECT CAST(sum(base_quota) AS BIGINT) AS base_sum "
        "FROM g), "
        "r AS (SELECT g.*, row_number() OVER (ORDER BY remainder DESC, "
        "source) AS rk, base_sum FROM g, bs) "
        "SELECT source, tokens, base_quota, remainder, "
        "CAST(CASE WHEN rk <= 1000 - base_sum THEN 1 ELSE 0 END "
        "AS BIGINT) AS extra_seat, "
        "CAST(base_quota + CASE WHEN rk <= 1000 - base_sum THEN 1 "
        "ELSE 0 END AS BIGINT) AS quota FROM r"
    )

    # URL/domain dedup + quality-weighted Hamilton mixture (mirrors
    # curation.DOMAIN_MOD = 2500, DOMAIN_BUDGET = 100000): planted url
    # collisions (trailing digit 7/8/9 -> the ...6 page), linear-skew
    # domains via exact isqrt, per-url min-doc_id survival, per-domain
    # trunc-mean TTR, largest-remainder quota over tokens x quality
    out["domain_dedup_mixture"] = (
        "WITH docs AS (SELECT doc_id, "
        "CASE WHEN doc_id % 10 >= 7 THEN doc_id - (doc_id % 10 - 6) "
        "ELSE doc_id END AS url_key, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, "
        "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) "
        "AS n_distinct FROM documents), "
        "d2 AS (SELECT *, "
        + _isq("(url_key % 2500)")
        + " AS domain_id, "
        "CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY url_key) "
        "THEN 1 ELSE 0 END AS keep FROM docs), "
        "dom AS (SELECT domain_id, "
        "CAST(sum(keep) AS BIGINT) AS n_docs, "
        "CAST(count(*) - sum(keep) AS BIGINT) AS n_dup_removed, "
        "CAST(sum(CASE WHEN keep = 1 THEN n_tok ELSE 0 END) AS BIGINT) "
        "AS tokens, "
        "CAST(sum(CASE WHEN keep = 1 THEN "
        "(n_distinct * 1000000) // n_tok ELSE 0 END) AS BIGINT) "
        "AS ttr_sum FROM d2 GROUP BY domain_id), "
        "m AS (SELECT domain_id, n_docs, n_dup_removed, tokens, "
        "CAST(ttr_sum // n_docs AS BIGINT) AS mean_ttr_micro FROM dom), "
        "wg AS (SELECT *, CAST(tokens AS HUGEINT) * mean_ttr_micro AS w "
        "FROM m), "
        "tot AS (SELECT CAST(sum(w) AS HUGEINT) AS w_total FROM wg), "
        "g AS (SELECT wg.*, "
        "CAST((100000 * w) // w_total AS BIGINT) AS base_quota, "
        "CAST((100000 * w) % w_total AS BIGINT) AS remainder "
        "FROM wg, tot), "
        "bs AS (SELECT CAST(sum(base_quota) AS BIGINT) AS base_sum "
        "FROM g), "
        "r AS (SELECT g.*, row_number() OVER (ORDER BY remainder DESC, "
        "domain_id ASC) AS rk, base_sum FROM g, bs) "
        "SELECT 'd' || domain_id || '.example.com' AS domain, "
        "n_docs, n_dup_removed, tokens, mean_ttr_micro, "
        "CAST(base_quota + CASE WHEN rk <= 100000 - base_sum THEN 1 "
        "ELSE 0 END AS BIGINT) AS quota FROM r"
    )
    # the URL-dedup-at-ingest drain lands behind the same oracle row
    out["domain_dedup_streamed"] = out["domain_dedup_mixture"]

    # DSIR importance weights (mirrors curation.DSIR_BUCKETS = 4096,
    # DSIR_TARGET = 'src0'): hashed-bigram bucket model, add-one
    # smoothing, sign-split ln_micro deltas + factored normalizer
    _p64g = _p64("gram")
    out["dsir_importance"] = (
        "WITH toks AS (SELECT doc_id, source, string_split(text, ' ') "
        "AS tk FROM documents), "
        "g AS (SELECT doc_id, source, tk[i] || ' ' || tk[i+1] AS gram "
        "FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)), "
        "bk AS (SELECT doc_id, source, " + _p64g + " % 4096 AS bucket "
        "FROM g), "
        "bt AS (SELECT bucket, "
        "CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) "
        "AS t_f, "
        "CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) "
        "AS r_f FROM bk GROUP BY bucket), "
        "model AS (SELECT bucket, CASE WHEN t_f >= r_f THEN "
        + _lnm("(t_f + 1)", "(r_f + 1)")
        + " ELSE -" + _lnm("(r_f + 1)", "(t_f + 1)")
        + " END AS delta_unats FROM bt), "
        "tot AS (SELECT CAST(sum(t_f) + 4096 AS BIGINT) AS tb, "
        "CAST(sum(r_f) + 4096 AS BIGINT) AS rb FROM bt), "
        "cn AS (SELECT CASE WHEN rb >= tb THEN " + _lnm("rb", "tb")
        + " ELSE -" + _lnm("tb", "rb") + " END AS c_unats FROM tot), "
        "db AS (SELECT doc_id, source, bucket, count(*) AS c FROM bk "
        "WHERE source <> 'src0' GROUP BY 1, 2, 3) "
        "SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_grams, "
        "CAST(sum(c * delta_unats) + sum(c) * c_unats AS BIGINT) "
        "AS logw_micro "
        "FROM db JOIN model USING (bucket), cn "
        "GROUP BY doc_id, source, c_unats"
    )
    # the importance-model-at-ingest drain lands behind DSIR's row
    out["dsir_streamed"] = out["dsir_importance"]

    # interpolated Kneser-Ney bigram smoothing (mirrors text.
    # KN_DISC_NUM/DEN = 3/4, KN_TOP = 50): exact rational collapse
    # [(4c_uw - 3)N(..) + 3 N1(u.) N1(.w)] / [4 c_u N(..)]
    out["kneser_ney_bigrams"] = (
        "WITH toks AS (SELECT string_split(text, ' ') AS tk "
        "FROM documents WHERE len(string_split(text, ' ')) >= 2), "
        "g AS (SELECT tk[i] AS u, tk[i+1] AS w "
        "FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)), "
        "big AS (SELECT u, w, CAST(count(*) AS BIGINT) AS c_uw "
        "FROM g GROUP BY u, w), "
        "cu AS (SELECT u, CAST(sum(c_uw) AS BIGINT) AS c_u, "
        "CAST(count(*) AS BIGINT) AS n1_u FROM big GROUP BY u), "
        "ncw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_cont_w "
        "FROM big GROUP BY w), "
        "nbb AS (SELECT CAST(count(*) AS BIGINT) AS n_bb FROM big) "
        "SELECT u, w, c_uw, c_u, n1_u, n_cont_w, n_bb, "
        + _hud(
            "((4 * c_uw - 3) * n_bb + 3 * n1_u * n_cont_w)",
            "(4 * c_u * n_bb)",
            6,
        )
        + " AS p_kn "
        "FROM big JOIN cu USING (u) JOIN ncw USING (w), nbb "
        "ORDER BY c_uw DESC, u, w LIMIT 50"
    )

    # HyperBall neighborhood function — the rounds-unrolled register
    # propagation twin is built programmatically (see _hyperball_sql)
    out["hyperball_neighborhood"] = _hyperball_sql()
    out["hyperball_closeness"] = _hyperball_closeness_sql()

    # Good-Turing adjusted counts + unseen mass over count-of-counts
    # (mirrors text.GT_TOP_R = 20): exact rationals, trunc division
    out["good_turing_smoothing"] = (
        "WITH toks AS (SELECT string_split(text, ' ') AS tk "
        "FROM documents WHERE len(string_split(text, ' ')) >= 2), "
        "terms AS (SELECT tk[i] || ' ' || tk[i+1] AS term "
        "FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)), "
        "tf AS (SELECT term, count(*) AS r FROM terms GROUP BY term), "
        "coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tf "
        "GROUP BY r), "
        "tot AS (SELECT count(*) AS n_tokens FROM terms), "
        "p0 AS (SELECT CAST((n_r * 1000000) // n_tokens AS BIGINT) "
        "AS p0_micro FROM coc, tot WHERE r = 1) "
        "SELECT CAST(c.r AS BIGINT) AS r, c.n_r, "
        "CAST(coalesce(x.n_r, 0) AS BIGINT) AS n_r_plus_1, "
        "CAST(((c.r + 1) * coalesce(x.n_r, 0) * 1000000) // c.n_r "
        "AS BIGINT) AS r_star_micro, p0_micro "
        "FROM coc c LEFT JOIN coc x ON x.r = c.r + 1, p0 "
        "WHERE c.r <= 20 ORDER BY c.r"
    )

    # trained multinomial NB language classifier (mirrors
    # text.NB_TEST_MOD = 5): add-one smoothing over train vocab + 1
    # OOV type, decision rule in exact integer micro-nats (ln_micro)
    # the per-doc NB test-fold prediction chain (g..p) is shared by
    # the confusion-matrix entry and the McNemar paired comparison
    _nb_pred_cte = (
        "g AS MATERIALIZED (SELECT doc_id, lang, tok, "
        "CAST(count(*) AS BIGINT) AS c FROM (SELECT doc_id, lang, "
        "unnest(string_split(text, ' ')) AS tok FROM documents) "
        "GROUP BY 1, 2, 3), "
        "tr AS MATERIALIZED (SELECT * FROM g WHERE doc_id % 5 <> 0), "
        "te AS MATERIALIZED (SELECT doc_id, lang AS true_lang, tok, c "
        "FROM g WHERE doc_id % 5 = 0), "
        "v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_n "
        "FROM tr), "
        "cls AS MATERIALIZED (SELECT lang, CAST(sum(c) AS BIGINT) AS tot, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_lang "
        "FROM tr GROUP BY lang), "
        "ndt AS (SELECT CAST(sum(n_docs_lang) AS BIGINT) AS n_docs_total "
        "FROM cls), "
        "langs AS MATERIALIZED (SELECT lang AS hyp, "
        "tot + vocab_n + 1 AS den, "
        + _lnm("n_docs_total", "n_docs_lang")
        + " AS prior_cost FROM cls, v, ndt), "
        "m AS MATERIALIZED (SELECT tok, lang AS hyp, "
        "CAST(sum(c) AS BIGINT) AS ctl FROM tr GROUP BY 1, 2), "
        "sc AS MATERIALIZED (SELECT te.doc_id, te.true_lang, l.hyp, "
        "l.prior_cost + sum(te.c * "
        + _lnm("l.den", "(coalesce(m.ctl, 0) + 1)")
        + ") AS total_cost "
        "FROM te CROSS JOIN langs l "
        "LEFT JOIN m ON m.tok = te.tok AND m.hyp = l.hyp "
        "GROUP BY 1, 2, 3, l.prior_cost), "
        "p AS (SELECT doc_id, true_lang, min(ROW(total_cost, hyp)) "
        "AS pick FROM sc GROUP BY 1, 2)"
    )
    out["nb_lang_classifier"] = (
        "WITH " + _nb_pred_cte + ", "
        "conf AS (SELECT true_lang, pick[2] AS pred_lang, "
        "CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY 1, 2), "
        "acc AS (SELECT CAST(sum(CASE WHEN true_lang = pred_lang "
        "THEN n_docs ELSE 0 END) * 1000000 // sum(n_docs) AS BIGINT) "
        "AS acc_ppm FROM conf) "
        "SELECT true_lang, pred_lang, n_docs, acc_ppm FROM conf, acc "
        "ORDER BY true_lang, pred_lang"
    )

    # McNemar paired test between the NB and lexicon classifiers on
    # the shared test fold: discordant-cell chi^2 in ppm (mirrors
    # text.q_mcnemar_lang_classifiers; NB chain = _nb_pred_cte, lexicon
    # rule = the lang_id oracle's argmax)
    out["mcnemar_lang_classifiers"] = (
        "WITH " + _nb_pred_cte + ", "
        "nbp AS (SELECT doc_id, true_lang, pick[2] AS nb_pred FROM p), "
        "lx AS (SELECT doc_id, pred_lang AS lex_pred FROM ("
        + out["lang_id"]
        + ") WHERE doc_id % 5 = 0), "
        "j AS (SELECT nbp.nb_pred = nbp.true_lang AS nb_ok, "
        "lx.lex_pred = nbp.true_lang AS lex_ok FROM nbp "
        "JOIN lx ON lx.doc_id = nbp.doc_id), "
        "cells AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN nb_ok AND lex_ok THEN 1 ELSE 0 END) "
        "AS BIGINT) AS both_right, "
        "CAST(sum(CASE WHEN nb_ok AND NOT lex_ok THEN 1 ELSE 0 END) "
        "AS BIGINT) AS nb_only_right, "
        "CAST(sum(CASE WHEN NOT nb_ok AND lex_ok THEN 1 ELSE 0 END) "
        "AS BIGINT) AS lex_only_right, "
        "CAST(sum(CASE WHEN NOT nb_ok AND NOT lex_ok THEN 1 ELSE 0 END) "
        "AS BIGINT) AS both_wrong FROM j) "
        "SELECT n_docs, both_right, nb_only_right, lex_only_right, "
        "both_wrong, "
        "CAST((both_right + nb_only_right) * 1000000 // n_docs "
        "AS BIGINT) AS nb_acc_ppm, "
        "CAST((both_right + lex_only_right) * 1000000 // n_docs "
        "AS BIGINT) AS lex_acc_ppm, "
        "CAST((nb_only_right - lex_only_right) * "
        "(nb_only_right - lex_only_right) * 1000000 // "
        "greatest(nb_only_right + lex_only_right, 1) AS BIGINT) "
        "AS chi2_ppm, "
        "(nb_only_right - lex_only_right) * "
        "(nb_only_right - lex_only_right) * 1000000 // "
        "greatest(nb_only_right + lex_only_right, 1) > 3841600 "
        "AS significant FROM cells"
    )

    # Fleiss' kappa across truth/NB/lexicon labels on the test fold:
    # shared-denominator rational form kappa = (3N*S1 - 2*S2) /
    # (18N^2 - 2*S2) (mirrors text.q_fleiss_kappa_langids)
    out["fleiss_kappa_langids"] = (
        "WITH " + _nb_pred_cte + ", "
        "votes AS (SELECT doc_id, true_lang AS cat FROM p "
        "UNION ALL SELECT doc_id, pick[2] AS cat FROM p "
        "UNION ALL SELECT doc_id, pred_lang AS cat FROM ("
        + out["lang_id"]
        + ") WHERE doc_id % 5 = 0), "
        "nij AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS nij "
        "FROM votes GROUP BY 1, 2), "
        "perdoc AS (SELECT doc_id, sum(nij * nij) - 3 AS pi FROM nij "
        "GROUP BY 1), "
        "one AS (SELECT CAST(sum(pi) AS BIGINT) AS s1, "
        "CAST(count(*) AS BIGINT) AS n_docs FROM perdoc), "
        "cat AS (SELECT cat AS category, CAST(count(*) AS BIGINT) AS "
        "n_votes FROM votes GROUP BY 1), "
        "two AS (SELECT CAST(sum(n_votes * n_votes) AS BIGINT) AS s2 "
        "FROM cat), "
        "gl AS (SELECT n_docs, s1, s2, "
        "CAST(s1 * 1000000 // (6 * n_docs) AS BIGINT) AS p_bar_ppm, "
        "CAST(s2 * 1000000 // (9 * n_docs * n_docs) AS BIGINT) AS "
        "p_e_ppm, "
        "CAST(CASE WHEN 3 * n_docs * s1 - 2 * s2 < 0 THEN "
        "-((-(3 * n_docs * s1 - 2 * s2) * 1000) // "
        "(18 * n_docs * n_docs - 2 * s2)) ELSE "
        "((3 * n_docs * s1 - 2 * s2) * 1000) // "
        "(18 * n_docs * n_docs - 2 * s2) END AS BIGINT) AS kappa_milli "
        "FROM one, two) "
        "SELECT category, n_votes, "
        "CAST(n_votes * 1000000 // (3 * n_docs) AS BIGINT) AS p_ppm, "
        "n_docs, s1, s2, p_bar_ppm, p_e_ppm, kappa_milli "
        "FROM cat, gl ORDER BY category"
    )
    # classify-at-ingest drain shares the batch NB oracle (the grid is
    # additive + order-insensitive, nb_finish is the shared tail)
    out["nb_lang_streamed"] = out["nb_lang_classifier"]

    # per-source tokenizer fertility under the fixed BPE apply chain
    out["tokenizer_fertility"] = (
        "WITH s AS (SELECT source, doc_id, string_split(text, ' ') "
        "AS toks FROM documents), "
        "tok AS (SELECT * FROM (SELECT source, doc_id, "
        "unnest(toks) AS token FROM s) WHERE token <> ''), "
        "enc AS (SELECT source, doc_id, "
        "CAST(len(token) AS BIGINT) AS tok_chars, "
        "CAST(len(w) - len(replace(w, '<', '')) AS BIGINT) AS n_pieces "
        "FROM (SELECT source, doc_id, token, "
        + _bpe_chain_sql("regexp_replace(token, '(.)', '<\\1>', 'g')")
        + " AS w FROM tok)) "
        "SELECT source, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        "CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(sum(n_pieces) AS BIGINT) AS n_pieces, "
        "CAST(sum(tok_chars) AS BIGINT) AS n_chars, "
        "CAST((sum(n_pieces) * 1000000) // count(*) AS BIGINT) "
        "AS fertility_micro, "
        "CAST((sum(tok_chars) * 1000000) // sum(n_pieces) AS BIGINT) "
        "AS chars_per_piece_micro "
        "FROM enc GROUP BY source"
    )

    # KMV set algebra (mirrors quality.KMV_K = 256, domain 2^60):
    # union sketch = bottom-k of the merged hash sets; intersection by
    # K_int/k of the union estimate (Beyer et al. 2007)
    _kmvh = _p64("'kmvsa:' || user_id")
    out["kmv_set_algebra"] = (
        "WITH tu AS (SELECT DISTINCT event_type, user_id FROM events "
        "WHERE user_id IS NOT NULL), "
        f"hs AS (SELECT event_type, {_kmvh} AS h FROM tu), "
        "ks AS (SELECT event_type, h FROM (SELECT event_type, h, "
        "row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn "
        "FROM hs) WHERE rn <= 256), "
        "ty AS (SELECT DISTINCT event_type FROM ks), "
        "pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b "
        "FROM ty a JOIN ty b ON a.event_type < b.event_type), "
        "tagged AS (SELECT type_a, type_b, h, 1 AS in_a, 0 AS in_b "
        "FROM pr JOIN ks ON ks.event_type = pr.type_a "
        "UNION ALL SELECT type_a, type_b, h, 0, 1 "
        "FROM pr JOIN ks ON ks.event_type = pr.type_b), "
        "merged AS (SELECT type_a, type_b, h, max(in_a) AS in_a, "
        "max(in_b) AS in_b FROM tagged GROUP BY 1, 2, 3), "
        "uk AS (SELECT * FROM (SELECT *, row_number() OVER "
        "(PARTITION BY type_a, type_b ORDER BY h) AS rn FROM merged) "
        "WHERE rn <= 256), "
        "st AS (SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS filled, "
        "max(h) AS kth, CAST(sum(in_a * in_b) AS BIGINT) AS k_int "
        "FROM uk GROUP BY 1, 2), "
        "ue AS (SELECT *, CASE WHEN filled < 256 THEN filled ELSE "
        f"CAST((CAST(255 AS HUGEINT) * {1 << 60}) // kth AS BIGINT) END "
        "AS kmv_union_est FROM st), "
        "xu AS (SELECT type_a, type_b, "
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact_union FROM ("
        "SELECT type_a, type_b, user_id FROM pr "
        "JOIN tu ON tu.event_type = pr.type_a "
        "UNION ALL SELECT type_a, type_b, user_id FROM pr "
        "JOIN tu ON tu.event_type = pr.type_b) GROUP BY 1, 2), "
        "xi AS (SELECT a.event_type AS type_a, b.event_type AS type_b, "
        "CAST(count(*) AS BIGINT) AS n_exact_intersection "
        "FROM tu a JOIN tu b ON a.user_id = b.user_id "
        "AND a.event_type < b.event_type GROUP BY 1, 2) "
        "SELECT type_a, type_b, k_int, n_exact_union, kmv_union_est, "
        "coalesce(n_exact_intersection, 0) AS n_exact_intersection, "
        "CAST((CAST(k_int AS HUGEINT) * kmv_union_est) // filled "
        "AS BIGINT) AS kmv_intersection_est, "
        "CAST((k_int * 1000) // filled AS BIGINT) AS jaccard_permille "
        "FROM ue JOIN xu USING (type_a, type_b) "
        "LEFT JOIN xi USING (type_a, type_b) "
        "ORDER BY type_a, type_b"
    )

    # reliability table + ECE over the kNN vote-share classifier
    # (the knn_label_accuracy machinery; confidence = votes/5)
    out["calibration_report"] = (
        "WITH q AS (SELECT vec_id AS query_id, "
        "embedding::DOUBLE[] AS qv, label AS true_label "
        "FROM embeddings WHERE vec_id < 100), "
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, "
        "label AS nb_label FROM embeddings), "
        "s AS (SELECT query_id, true_label, neighbor_id, nb_label, "
        "round(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) "
        "* sqrt(list_dot_product(cv, cv))), 4) AS cos_sim "
        "FROM q, c WHERE query_id <> neighbor_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos_sim DESC, neighbor_id) AS rk FROM s), "
        "v AS (SELECT query_id, true_label, nb_label, "
        "CAST(count(*) AS BIGINT) AS votes FROM r WHERE rk <= 5 "
        "GROUP BY 1, 2, 3), "
        "p AS (SELECT query_id, true_label, "
        "min(ROW(-votes, nb_label)) AS pick FROM v GROUP BY 1, 2), "
        "d AS (SELECT query_id, true_label, "
        "CAST(pick[2] AS INTEGER) AS pred_label, "
        "CAST(-pick[1] AS BIGINT) AS votes FROM p), "
        "b AS (SELECT CAST(votes AS INTEGER) AS votes, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_correct FROM d GROUP BY 1), "
        "g AS (SELECT votes, n, n_correct, "
        "CAST(votes * 200 AS BIGINT) AS conf_permille, "
        "CAST((n_correct * 1000) // n AS BIGINT) AS acc_permille FROM b), "
        "g2 AS (SELECT *, abs(acc_permille - conf_permille) "
        "AS gap_permille FROM g), "
        "e AS (SELECT CAST((sum(n * gap_permille) * 1000) // sum(n) "
        "AS BIGINT) AS ece_micro FROM g2) "
        "SELECT votes, n, n_correct, conf_permille, acc_permille, "
        "gap_permille, ece_micro FROM g2, e ORDER BY votes"
    )

    # concat-and-chunk packing (mirrors curation.SEQ_LEN = 256); the
    # oracle uses the naive global cumsum the Spark side decomposes
    out["sequence_packing"] = (
        "WITH d AS (SELECT doc_id, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "c AS (SELECT doc_id, n_tokens, "
        "CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "AS BIGINT) AS cb FROM d) "
        "SELECT doc_id, n_tokens, cb // 256 AS seq_id, "
        "cb % 256 AS seq_offset, "
        "((cb + n_tokens - 1) // 256) - (cb // 256) + 1 AS n_seqs FROM c"
    )

    # mixture rebalancing (mirrors curation.MIXTURE_TOKEN_CAP = 600,
    # MIXTURE_RATE_RESOLUTION = 1e6 parts-per-million, floored to >= 1)
    bucket_ppm = (
        "CAST(('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))"
        "::BIGINT % 1000000 AS INTEGER)"
    )
    out["mixture_rebalance"] = (
        "WITH d AS (SELECT doc_id, source, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "r AS (SELECT source, least(1000000, greatest(1, "
        "(600 * 1000000) // sum(n_tokens))) AS rate FROM d GROUP BY source) "
        "SELECT doc_id, d.source, n_tokens, CAST(rate AS BIGINT) AS rate, "
        f"{bucket_ppm} AS bucket "
        "FROM d JOIN r USING (source) "
        f"WHERE {bucket_ppm} < rate"
    )

    # temperature-flattened mixture: exact integer sqrt both engines
    # (_isq imported at module level)
    out["mixture_temperature"] = (
        "WITH d AS (SELECT source, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "s AS (SELECT source, count(*) AS n_docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS tok FROM d GROUP BY source), "
        f"w AS (SELECT source, n_docs, tok, {_isq('tok')} AS w FROM s), "
        "t AS (SELECT CAST(sum(tok) AS BIGINT) AS tok_total, "
        "CAST(sum(w) AS BIGINT) AS w_total FROM w) "
        "SELECT source, n_docs, tok, w, "
        + _hud("CAST(tok AS HUGEINT) * 1000000", "tok_total", 0)
        + " AS raw_share_ppm, "
        + _hud("CAST(w AS HUGEINT) * 1000000", "w_total", 0)
        + " AS temp_share_ppm, "
        + _hud(
            "CAST(w AS HUGEINT) * tok_total * 1000000",
            "CAST(w_total AS HUGEINT) * tok",
            0,
        )
        + " AS resample_ppm FROM w, t"
    )

    # dataset card: every metric composed FROM the constituent oracle
    # SQL (lang_id / vocab_coverage / bigram_cross_entropy subqueries
    # verbatim), so the card cannot drift from the per-doc queries
    out["corpus_datacard"] = (
        "SELECT 'n_docs' AS metric, "
        "CAST((SELECT count(*) FROM documents) AS DOUBLE) AS value "
        "UNION ALL SELECT 'total_tokens', "
        "CAST((SELECT sum(len(string_split(text, ' '))) FROM documents) "
        "AS DOUBLE) "
        "UNION ALL SELECT 'english_ppm', (SELECT "
        + _hud(
            "sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) * 1000000",
            "count(*)",
            0,
        )
        + " FROM (" + out["lang_id"] + ")) "
        "UNION ALL SELECT 'dup_groups', CAST((SELECT count(*) FROM "
        f"(SELECT count(*) AS sz FROM documents GROUP BY {_nth('text')}) "
        "WHERE sz > 1) AS DOUBLE) "
        "UNION ALL SELECT 'dup_docs', CAST((SELECT sum(sz - 1) FROM "
        f"(SELECT count(*) AS sz FROM documents GROUP BY {_nth('text')})) "
        "AS DOUBLE) "
        "UNION ALL SELECT 'oov_ppm', (SELECT "
        + _hud("sum(n_oov) * 1000000", "sum(n_tokens)", 0)
        + " FROM (" + out["vocab_coverage"] + ")) "
        "UNION ALL SELECT 'bigram_cross_entropy_unats', (SELECT "
        + _hud("sum(sum_cost_unats)", "sum(n_bigrams)", 0)
        + " FROM (" + out["bigram_cross_entropy"] + "))"
    )

    out["cohort_retention"] = (
        "WITH uw AS (SELECT DISTINCT user_id, "
        "epoch_us(ts) // 86400000000 // 7 AS week FROM events), "
        "c AS (SELECT user_id, min(week) AS cohort_week FROM uw "
        "GROUP BY user_id) "
        "SELECT cohort_week, week - cohort_week AS week_offset, "
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_active "
        "FROM uw JOIN c USING (user_id) GROUP BY 1, 2"
    )
    # censoring-aware exponential decay fit over the same retention
    # cells: ln_micro decays, HUGEINT normal equations, sign-split
    # trunc division, 693147·10⁶ // slope half-life
    out["retention_decay_fit"] = (
        "WITH uw AS (SELECT DISTINCT user_id, "
        "epoch_us(ts) // 86400000000 // 7 AS week FROM events), "
        "c AS (SELECT user_id, min(week) AS cohort_week FROM uw "
        "GROUP BY user_id), "
        "cells AS (SELECT cohort_week, week - cohort_week AS k, "
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_active "
        "FROM uw JOIN c USING (user_id) GROUP BY 1, 2), "
        "mx AS (SELECT max(cohort_week + k) AS max_week FROM cells), "
        "sizes AS (SELECT cohort_week, n_active AS cohort_size "
        "FROM cells WHERE k = 0), "
        "num AS (SELECT k AS week_offset, CAST(sum(n_active) AS BIGINT) "
        "AS n_active FROM cells WHERE k >= 1 GROUP BY 1), "
        "den AS (SELECT ks AS week_offset, CAST(sum(cohort_size) "
        "AS BIGINT) AS n_eligible FROM (SELECT cohort_size, "
        "unnest(generate_series(1, max_week - cohort_week)) AS ks "
        "FROM sizes, mx) GROUP BY 1), "
        "pts AS (SELECT week_offset, ("
        + _lnm("n_eligible", "n_active")
        + ") AS y FROM num JOIN den USING (week_offset)), "
        "g AS (SELECT CAST(count(*) AS BIGINT) AS n_points, "
        "sum(CAST(week_offset AS HUGEINT)) AS sx, "
        "sum(CAST(y AS HUGEINT)) AS sy, "
        "sum(CAST(week_offset AS HUGEINT) * y) AS sxy, "
        "sum(CAST(week_offset AS HUGEINT) * week_offset) AS sxx "
        "FROM pts), "
        "s AS (SELECT n_points, n_points * sxy - sx * sy AS nm, "
        "n_points * sxx - sx * sx AS dn FROM g WHERE n_points >= 2), "
        "s2 AS (SELECT n_points, CAST(CASE WHEN nm < 0 THEN "
        "-(((-nm) * 1000000) // dn) ELSE (nm * 1000000) // dn END "
        "AS BIGINT) AS slope_micro_nats_per_week FROM s) "
        "SELECT n_points, slope_micro_nats_per_week, "
        "CAST(CASE WHEN slope_micro_nats_per_week > 0 THEN "
        "693147000000 // slope_micro_nats_per_week ELSE NULL END "
        "AS BIGINT) AS half_life_micro_weeks FROM s2"
    )
    # release gate: built MECHANICALLY from the constituents' own
    # oracle SQL, so the gate can never drift from the checks it reads
    _gate_checks = [
        "duplicate_orderkeys",
        "ri_orphan_lineitems",
        "price_consistency",
        "date_rule_violations",
        "region_mapping_conformance",
    ]
    out["table_release_gate"] = " UNION ALL ".join(
        f"SELECT '{n}' AS check_name, "
        "CAST(count(*) AS BIGINT) AS n_violations, "
        f"count(*) = 0 AS passed FROM ({out[n]})"
        for n in _gate_checks
    ) + (
        " UNION ALL SELECT 'kanonymity_at_risk_rows' AS check_name, "
        "CAST(coalesce(sum(CASE WHEN at_risk THEN n_rows END), 0) "
        "AS BIGINT) AS n_violations, "
        "coalesce(sum(CASE WHEN at_risk THEN n_rows END), 0) = 0 "
        f"AS passed FROM ({out['kanonymity_profile']})"
    )

    out["position_attribution"] = (
        # U-shaped credit over pre-purchase touches: 40/40/20 with
        # window-ranked first/last, middle split by integer div
        "WITH e AS (SELECT user_id, event_type, event_id, "
        "epoch_us(ts) AS us FROM events), "
        "buys AS (SELECT user_id, min(us) AS t_buy FROM e "
        "WHERE event_type = 'purchase' GROUP BY 1), "
        "tch AS (SELECT e.user_id, event_type, event_id, us "
        "FROM e JOIN buys USING (user_id) "
        "WHERE event_type IN ('view', 'click', 'signup') "
        "AND us < t_buy), "
        "r AS (SELECT user_id, event_type, "
        "row_number() OVER (PARTITION BY user_id ORDER BY us, "
        "event_id) AS rk, "
        "row_number() OVER (PARTITION BY user_id ORDER BY us DESC, "
        "event_id DESC) AS rk_rev, "
        "count(*) OVER (PARTITION BY user_id) AS n FROM tch), "
        "c AS (SELECT event_type AS channel, "
        "CASE WHEN rk = 1 THEN 1 ELSE 0 END AS is_first, "
        "CASE WHEN rk_rev = 1 AND n > 1 THEN 1 ELSE 0 END AS is_last, "
        "CASE WHEN rk > 1 AND rk_rev > 1 THEN 1 ELSE 0 END AS is_mid, "
        "CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000 "
        "WHEN rk = 1 THEN 400000 WHEN rk_rev = 1 THEN 400000 "
        "ELSE 200000 // (n - 2) END AS credit FROM r) "
        "SELECT channel, CAST(sum(is_first) AS BIGINT) AS n_first, "
        "CAST(sum(is_last) AS BIGINT) AS n_last, "
        "CAST(sum(is_mid) AS BIGINT) AS n_middle, "
        "CAST(sum(credit) AS BIGINT) AS credit_ppm "
        "FROM c GROUP BY 1 ORDER BY 1"
    )
    out["time_decay_attribution"] = (
        # weight halves per DAY of age: 1e6 >> age_days (cap 30),
        # credit = trunc(wt * 1e6 / user weight sum)
        "WITH e AS (SELECT user_id, event_type, event_id, "
        "epoch_us(ts) AS us FROM events), "
        "buys AS (SELECT user_id, min(us) AS t_buy FROM e "
        "WHERE event_type = 'purchase' GROUP BY 1), "
        "tch AS (SELECT e.user_id, event_type, us, t_buy "
        "FROM e JOIN buys USING (user_id) "
        "WHERE event_type IN ('view', 'click', 'signup') "
        "AND us < t_buy), "
        "w AS (SELECT user_id, event_type, "
        "CAST(1000000 AS BIGINT) >> CAST(least("
        "(t_buy - us) // 86400000000, 30) AS INTEGER) AS wt "
        "FROM tch), "
        "ws AS (SELECT event_type, wt, "
        "sum(wt) OVER (PARTITION BY user_id) AS w_sum FROM w) "
        "SELECT event_type AS channel, "
        "CAST(count(*) AS BIGINT) AS n_touches, "
        "CAST(sum(wt) AS BIGINT) AS weight_sum, "
        "CAST(sum(CASE WHEN w_sum > 0 THEN (wt * 1000000) // w_sum "
        "ELSE 0 END) AS BIGINT) AS credit_ppm "
        "FROM ws GROUP BY 1 ORDER BY 1"
    )
    out["temporal_gap_coalesce"] = (
        # gaps-and-islands pack: island starts where start_d exceeds
        # the running max end over strictly-preceding intervals
        "WITH ends AS (SELECT l_orderkey, "
        "max(CAST(l_shipdate AS DATE)) AS end_d "
        "FROM lineitem GROUP BY 1), "
        "iv AS (SELECT o_orderkey, o_custkey AS custkey, "
        "CAST(o_orderdate AS DATE) AS start_d, "
        "greatest(CAST(o_orderdate AS DATE), end_d) AS end_d "
        "FROM orders JOIN ends ON o_orderkey = l_orderkey), "
        "m AS (SELECT custkey, o_orderkey, start_d, end_d, "
        "CASE WHEN start_d > coalesce(max(end_d) OVER ("
        "PARTITION BY custkey ORDER BY start_d, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
        "DATE '0001-01-01') + 1 THEN 1 ELSE 0 END AS new_island "
        "FROM iv), "
        "i AS (SELECT custkey, start_d, end_d, "
        "sum(new_island) OVER (PARTITION BY custkey "
        "ORDER BY start_d, o_orderkey) AS island FROM m), "
        "g AS (SELECT custkey, island, "
        "CAST(count(*) AS BIGINT) AS n_orders, "
        "min(start_d) AS s, max(end_d) AS e FROM i GROUP BY 1, 2) "
        "SELECT custkey, CAST(sum(n_orders) AS BIGINT) AS n_orders, "
        "CAST(count(*) AS BIGINT) AS n_islands, "
        "CAST(sum(e - s + 1) AS BIGINT) AS covered_days, "
        "CAST(max(e - s + 1) AS BIGINT) AS longest_island_days "
        "FROM g GROUP BY 1 ORDER BY 1"
    )

    out["hot_keys_top"] = (
        # per-table top-20 heaviest keys with half-up ppm share
        "(SELECT 'lineitem.l_partkey' AS target, CAST(l_partkey AS BIGINT) AS key, CAST(count(*) AS BIGINT) AS n_rows, (CAST(((CAST(count(*) * 1000000 AS HUGEINT) * 2 + CAST((SELECT count(*) FROM lineitem) AS HUGEINT)) // (CAST((SELECT count(*) FROM lineitem) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) AS share_ppm FROM lineitem GROUP BY l_partkey ORDER BY n_rows DESC, key LIMIT 20) UNION ALL (SELECT 'orders.o_custkey' AS target, CAST(o_custkey AS BIGINT) AS key, CAST(count(*) AS BIGINT) AS n_rows, (CAST(((CAST(count(*) * 1000000 AS HUGEINT) * 2 + CAST((SELECT count(*) FROM orders) AS HUGEINT)) // (CAST((SELECT count(*) FROM orders) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) AS share_ppm FROM orders GROUP BY o_custkey ORDER BY n_rows DESC, key LIMIT 20)"
    )
    out["selectivity_audit"] = (
        # equi-width vs equi-depth histogram estimates vs truth over
        # the distinct-cents grid; per-bucket trunc interpolation
        "WITH grid AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1), bounds AS (SELECT min(c) AS cmin, max(c) AS cmax, CAST(sum(n) AS BIGINT) AS n_total FROM grid), width AS (SELECT b, min(cmin + b * w) AS lo, min(cmin + (b + 1) * w - 1) AS hi, CAST(sum(n) AS BIGINT) AS nb FROM (SELECT c, n, cmin, (cmax - cmin + 16) // 16 AS w, (c - cmin) // ((cmax - cmin + 16) // 16) AS b FROM grid, bounds) GROUP BY b), depth AS (SELECT b, min(c) AS lo, max(c) AS hi, CAST(sum(n) AS BIGINT) AS nb FROM (SELECT c, n, (sum(n) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 8 + n_total - 1) // n_total AS b FROM grid, bounds) GROUP BY b), p AS (SELECT 'le_20k' AS predicate, (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM grid WHERE c >= -4611686018427387904 AND c <= 2000000) AS actual_rows, (SELECT CAST(sum(CASE WHEN least(hi, 2000000) >= greatest(lo, -4611686018427387904) THEN (nb * (least(hi, 2000000) - greatest(lo, -4611686018427387904) + 1)) // (hi - lo + 1) ELSE 0 END) AS BIGINT) FROM width) AS est_width, (SELECT CAST(sum(CASE WHEN least(hi, 2000000) >= greatest(lo, -4611686018427387904) THEN (nb * (least(hi, 2000000) - greatest(lo, -4611686018427387904) + 1)) // (hi - lo + 1) ELSE 0 END) AS BIGINT) FROM depth) AS est_depth UNION ALL SELECT 'btw_10k_30k' AS predicate, (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM grid WHERE c >= 1000000 AND c <= 3000000) AS actual_rows, (SELECT CAST(sum(CASE WHEN least(hi, 3000000) >= greatest(lo, 1000000) THEN (nb * (least(hi, 3000000) - greatest(lo, 1000000) + 1)) // (hi - lo + 1) ELSE 0 END) AS BIGINT) FROM width) AS est_width, (SELECT CAST(sum(CASE WHEN least(hi, 3000000) >= greatest(lo, 1000000) THEN (nb * (least(hi, 3000000) - greatest(lo, 1000000) + 1)) // (hi - lo + 1) ELSE 0 END) AS BIGINT) FROM depth) AS est_depth UNION ALL SELECT 'ge_50k' AS predicate, (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM grid WHERE c >= 5000000 AND c <= 4611686018427387904) AS actual_rows, (SELECT CAST(sum(CASE WHEN least(hi, 4611686018427387904) >= greatest(lo, 5000000) THEN (nb * (least(hi, 4611686018427387904) - greatest(lo, 5000000) + 1)) // (hi - lo + 1) ELSE 0 END) AS BIGINT) FROM width) AS est_width, (SELECT CAST(sum(CASE WHEN least(hi, 4611686018427387904) >= greatest(lo, 5000000) THEN (nb * (least(hi, 4611686018427387904) - greatest(lo, 5000000) + 1)) // (hi - lo + 1) ELSE 0 END) AS BIGINT) FROM depth) AS est_depth) SELECT predicate, actual_rows, est_width, est_depth, CAST(CASE WHEN (est_width - actual_rows) * 1000000 < 0 THEN -((-((est_width - actual_rows) * 1000000)) // greatest(actual_rows, 1)) ELSE ((est_width - actual_rows) * 1000000) // greatest(actual_rows, 1) END AS BIGINT) AS err_width_micro, CAST(CASE WHEN (est_depth - actual_rows) * 1000000 < 0 THEN -((-((est_depth - actual_rows) * 1000000)) // greatest(actual_rows, 1)) ELSE ((est_depth - actual_rows) * 1000000) // greatest(actual_rows, 1) END AS BIGINT) AS err_depth_micro FROM p ORDER BY predicate"
    )
    out["column_encoding_stats"] = (
        # dict bits = length(bin(ndv-1)); runs counted per order-day
        'SELECT \'o_orderpriority\' AS "column", CAST(count(*) AS BIGINT) AS n_rows, CAST(count(DISTINCT v) AS BIGINT) AS n_distinct, CAST(sum(is_run_start) AS BIGINT) AS n_runs, CAST(CASE WHEN count(DISTINCT v) <= 1 THEN 0 ELSE length(bin(count(DISTINCT v) - 1)) END AS BIGINT) AS dict_bits_per_value, (CAST(((CAST(sum(is_run_start) * 1000000 AS HUGEINT) * 2 + CAST(count(*) AS HUGEINT)) // (CAST(count(*) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) AS rle_runs_ppm FROM (SELECT o_orderpriority AS v, CASE WHEN lag(o_orderpriority) OVER (PARTITION BY CAST(o_orderdate AS DATE) ORDER BY o_orderkey) IS NULL OR lag(o_orderpriority) OVER (PARTITION BY CAST(o_orderdate AS DATE) ORDER BY o_orderkey) <> o_orderpriority THEN 1 ELSE 0 END AS is_run_start FROM orders) UNION ALL SELECT \'o_orderstatus\' AS "column", CAST(count(*) AS BIGINT) AS n_rows, CAST(count(DISTINCT v) AS BIGINT) AS n_distinct, CAST(sum(is_run_start) AS BIGINT) AS n_runs, CAST(CASE WHEN count(DISTINCT v) <= 1 THEN 0 ELSE length(bin(count(DISTINCT v) - 1)) END AS BIGINT) AS dict_bits_per_value, (CAST(((CAST(sum(is_run_start) * 1000000 AS HUGEINT) * 2 + CAST(count(*) AS HUGEINT)) // (CAST(count(*) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) AS rle_runs_ppm FROM (SELECT o_orderstatus AS v, CASE WHEN lag(o_orderstatus) OVER (PARTITION BY CAST(o_orderdate AS DATE) ORDER BY o_orderkey) IS NULL OR lag(o_orderstatus) OVER (PARTITION BY CAST(o_orderdate AS DATE) ORDER BY o_orderkey) <> o_orderstatus THEN 1 ELSE 0 END AS is_run_start FROM orders) ORDER BY "column"'
    )

    out["randomization_test_diff"] = (
        # Bernoulli randomization test: one md5 seed per order + the
        # splitmix60 mixer per replicate (bit-identical cross-engine);
        # cross-multiplied |mean gap| at milli, p = share >= observed
        "WITH base AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS true_a, ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS seed FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')), tot AS (SELECT CAST(sum(true_a) AS BIGINT) AS n_a_true, CAST(count(*) AS BIGINT) AS n_all FROM base), fan AS (SELECT c, true_a, seed, CAST((CAST(n_a_true AS HUGEINT) * 1152921504606846976) // n_all AS BIGINT) AS thr, r FROM base, tot CROSS JOIN (SELECT unnest(generate_series(-1, 63)) AS r) rr), m AS (SELECT c, true_a, thr, r, xor(((((((xor(((((((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976), ((((((xor(((((((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((seed) + (CAST(r AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976) >> 32) AS u FROM fan), lab AS (SELECT r, c, CASE WHEN r = -1 THEN true_a WHEN u < thr THEN 1 ELSE 0 END AS a FROM m), grid AS (SELECT r, CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(a * c) AS BIGINT) AS s_a, CAST(sum(1 - a) AS BIGINT) AS n_b, CAST(sum((1 - a) * c) AS BIGINT) AS s_b FROM lab GROUP BY r), scored AS (SELECT r, n_a, n_b, CASE WHEN n_a > 0 AND n_b > 0 THEN CAST((abs(CAST(s_a AS HUGEINT) * n_b - CAST(s_b AS HUGEINT) * n_a) * 1000) // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) ELSE 0 END AS dm FROM grid), obs AS (SELECT n_a AS n_a_obs, n_b AS n_b_obs, dm AS obs_dm FROM scored WHERE r = -1) SELECT CAST(max(n_a_obs) AS BIGINT) AS n_a, CAST(max(n_b_obs) AS BIGINT) AS n_b, CAST(max(obs_dm) AS BIGINT) AS obs_dm_milli, CAST(count(*) AS BIGINT) AS n_replicates, CAST(sum(CASE WHEN dm >= obs_dm THEN 1 ELSE 0 END) AS BIGINT) AS n_ge, CAST((CAST(sum(CASE WHEN dm >= obs_dm THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS BIGINT) AS p_value_micro FROM scored, obs WHERE r >= 0"
    )

    out["ann_ndcg_exactint"] = (
        # NDCG@5 of the served grid-ANN list vs the exact-int brute
        # top-5; literal micro discount ladder, IDCG = 10271920
        "WITH q0 AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q "
        "FROM embeddings), "
        "q1 AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, "
        "x -> x * x)) AS BIGINT) AS nq FROM q0), "
        "pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
        "CAST(list_sum(list_transform(generate_series(1, 64), "
        "i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS dot, "
        "a.nq AS na, b.nq AS nb FROM q1 a JOIN q1 b "
        "ON a.vec_id < 20 AND b.vec_id <> a.vec_id), "
        "sc AS (SELECT query_id, neighbor_id, "
        + '(CAST(((CAST(dot AS HUGEINT) * 2000000 + CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT)) // (CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0)'
        + " AS cos FROM pairs WHERE dot > 0), "
        "tr AS (SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS brank "
        "FROM sc), "
        "truth AS (SELECT * FROM tr WHERE brank <= 5), "
        "got AS ("
        + out["ann_topk_exactint"]
        + "), "
        "j AS (SELECT g.query_id, g.rank, "
        "coalesce(6 - t.brank, 0) AS rel FROM got g LEFT JOIN truth t "
        "ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id) "
        "SELECT query_id, CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_hits, "
        "CAST(sum(rel * CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000 WHEN 4 THEN 430676 ELSE 386852 END) AS BIGINT) AS dcg_micro, "
        "CAST((CAST(sum(rel * CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000 WHEN 4 THEN 430676 ELSE 386852 END) AS BIGINT) * 1000000) // 10271920 "
        "AS BIGINT) AS ndcg_micro FROM j GROUP BY 1 ORDER BY 1"
    )

    out["matryoshka_prefix_recall"] = (
        # per-prefix-dim exact-int cosine top-5 vs the full-dim top-5
        'WITH q0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q FROM embeddings), top8 AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM (SELECT query_id, neighbor_id, (CAST(((CAST(dot AS HUGEINT) * 2000000 + CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT)) // (CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS cos FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(list_sum(list_transform(generate_series(1, 8), i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS dot, CAST(list_sum(list_transform(generate_series(1, 8), i -> a.q[CAST(i AS INT)] * a.q[CAST(i AS INT)])) AS BIGINT) AS na, CAST(list_sum(list_transform(generate_series(1, 8), i -> b.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS nb FROM q0 a JOIN q0 b ON a.vec_id < 20 AND b.vec_id <> a.vec_id) WHERE dot > 0)) WHERE rk <= 5), top16 AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM (SELECT query_id, neighbor_id, (CAST(((CAST(dot AS HUGEINT) * 2000000 + CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT)) // (CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS cos FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(list_sum(list_transform(generate_series(1, 16), i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS dot, CAST(list_sum(list_transform(generate_series(1, 16), i -> a.q[CAST(i AS INT)] * a.q[CAST(i AS INT)])) AS BIGINT) AS na, CAST(list_sum(list_transform(generate_series(1, 16), i -> b.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS nb FROM q0 a JOIN q0 b ON a.vec_id < 20 AND b.vec_id <> a.vec_id) WHERE dot > 0)) WHERE rk <= 5), top32 AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM (SELECT query_id, neighbor_id, (CAST(((CAST(dot AS HUGEINT) * 2000000 + CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT)) // (CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS cos FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(list_sum(list_transform(generate_series(1, 32), i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS dot, CAST(list_sum(list_transform(generate_series(1, 32), i -> a.q[CAST(i AS INT)] * a.q[CAST(i AS INT)])) AS BIGINT) AS na, CAST(list_sum(list_transform(generate_series(1, 32), i -> b.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS nb FROM q0 a JOIN q0 b ON a.vec_id < 20 AND b.vec_id <> a.vec_id) WHERE dot > 0)) WHERE rk <= 5), top64 AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk FROM (SELECT query_id, neighbor_id, (CAST(((CAST(dot AS HUGEINT) * 2000000 + CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT)) // (CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END)) * ((CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS cos FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(list_sum(list_transform(generate_series(1, 64), i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS dot, CAST(list_sum(list_transform(generate_series(1, 64), i -> a.q[CAST(i AS INT)] * a.q[CAST(i AS INT)])) AS BIGINT) AS na, CAST(list_sum(list_transform(generate_series(1, 64), i -> b.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS nb FROM q0 a JOIN q0 b ON a.vec_id < 20 AND b.vec_id <> a.vec_id) WHERE dot > 0)) WHERE rk <= 5) SELECT * FROM (SELECT CAST(8 AS BIGINT) AS dim, (SELECT CAST(count(*) AS BIGINT) FROM top64) AS n_truth_pairs, (SELECT CAST(count(*) AS BIGINT) FROM top8 x JOIN top64 y ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id) AS n_hits, (SELECT CAST(((SELECT count(*) FROM top8 x JOIN top64 y ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id) * 1000000) // (SELECT count(*) FROM top64) AS BIGINT)) AS recall_micro UNION ALL SELECT CAST(16 AS BIGINT) AS dim, (SELECT CAST(count(*) AS BIGINT) FROM top64) AS n_truth_pairs, (SELECT CAST(count(*) AS BIGINT) FROM top16 x JOIN top64 y ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id) AS n_hits, (SELECT CAST(((SELECT count(*) FROM top16 x JOIN top64 y ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id) * 1000000) // (SELECT count(*) FROM top64) AS BIGINT)) AS recall_micro UNION ALL SELECT CAST(32 AS BIGINT) AS dim, (SELECT CAST(count(*) AS BIGINT) FROM top64) AS n_truth_pairs, (SELECT CAST(count(*) AS BIGINT) FROM top32 x JOIN top64 y ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id) AS n_hits, (SELECT CAST(((SELECT count(*) FROM top32 x JOIN top64 y ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id) * 1000000) // (SELECT count(*) FROM top64) AS BIGINT)) AS recall_micro UNION ALL SELECT CAST(64 AS BIGINT) AS dim, (SELECT CAST(count(*) AS BIGINT) FROM top64) AS n_truth_pairs, (SELECT CAST(count(*) AS BIGINT) FROM top64 x JOIN top64 y ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id) AS n_hits, (SELECT CAST(((SELECT count(*) FROM top64 x JOIN top64 y ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id) * 1000000) // (SELECT count(*) FROM top64) AS BIGINT)) AS recall_micro) ORDER BY dim'
    )

    out["info_gain_features"] = (
        # IG(Y;X) = H(Y) - H(Y|X) in exact micro-nats over the cell
        # dictionary (ln_micro on both engines)
        "WITH returned AS (SELECT DISTINCT l_orderkey AS rk FROM lineitem WHERE l_returnflag = 'R'), base AS (SELECT o_orderpriority, c_mktsegment, o_orderdate, CASE WHEN rk IS NOT NULL THEN 1 ELSE 0 END AS y FROM orders JOIN customer ON o_custkey = c_custkey LEFT JOIN returned ON o_orderkey = rk), p AS (SELECT 'o_orderpriority' AS feature, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT o_orderpriority FROM base)) AS n_values, (SELECT (CAST(((CAST(sum(CAST(n_y AS HUGEINT) * ((((length(bin((n // n_y))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(n AS BIGINT) * 1073741824) // n_y) >> (length(bin((n // n_y))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS HUGEINT) * 2 + CAST(max(n) AS HUGEINT)) // (CAST(max(n) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) FROM (SELECT y, CAST(count(*) AS BIGINT) AS n_y, (SELECT count(*) FROM base) AS n FROM base GROUP BY y)) AS hy, (SELECT (CAST(((CAST(sum(CAST(n_xy AS HUGEINT) * ((((length(bin((n_x // n_xy))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(n_x AS BIGINT) * 1073741824) // n_xy) >> (length(bin((n_x // n_xy))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS HUGEINT) * 2 + CAST((SELECT count(*) FROM base) AS HUGEINT)) // (CAST((SELECT count(*) FROM base) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) FROM (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy, CAST(sum(count(*)) OVER (PARTITION BY x) AS BIGINT) AS n_x FROM (SELECT o_orderpriority AS x, y FROM base) GROUP BY x, y)) AS hc UNION ALL SELECT 'c_mktsegment' AS feature, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT c_mktsegment FROM base)) AS n_values, (SELECT (CAST(((CAST(sum(CAST(n_y AS HUGEINT) * ((((length(bin((n // n_y))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(n AS BIGINT) * 1073741824) // n_y) >> (length(bin((n // n_y))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS HUGEINT) * 2 + CAST(max(n) AS HUGEINT)) // (CAST(max(n) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) FROM (SELECT y, CAST(count(*) AS BIGINT) AS n_y, (SELECT count(*) FROM base) AS n FROM base GROUP BY y)) AS hy, (SELECT (CAST(((CAST(sum(CAST(n_xy AS HUGEINT) * ((((length(bin((n_x // n_xy))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(n_x AS BIGINT) * 1073741824) // n_xy) >> (length(bin((n_x // n_xy))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS HUGEINT) * 2 + CAST((SELECT count(*) FROM base) AS HUGEINT)) // (CAST((SELECT count(*) FROM base) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) FROM (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy, CAST(sum(count(*)) OVER (PARTITION BY x) AS BIGINT) AS n_x FROM (SELECT c_mktsegment AS x, y FROM base) GROUP BY x, y)) AS hc UNION ALL SELECT 'order_year' AS feature, (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT CAST(year(o_orderdate) AS VARCHAR) FROM base)) AS n_values, (SELECT (CAST(((CAST(sum(CAST(n_y AS HUGEINT) * ((((length(bin((n // n_y))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(n AS BIGINT) * 1073741824) // n_y) >> (length(bin((n // n_y))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS HUGEINT) * 2 + CAST(max(n) AS HUGEINT)) // (CAST(max(n) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) FROM (SELECT y, CAST(count(*) AS BIGINT) AS n_y, (SELECT count(*) FROM base) AS n FROM base GROUP BY y)) AS hy, (SELECT (CAST(((CAST(sum(CAST(n_xy AS HUGEINT) * ((((length(bin((n_x // n_xy))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(n_x AS BIGINT) * 1073741824) // n_xy) >> (length(bin((n_x // n_xy))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS HUGEINT) * 2 + CAST((SELECT count(*) FROM base) AS HUGEINT)) // (CAST((SELECT count(*) FROM base) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) FROM (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy, CAST(sum(count(*)) OVER (PARTITION BY x) AS BIGINT) AS n_x FROM (SELECT CAST(year(o_orderdate) AS VARCHAR) AS x, y FROM base) GROUP BY x, y)) AS hc) SELECT feature, n_values, CAST(hy AS BIGINT) AS h_y_unats, CAST(hc AS BIGINT) AS h_y_given_x_unats, CAST(hy AS BIGINT) - CAST(hc AS BIGINT) AS info_gain_unats FROM p ORDER BY feature"
    )

    out["deterministic_random_walks"] = (
        # DeepWalk corpus: neighbor pick = splitmix60(md5(node),
        # walk*8+step) mod degree over the id-ranked adjacency
        "WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), ok AS (SELECT l_orderkey FROM basket GROUP BY l_orderkey HAVING count(*) <= 50), b2 AS (SELECT b.l_orderkey, b.l_partkey FROM basket b JOIN ok USING (l_orderkey)), ed AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders FROM b2 a JOIN b2 b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2), und AS (SELECT part_a AS src, part_b AS dst, n_orders FROM ed UNION ALL SELECT part_b, part_a, n_orders FROM ed), adj AS (SELECT src, dst, CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS nbr_rank FROM und), deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src), seeds AS (SELECT CAST(src AS BIGINT) AS seed FROM (SELECT src, sum(n_orders) AS wdeg FROM und GROUP BY src) ORDER BY wdeg DESC, src LIMIT 10), s0 AS (SELECT seed, walk_id, seed AS cur FROM seeds CROSS JOIN (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT) AS walk_id) ww), m1 AS (SELECT t.seed, t.walk_id, t.cur, ((xor(((((((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976), ((((((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 1) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976) >> 32)) % d.deg) + 1 AS pick FROM s0 t JOIN deg d ON t.cur = d.src), s1 AS (SELECT m.seed, m.walk_id, a.dst AS cur FROM m1 m JOIN adj a ON m.cur = a.src AND m.pick = a.nbr_rank), m2 AS (SELECT t.seed, t.walk_id, t.cur, ((xor(((((((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976), ((((((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 2) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976) >> 32)) % d.deg) + 1 AS pick FROM s1 t JOIN deg d ON t.cur = d.src), s2 AS (SELECT m.seed, m.walk_id, a.dst AS cur FROM m2 m JOIN adj a ON m.cur = a.src AND m.pick = a.nbr_rank), m3 AS (SELECT t.seed, t.walk_id, t.cur, ((xor(((((((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976), ((((((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 3) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976) >> 32)) % d.deg) + 1 AS pick FROM s2 t JOIN deg d ON t.cur = d.src), s3 AS (SELECT m.seed, m.walk_id, a.dst AS cur FROM m3 m JOIN adj a ON m.cur = a.src AND m.pick = a.nbr_rank), m4 AS (SELECT t.seed, t.walk_id, t.cur, ((xor(((((((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976), ((((((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) >> 30) * 2246822519) % 1073741824) * 1073741824 + ((xor(((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976), ((((((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) >> 30) * 2654435761) % 1073741824) * 1073741824 + ((xor((((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976), (((('0x' || substr(md5(CAST(t.cur AS VARCHAR)), 1, 15))::BIGINT) + (CAST((t.walk_id * 8 + 4) AS BIGINT) + 1) * 15614961330584597 % 1152921504606846976) % 1152921504606846976) >> 31)) % 1073741824) * 2654435761) % 1152921504606846976) >> 29)) % 1073741824) * 2246822519) % 1152921504606846976) >> 32)) % d.deg) + 1 AS pick FROM s3 t JOIN deg d ON t.cur = d.src), s4 AS (SELECT m.seed, m.walk_id, a.dst AS cur FROM m4 m JOIN adj a ON m.cur = a.src AND m.pick = a.nbr_rank) SELECT seed, walk_id, CAST(0 AS INTEGER) AS step, CAST(cur AS BIGINT) AS node FROM s0 UNION ALL SELECT seed, walk_id, CAST(1 AS INTEGER) AS step, CAST(cur AS BIGINT) AS node FROM s1 UNION ALL SELECT seed, walk_id, CAST(2 AS INTEGER) AS step, CAST(cur AS BIGINT) AS node FROM s2 UNION ALL SELECT seed, walk_id, CAST(3 AS INTEGER) AS step, CAST(cur AS BIGINT) AS node FROM s3 UNION ALL SELECT seed, walk_id, CAST(4 AS INTEGER) AS step, CAST(cur AS BIGINT) AS node FROM s4 ORDER BY seed, walk_id, step"
    )

    # 4 synchronous min-tie-break LPA rounds; AS MATERIALIZED per
    # stage (the kcore recursive-reinline lesson). The prefix (edges →
    # und → l0..l4) is shared by the community listing AND the
    # modularity audit so the two can never drift.
    _lpa_prefix = 'WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), ok AS (SELECT l_orderkey FROM basket GROUP BY l_orderkey HAVING count(*) <= 50), b2 AS (SELECT b.l_orderkey, b.l_partkey FROM basket b JOIN ok USING (l_orderkey)), ed AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders FROM b2 a JOIN b2 b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2), und AS MATERIALIZED (SELECT part_a AS src, part_b AS dst FROM ed UNION ALL SELECT part_b, part_a FROM ed), l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM und), c1 AS (SELECT u.src, l.lbl, count(*) AS n FROM und u JOIN l0 l ON u.dst = l.id GROUP BY 1, 2), l1 AS MATERIALIZED (SELECT src AS id, lbl FROM (SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY n DESC, lbl) AS rk FROM c1) WHERE rk = 1), c2 AS (SELECT u.src, l.lbl, count(*) AS n FROM und u JOIN l1 l ON u.dst = l.id GROUP BY 1, 2), l2 AS MATERIALIZED (SELECT src AS id, lbl FROM (SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY n DESC, lbl) AS rk FROM c2) WHERE rk = 1), c3 AS (SELECT u.src, l.lbl, count(*) AS n FROM und u JOIN l2 l ON u.dst = l.id GROUP BY 1, 2), l3 AS MATERIALIZED (SELECT src AS id, lbl FROM (SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY n DESC, lbl) AS rk FROM c3) WHERE rk = 1), c4 AS (SELECT u.src, l.lbl, count(*) AS n FROM und u JOIN l3 l ON u.dst = l.id GROUP BY 1, 2), l4 AS MATERIALIZED (SELECT src AS id, lbl FROM (SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY n DESC, lbl) AS rk FROM c4) WHERE rk = 1)'
    out["label_propagation_communities"] = (
        _lpa_prefix
        + ' SELECT CAST(l.id AS BIGINT) AS part, CAST(l.lbl AS BIGINT) AS community, CAST(s.n AS BIGINT) AS community_size FROM l4 l JOIN (SELECT lbl, count(*) AS n FROM l4 GROUP BY lbl) s ON l.lbl = s.lbl ORDER BY part'
    )

    # Newman modularity of the converged LPA partition: exact integer
    # numerators over the common denominator 4m² (mirrors
    # graph.q_community_modularity — no division ever happens)
    out["community_modularity"] = (
        _lpa_prefix + ", "
        "m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM ed), "
        "ein AS (SELECT la.lbl AS community, CAST(count(*) AS BIGINT) "
        "AS e_in FROM ed JOIN l4 la ON la.id = ed.part_a "
        "JOIN l4 lb ON lb.id = ed.part_b WHERE la.lbl = lb.lbl "
        "GROUP BY 1), "
        "deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg "
        "FROM und GROUP BY 1), "
        "comm AS (SELECT l4.lbl AS community, "
        "CAST(count(*) AS BIGINT) AS n_nodes, "
        "CAST(sum(deg) AS BIGINT) AS d_sum "
        "FROM l4 JOIN deg USING (id) GROUP BY 1), "
        "per AS (SELECT community, n_nodes, "
        "CAST(coalesce(e_in, 0) AS BIGINT) AS e_in, d_sum, "
        "CAST(4 * m_edges * coalesce(e_in, 0) - d_sum * d_sum "
        "AS BIGINT) AS contrib_num, m_edges "
        "FROM comm LEFT JOIN ein USING (community), m), "
        "qn AS (SELECT CAST(sum(contrib_num) AS BIGINT) AS q_num "
        "FROM per) "
        "SELECT CAST(community AS BIGINT) AS community, n_nodes, e_in, "
        "d_sum, contrib_num, m_edges, q_num FROM per, qn "
        "ORDER BY community"
    )

    # shared thresholded co-purchase edge list (the LPA prefix's edge
    # stage, without the propagation rounds) for the per-node density
    # and degree-mixing audits
    _edge_prefix = (
        "WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM "
        "lineitem), ok AS (SELECT l_orderkey FROM basket GROUP BY "
        "l_orderkey HAVING count(*) <= 50), b2 AS (SELECT b.l_orderkey, "
        "b.l_partkey FROM basket b JOIN ok USING (l_orderkey)), "
        "ed AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b "
        "FROM b2 a JOIN b2 b ON a.l_orderkey = b.l_orderkey AND "
        "a.l_partkey < b.l_partkey GROUP BY 1, 2 "
        "HAVING count(*) >= 2), "
        "und AS MATERIALIZED (SELECT part_a AS src, part_b AS dst "
        "FROM ed UNION ALL SELECT part_b, part_a FROM ed), "
        "deg AS MATERIALIZED (SELECT src AS id, "
        "CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1)"
    )

    # local clustering coefficients + global transitivity: wedge-close
    # triangle counts per node, exact ppm (mirrors
    # graph.q_clustering_coefficients)
    out["clustering_coefficients"] = (
        _edge_prefix + ", "
        "wg AS (SELECT a.src AS v, a.dst AS u, b.dst AS wn "
        "FROM und a JOIN und b ON a.src = b.src AND a.dst < b.dst), "
        "tr AS (SELECT v, CAST(count(*) AS BIGINT) AS tri FROM wg "
        "JOIN ed ON ed.part_a = wg.u AND ed.part_b = wg.wn "
        "GROUP BY 1), "
        "per AS (SELECT id AS part, deg, "
        "CAST(coalesce(tri, 0) AS BIGINT) AS tri "
        "FROM deg LEFT JOIN tr ON tr.v = deg.id WHERE deg >= 2), "
        "tot AS (SELECT CAST(sum(tri) AS BIGINT) AS sum_tri, "
        "CAST(sum(deg * (deg - 1)) AS BIGINT) AS sum_wedge2 FROM per) "
        "SELECT CAST(part AS BIGINT) AS part, deg, tri, "
        "CAST((tri * 2000000) // (deg * (deg - 1)) AS BIGINT) AS cc_ppm, "
        "CAST((sum_tri * 2000000) // sum_wedge2 AS BIGINT) "
        "AS transitivity_ppm "
        "FROM per, tot ORDER BY part"
    )

    # Newman degree assortativity: exact integer endpoint-degree sums
    # over each edge once; sign-handled truncating r_milli (mirrors
    # graph.q_degree_assortativity)
    out["degree_assortativity"] = (
        _edge_prefix + ", "
        "ej AS (SELECT da.deg AS da, db.deg AS db FROM ed "
        "JOIN deg da ON da.id = ed.part_a "
        "JOIN deg db ON db.id = ed.part_b), "
        "ag AS (SELECT CAST(count(*) AS BIGINT) AS m_edges, "
        "CAST(sum(da * db) AS BIGINT) AS s_dadb, "
        "CAST(sum(da + db) AS BIGINT) AS s_sum, "
        "CAST(sum(da * da + db * db) AS BIGINT) AS s_sq FROM ej), "
        "rr AS (SELECT m_edges, s_dadb, s_sum, s_sq, "
        "CAST(4 * m_edges * s_dadb - s_sum * s_sum AS BIGINT) AS r_num, "
        "CAST(2 * m_edges * s_sq - s_sum * s_sum AS BIGINT) AS r_den "
        "FROM ag) "
        "SELECT m_edges, s_dadb, s_sum, s_sq, r_num, r_den, "
        "CAST(CASE WHEN r_num < 0 THEN -((-r_num * 1000) // r_den) "
        "ELSE (r_num * 1000) // r_den END AS BIGINT) AS r_milli FROM rr"
    )

    # Kruskal–Wallis across the five segments: doubled-rank grid form,
    # tie-corrected H in ppm (mirrors quality.q_kruskal_wallis_segments)
    out["kruskal_wallis_segments"] = (
        "WITH obs AS (SELECT c_mktsegment AS segment, "
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "AS cents FROM orders JOIN customer ON o_custkey = c_custkey), "
        "cell AS (SELECT cents, segment, CAST(count(*) AS BIGINT) AS nc "
        "FROM obs GROUP BY 1, 2), "
        "grid AS (SELECT cents, CAST(count(*) AS BIGINT) AS ct "
        "FROM obs GROUP BY 1), "
        "rk AS (SELECT cents, ct, 2 * (sum(ct) OVER (ORDER BY cents "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct) "
        "+ ct + 1 AS rank2 FROM grid), "
        "ps AS (SELECT segment, CAST(sum(nc) AS BIGINT) AS n_obs, "
        "CAST(sum(nc * rank2) AS BIGINT) AS rank2_sum "
        "FROM cell JOIN rk USING (cents) GROUP BY 1), "
        "gl AS (SELECT CAST(sum(ct) AS BIGINT) AS n_total, "
        "CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS BIGINT) "
        "AS tie_term FROM rk), "
        "sg AS (SELECT segment, n_obs, rank2_sum, "
        "CAST((CAST(rank2_sum AS HUGEINT) * rank2_sum * 3000000) // "
        "(CAST(n_obs AS HUGEINT) * n_total * (n_total + 1)) AS BIGINT) "
        "AS contrib_ppm, n_total, tie_term FROM ps, gl), "
        "tt AS (SELECT CAST(sum(contrib_ppm) AS BIGINT) AS sum_contrib, "
        "CAST(max(n_total) AS BIGINT) AS n_total, "
        "CAST(max(tie_term) AS BIGINT) AS tie_term FROM sg), "
        "hh AS (SELECT CAST((CAST(greatest(sum_contrib - 3000000 * "
        "(n_total + 1), 0) AS HUGEINT) * (CAST(n_total AS HUGEINT) * "
        "n_total * n_total - n_total)) // (CAST(n_total AS HUGEINT) * "
        "n_total * n_total - n_total - tie_term) AS BIGINT) AS h_ppm "
        "FROM tt) "
        "SELECT segment, n_obs, rank2_sum, contrib_ppm, n_total, "
        "tie_term, h_ppm, h_ppm > 9487700 AS significant "
        "FROM sg, hh ORDER BY segment"
    )

    # WoE/IV of brand vs returned-flag: signed sums of ln_micro(x, 1)
    # terms + sign-handled iv division (mirrors
    # quality.q_brand_return_woe_iv)
    out["brand_return_woe_iv"] = (
        "WITH base AS (SELECT p_brand AS brand, CASE WHEN "
        "l_returnflag = 'R' THEN 1 ELSE 0 END AS pos FROM lineitem "
        "JOIN part ON l_partkey = p_partkey), "
        "per AS (SELECT brand, CAST(sum(pos) AS BIGINT) AS n_pos, "
        "CAST(sum(1 - pos) AS BIGINT) AS n_neg FROM base GROUP BY 1), "
        "gl AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tot_pos, "
        "CAST(sum(n_neg) AS BIGINT) AS tot_neg, "
        "CAST(count(*) AS BIGINT) AS n_brands FROM per), "
        "j AS (SELECT brand, n_pos, n_neg, "
        "CAST((" + _lnm("(n_pos + 1)", "1") + ") - ("
        + _lnm("(tot_pos + n_brands)", "1") + ") - ("
        + _lnm("(n_neg + 1)", "1") + ") + ("
        + _lnm("(tot_neg + n_brands)", "1")
        + ") AS BIGINT) AS woe_micro, "
        "CAST(((n_pos + 1) * 1000000) // (tot_pos + n_brands) - "
        "((n_neg + 1) * 1000000) // (tot_neg + n_brands) AS BIGINT) "
        "AS diff_ppm FROM per, gl), "
        "r AS (SELECT brand, n_pos, n_neg, woe_micro, diff_ppm, "
        "CAST(CASE WHEN diff_ppm * woe_micro < 0 "
        "THEN -((-(diff_ppm * woe_micro)) // 1000000) "
        "ELSE (diff_ppm * woe_micro) // 1000000 END AS BIGINT) "
        "AS iv_micro FROM j), "
        "t AS (SELECT CAST(sum(iv_micro) AS BIGINT) AS iv_total_micro "
        "FROM r) "
        "SELECT brand, n_pos, n_neg, woe_micro, diff_ppm, iv_micro, "
        "iv_total_micro FROM r, t ORDER BY brand"
    )

    # Spearman rho between part price and total ordered quantity:
    # doubled-rank grids per variable, exact integer moments, two-stage
    # rho² ppm division + isqrt milli rho (mirrors
    # quality.q_spearman_price_qty)
    out["spearman_price_qty"] = (
        "WITH pp AS (SELECT l_partkey, "
        "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "AS cents, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "GROUP BY l_partkey, p_retailprice), "
        "gx AS (SELECT cents, CAST(count(*) AS BIGINT) AS ct FROM pp "
        "GROUP BY 1), "
        "rx AS (SELECT cents, 2 * (sum(ct) OVER (ORDER BY cents "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct) "
        "+ ct + 1 AS rx2 FROM gx), "
        "gy AS (SELECT qty, CAST(count(*) AS BIGINT) AS ct FROM pp "
        "GROUP BY 1), "
        "ry AS (SELECT qty, 2 * (sum(ct) OVER (ORDER BY qty "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct) "
        "+ ct + 1 AS ry2 FROM gy), "
        "rk AS (SELECT rx2, ry2 FROM pp JOIN rx USING (cents) "
        "JOIN ry USING (qty)), "
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n_parts, "
        "CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy, "
        "CAST(sum(CAST(rx2 AS HUGEINT) * ry2) AS HUGEINT) AS sxy, "
        "CAST(sum(CAST(rx2 AS HUGEINT) * rx2) AS HUGEINT) AS sxx, "
        "CAST(sum(CAST(ry2 AS HUGEINT) * ry2) AS HUGEINT) AS syy FROM rk), "
        "g AS (SELECT n_parts, sx, sy, "
        "CASE WHEN n_parts > 40000 THEN CAST(error('spearman contract "
        "violated: n > 4e4 overflows num^2; sample upstream') AS BIGINT) "
        "ELSE n_parts END AS n, sxy, sxx, syy FROM m), "
        "f AS (SELECT n_parts, sx, sy, "
        "CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num, "
        "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den_x, "
        "CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den_y "
        "FROM g), "
        "r AS (SELECT n_parts, sx, sy, num, den_x, den_y, "
        "CAST(((abs(num) * abs(num)) // den_x) * 1000000 // den_y "
        "AS BIGINT) AS rho2 FROM f) "
        "SELECT n_parts, sx, sy, CAST(num AS VARCHAR) AS rho_num, "
        "CAST(den_x AS VARCHAR) AS den_x, CAST(den_y AS VARCHAR) AS den_y, "
        "CAST(CASE WHEN num < 0 THEN -rho2 ELSE rho2 END AS BIGINT) "
        "AS rho2_signed_ppm, "
        "CAST(CASE WHEN num < 0 THEN -" + _isq("rho2") + " ELSE "
        + _isq("rho2") + " END AS BIGINT) AS rho_milli FROM r"
    )

    # Two-NN intrinsic dimension: exact integer squared-L2 1st/2nd
    # neighbors on the 50-query panel, shift-guarded ln_micro ratio,
    # MLE id in milli (mirrors similarity.q_twonn_intrinsic_dim)
    _tn_sh = "greatest(length(bin(d2_sq)) - 30, 0)"
    out["twonn_intrinsic_dim"] = (
        "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) - 1 AS dim, "
        "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
        "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
        "qe AS (SELECT vec_id AS query_id, dim, q AS qq FROM ex "
        "WHERE vec_id < 50), "
        "ds AS (SELECT query_id, ex.vec_id AS neighbor_id, "
        "CAST(sum((ex.q - qe.qq) * (ex.q - qe.qq)) AS BIGINT) AS dist "
        "FROM ex JOIN qe ON qe.dim = ex.dim "
        "WHERE ex.vec_id <> qe.query_id GROUP BY 1, 2), "
        "rk AS (SELECT query_id, dist, row_number() OVER (PARTITION BY "
        "query_id ORDER BY dist, neighbor_id) AS rn FROM ds), "
        "two AS (SELECT query_id, "
        "CAST(min(CASE WHEN rn = 1 THEN dist END) AS BIGINT) AS d1_sq, "
        "CAST(min(CASE WHEN rn = 2 THEN dist END) AS BIGINT) AS d2_sq "
        "FROM rk WHERE rn <= 2 GROUP BY 1), "
        "kept AS (SELECT query_id, d1_sq, d2_sq, "
        "CAST(("
        + _lnm(f"(d2_sq >> ({_tn_sh}))", f"greatest(d1_sq >> ({_tn_sh}), 1)")
        + ") // 2 AS BIGINT) AS ln_ratio_micro FROM two WHERE d1_sq > 0), "
        "exc AS (SELECT CAST(count(*) AS BIGINT) AS n_excluded FROM two "
        "WHERE d1_sq <= 0), "
        "gl AS (SELECT CAST(count(*) AS BIGINT) AS n_queries, "
        "CAST(sum(ln_ratio_micro) AS BIGINT) AS sum_ln_micro, "
        "CAST(count(*) * 1000000000 // "
        "greatest(sum(ln_ratio_micro), 1) AS BIGINT) AS id_milli "
        "FROM kept) "
        "SELECT query_id, d1_sq, d2_sq, ln_ratio_micro, n_queries, "
        "n_excluded, sum_ln_micro, id_milli FROM kept, gl, exc "
        "ORDER BY query_id"
    )

    # Simplified silhouette over the one-round kmeans state: isqrt
    # integer-L2 distances to own/nearest-other centroid, s in ppm
    # (mirrors similarity.q_silhouette_simplified; the kmeans chain is
    # the kmeans_round oracle verbatim)
    _sil_own = _isq("d_own")
    _sil_oth = _isq("d_other")
    out["silhouette_simplified"] = (
        "WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, "
        "CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) "
        "AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), "
        "sd AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY "
        "('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))"
        "::BIGINT, vec_id) AS INTEGER) AS cluster_id FROM embeddings "
        "ORDER BY ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), "
        "1, 15))::BIGINT, vec_id LIMIT 8), "
        "se AS (SELECT cluster_id, dim, q AS c FROM sd JOIN ex "
        "USING (vec_id)), "
        "d0 AS (SELECT ex.vec_id AS vec_id, se.cluster_id AS cluster_id, "
        "sum((ex.q - se.c) * (ex.q - se.c)) AS dist FROM ex "
        "JOIN se ON se.dim = ex.dim GROUP BY 1, 2), "
        "a0 AS (SELECT vec_id, cluster_id FROM (SELECT vec_id, "
        "cluster_id, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY dist, cluster_id) AS rn FROM d0) WHERE rn = 1), "
        "cent AS (SELECT a0.cluster_id AS cluster_id, ex.dim AS dim, "
        "CAST(CAST("
        + _hud("(sum(q) + count(*) * 4000000)", "count(*)", 0)
        + " AS BIGINT) - 4000000 AS BIGINT) AS c FROM ex "
        "JOIN a0 ON a0.vec_id = ex.vec_id GROUP BY 1, 2), "
        "d1 AS (SELECT ex.vec_id AS vec_id, cent.cluster_id AS cluster_id, "
        "sum((ex.q - cent.c) * (ex.q - cent.c)) AS dist FROM ex "
        "JOIN cent ON cent.dim = ex.dim GROUP BY 1, 2), "
        "r AS (SELECT vec_id, cluster_id, dist, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d1), "
        "ow AS (SELECT vec_id, cluster_id AS own_cluster, "
        "CAST(dist AS BIGINT) AS d_own FROM r WHERE rn = 1), "
        "ot AS (SELECT vec_id, CAST(min(dist) AS BIGINT) AS d_other "
        "FROM r WHERE rn > 1 GROUP BY 1), "
        "s AS (SELECT ow.vec_id AS vec_id, own_cluster, "
        f"CAST(({_sil_oth} - {_sil_own}) * 1000000 // "
        f"greatest({_sil_oth}, 1) AS BIGINT) AS s_ppm "
        "FROM ow JOIN ot ON ot.vec_id = ow.vec_id), "
        "per AS (SELECT own_cluster, CAST(count(*) AS BIGINT) AS "
        "n_members, CAST(sum(s_ppm) AS BIGINT) AS sum_s, "
        "CAST(min(s_ppm) AS BIGINT) AS min_s_ppm, "
        "CAST(max(s_ppm) AS BIGINT) AS max_s_ppm FROM s GROUP BY 1), "
        "gl AS (SELECT CAST(sum(sum_s) // sum(n_members) AS BIGINT) AS "
        "silhouette_ppm FROM per) "
        "SELECT CAST(own_cluster AS INTEGER) AS cluster_id, n_members, "
        "CAST(sum_s // n_members AS BIGINT) AS mean_s_ppm, min_s_ppm, "
        "max_s_ppm, silhouette_ppm FROM per, gl ORDER BY cluster_id"
    )

    # k-truss peel on the weight>=2 copurchase graph: 4 unrolled
    # support-recount rounds, per-round edge counts + converged flag
    # (mirrors graph.q_copurchase_ktruss, TRUSS_K=4)
    def _truss_round(prev: str, cur: str) -> str:
        return (
            f"{cur} AS MATERIALIZED (SELECT {prev}.a AS a, {prev}.b AS b "
            f"FROM {prev} JOIN (SELECT a, b, count(*) AS s FROM ("
            f"SELECT x.a AS a, x.b AS b FROM {prev} x "
            f"JOIN {prev} y ON x.b = y.a "
            f"JOIN {prev} z ON z.a = x.a AND z.b = y.b "
            f"UNION ALL SELECT x.a AS a, y.b AS b FROM {prev} x "
            f"JOIN {prev} y ON x.b = y.a "
            f"JOIN {prev} z ON z.a = x.a AND z.b = y.b "
            f"UNION ALL SELECT x.b AS a, y.b AS b FROM {prev} x "
            f"JOIN {prev} y ON x.b = y.a "
            f"JOIN {prev} z ON z.a = x.a AND z.b = y.b"
            f") GROUP BY 1, 2) s USING (a, b) WHERE s.s >= 2)"
        )

    out["copurchase_ktruss"] = (
        "WITH d0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "bs AS (SELECT l_orderkey, count(*) AS sz FROM d0 GROUP BY 1), "
        "ok AS (SELECT d0.l_orderkey, d0.l_partkey FROM d0 "
        "JOIN bs USING (l_orderkey) WHERE sz BETWEEN 2 AND 50), "
        "t0 AS MATERIALIZED (SELECT x.l_partkey AS a, y.l_partkey AS b "
        "FROM ok x JOIN ok y ON x.l_orderkey = y.l_orderkey "
        "AND x.l_partkey < y.l_partkey GROUP BY 1, 2 "
        "HAVING count(*) >= 2), "
        + ", ".join(
            _truss_round(f"t{r - 1}", f"t{r}") for r in range(1, 5)
        )
        + ", traj AS ("
        + " UNION ALL ".join(
            f"SELECT {r} AS round, CAST(count(*) AS BIGINT) AS n_edges "
            f"FROM t{r}"
            for r in range(5)
        )
        + ") SELECT CAST(round AS INTEGER) AS round, n_edges, "
        "CAST(coalesce(lag(n_edges) OVER (ORDER BY round) - n_edges, 0) "
        "AS BIGINT) AS n_removed, "
        "(round = 4) AND coalesce(lag(n_edges) OVER (ORDER BY round) "
        "- n_edges, 0) = 0 AS converged FROM traj ORDER BY round"
    )

    # OPTIMIZE-style compaction planner: per-day micro-file sizes,
    # contiguous cumulative bin packing into 8 target files, exact
    # integer ceil target + fill ppm (mirrors warehouse.q_compaction_plan)
    out["compaction_plan"] = (
        "WITH f AS (SELECT CAST(ts AS DATE) AS day, "
        "CAST(sum(len(props) + 64) AS BIGINT) AS bytes, "
        "CAST(count(*) AS BIGINT) AS n_rows FROM events GROUP BY 1), "
        "g AS (SELECT day, bytes, n_rows, CAST(sum(bytes) OVER "
        "(ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS BIGINT) AS cum FROM f), "
        "tot AS (SELECT max(cum) AS total FROM g), "
        "b AS (SELECT day, bytes, n_rows, "
        "(total + 7) // 8 AS target, "
        "(cum - bytes) // ((total + 7) // 8) AS bin FROM g, tot), "
        "p0 AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_files, "
        "min(day) AS d_lo, max(day) AS d_hi, "
        "CAST(sum(bytes) AS BIGINT) AS est_bytes, "
        "CAST(sum(n_rows) AS BIGINT) AS n_rows, "
        "CAST(max(target) AS BIGINT) AS tgt FROM b GROUP BY 1), "
        "p AS (SELECT bin, n_files, strftime(d_lo, '%Y-%m-%d') AS day_lo, "
        "strftime(d_hi, '%Y-%m-%d') AS day_hi, est_bytes, n_rows, tgt "
        "FROM p0) "
        "SELECT CAST(bin AS INTEGER) AS bin, n_files, day_lo, day_hi, "
        "est_bytes, n_rows, "
        "CAST(est_bytes * 1000000 // tgt AS BIGINT) AS fill_ppm, "
        "est_bytes > tgt AS oversized FROM p ORDER BY bin"
    )

    # Jensen-Shannon divergence between the two source halves: ppm
    # masses, signed ln_micro KL terms in pico-nats, jsd in micro-nats
    # (mirrors text.q_js_divergence_sources)
    def _jsd_side(p: str) -> str:
        m2 = "(p_a_ppm + p_b_ppm)"
        return (
            f"(CASE WHEN {p} = 0 THEN 0 "
            f"WHEN 2 * {p} >= {m2} THEN {p} * ("
            + _lnm(f"(2 * {p})", m2)
            + f") ELSE -{p} * ("
            + _lnm(m2, f"(2 * {p})")
            + ") END)"
        )

    out["js_divergence_sources"] = (
        "WITH tk AS (SELECT len(source) = 4 AS is_a, t.term AS term "
        "FROM documents, unnest(string_split(text, ' ')) t(term)), "
        "pt AS (SELECT term, CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) "
        "AS BIGINT) AS c_a, CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) "
        "AS BIGINT) AS c_b FROM tk GROUP BY 1), "
        "tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS na_tokens, "
        "CAST(sum(c_b) AS BIGINT) AS nb_tokens, "
        "CAST(count(*) AS BIGINT) AS n_terms FROM pt), "
        "w AS (SELECT term, c_a, c_b, na_tokens, nb_tokens, n_terms, "
        "CAST(c_a * 1000000 // na_tokens AS BIGINT) AS p_a_ppm, "
        "CAST(c_b * 1000000 // nb_tokens AS BIGINT) AS p_b_ppm "
        "FROM pt, tot), "
        "sc AS (SELECT *, CAST(" + _jsd_side("p_a_ppm") + " + "
        + _jsd_side("p_b_ppm") + " AS BIGINT) AS contrib_pico FROM w), "
        "gl AS (SELECT CAST(CASE WHEN sum(contrib_pico) < 0 THEN "
        "-((-sum(contrib_pico)) // 2000000) ELSE "
        "sum(contrib_pico) // 2000000 END AS BIGINT) AS jsd_micro FROM sc) "
        "SELECT term, c_a, c_b, p_a_ppm, p_b_ppm, contrib_pico, "
        "na_tokens, nb_tokens, n_terms, jsd_micro FROM sc, gl "
        "ORDER BY abs(contrib_pico) DESC, term LIMIT 20"
    )

    # Gopher-style per-doc quality rule card: integer milli/ppm rule
    # values + boolean gates + composed pass bit (mirrors
    # text.q_gopher_quality_flags; thresholds are the shared
    # GOPHER_* constants)
    out["gopher_quality_flags"] = (
        "WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks "
        "FROM documents), "
        "r AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, "
        "CAST(list_sum(list_transform(toks, w -> len(w))) * 1000 // "
        "len(toks) AS BIGINT) AS mean_wl_milli, "
        "CAST(((len(text) - len(replace(text, '#', ''))) + "
        "(len(text) - len(replace(text, '...', ''))) // 3) * 1000000 // "
        "len(toks) AS BIGINT) AS symbol_ppm, "
        "CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) "
        "* 1000000 // len(toks) AS BIGINT) AS alpha_ppm, "
        "CAST(len(list_filter(toks, w -> w IN ('the', 'a', 'of', 'and', "
        "'to', 'in', 'is'))) AS BIGINT) AS stop_hits FROM d), "
        "fl AS (SELECT *, n_words BETWEEN 20 AND 100000 AS word_count_ok, "
        "mean_wl_milli BETWEEN 3000 AND 10000 AS word_length_ok, "
        "symbol_ppm <= 100000 AS symbol_ratio_ok, "
        "alpha_ppm >= 800000 AS alpha_ratio_ok, "
        "stop_hits >= 2 AS stopword_ok FROM r) "
        "SELECT doc_id, n_words, mean_wl_milli, symbol_ppm, alpha_ppm, "
        "stop_hits, word_count_ok, word_length_ok, symbol_ratio_ok, "
        "alpha_ratio_ok, stopword_ok, "
        "word_count_ok AND word_length_ok AND symbol_ratio_ok AND "
        "alpha_ratio_ok AND stopword_ok AS gopher_pass FROM fl"
    )
    # the streamed drain is the same stateless transform per
    # micro-batch — same oracle row
    out["gopher_quality_streamed"] = out["gopher_quality_flags"]

    # Cramer's V association matrix over the three categorical pairs:
    # per-pair chisq device (dev = O*N - R*C), V^2 ppm + isqrt milli V
    # (mirrors quality.q_cramers_v_matrix)
    def _cramer_pair(a: str, b: str) -> str:
        return (
            f"(WITH cells AS (SELECT {a} AS ca, {b} AS cb, "
            "CAST(count(*) AS BIGINT) AS observed FROM base GROUP BY 1, 2), "
            "rt AS (SELECT ca, CAST(sum(observed) AS BIGINT) AS row_total "
            "FROM cells GROUP BY 1), "
            "ct AS (SELECT cb, CAST(sum(observed) AS BIGINT) AS col_total "
            "FROM cells GROUP BY 1), "
            "nt AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total0, "
            "CAST(count(DISTINCT ca) AS BIGINT) AS n_rows_a, "
            "CAST(count(DISTINCT cb) AS BIGINT) AS n_cols_b FROM cells), "
            "gt AS (SELECT *, CASE WHEN n_total0 >= 100000000 THEN "
            "CAST(error('cramers_v contract violated: N >= 1e8; sample "
            "upstream') AS BIGINT) ELSE n_total0 END AS n_total FROM nt), "
            "g AS (SELECT CAST(observed AS HUGEINT) * n_total - "
            "CAST(row_total AS HUGEINT) * col_total AS dev, row_total, "
            "col_total, n_total, n_rows_a, n_cols_b FROM cells "
            "JOIN rt USING (ca) JOIN ct USING (cb) CROSS JOIN gt), "
            "ag AS (SELECT max(n_total) AS n_total, max(n_rows_a) AS "
            "n_rows_a, max(n_cols_b) AS n_cols_b, "
            "CAST(sum(dev * dev * 1000000 // (CAST(row_total AS HUGEINT) "
            "* col_total * n_total)) AS BIGINT) AS chi2_micro FROM g) "
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n_total, n_rows_a, "
            "n_cols_b, chi2_micro, "
            "CAST((n_rows_a - 1) * (n_cols_b - 1) AS BIGINT) AS dof, "
            "CAST(chi2_micro // (n_total * (least(n_rows_a, n_cols_b) - 1)) "
            "AS BIGINT) AS v2_ppm, "
            "CAST("
            + _isq(
                "(chi2_micro // (n_total * (least(n_rows_a, n_cols_b) - 1)))"
            )
            + " AS BIGINT) AS v_milli FROM ag)"
        )

    out["cramers_v_matrix"] = (
        "WITH base AS (SELECT c_mktsegment AS segment, "
        "o_orderpriority AS priority, CAST(n_regionkey AS VARCHAR) AS "
        "region FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey) "
        + _cramer_pair("segment", "priority")
        + " UNION ALL "
        + _cramer_pair("priority", "region")
        + " UNION ALL "
        + _cramer_pair("segment", "region")
        + " ORDER BY col_a, col_b"
    )

    # Binary-segmentation changepoint on daily revenue: exact integer
    # BSS(t) floor over the day grid, top-3 splits with half-up means
    # (mirrors warehouse.q_revenue_changepoint)
    out["revenue_changepoint"] = (
        "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) "
        "AS cents FROM orders GROUP BY 1), "
        "g AS (SELECT day, CAST(row_number() OVER (ORDER BY day) "
        "AS BIGINT) AS t, CAST(sum(cents) OVER (ORDER BY day "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS cum FROM daily), "
        "tot AS (SELECT CAST(max(t) AS BIGINT) AS n_days, "
        "CAST(max(cum) AS BIGINT) AS s_all FROM g), "
        "sc AS (SELECT day, t, cum, n_days, s_all, "
        "CAST(cum AS HUGEINT) * n_days - CAST(s_all AS HUGEINT) * t "
        "AS dev FROM g, tot WHERE t < n_days), "
        "b AS (SELECT *, CAST((dev * dev) // (CAST(t AS HUGEINT) * "
        "(n_days - t)) AS HUGEINT) AS bss_q FROM sc), "
        "rk AS (SELECT *, CAST(row_number() OVER (ORDER BY bss_q DESC, "
        "day) AS INTEGER) AS rank FROM b) "
        "SELECT rank, strftime(day, '%Y-%m-%d') AS split_day, t AS t_idx, "
        "n_days, CAST(bss_q AS VARCHAR) AS bss_q, "
        + _hud("cum", "t", 2)
        + " AS mean_before, "
        + _hud("(s_all - cum)", "(n_days - t)", 2)
        + " AS mean_after, "
        + _hud("(s_all - cum)", "(n_days - t)", 2)
        + " - "
        + _hud("cum", "t", 2)
        + " AS shift FROM rk WHERE rank <= 3 ORDER BY rank"
    )

    # Pairwise Pearson matrix over order-grain metrics: unpivot +
    # self-join pair generation, exact DECIMAL moments, two-stage r^2
    # ppm + isqrt milli r (mirrors warehouse.q_order_metric_correlations)
    out["order_metric_correlations"] = (
        "WITH po AS (SELECT o_orderkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "// 10000 AS price100, li.n_items, li.qty, "
        "datediff('day', o_orderdate, li.first_ship) AS latency_days "
        "FROM orders JOIN (SELECT l_orderkey, "
        "CAST(count(*) AS BIGINT) AS n_items, "
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, "
        "min(l_shipdate) AS first_ship FROM lineitem GROUP BY 1) li "
        "ON li.l_orderkey = o_orderkey), "
        "lg AS (SELECT o_orderkey, 'latency_days' AS metric, "
        "CAST(latency_days AS BIGINT) AS v FROM po "
        "UNION ALL SELECT o_orderkey, 'n_items', n_items FROM po "
        "UNION ALL SELECT o_orderkey, 'price100', price100 FROM po "
        "UNION ALL SELECT o_orderkey, 'qty', qty FROM po), "
        "pr AS (SELECT a.metric AS metric_a, b.metric AS metric_b, "
        "a.v AS va, b.v AS vb FROM lg a JOIN lg b "
        "ON a.o_orderkey = b.o_orderkey AND a.metric < b.metric), "
        "m AS (SELECT metric_a, metric_b, "
        "CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(sum(va) AS BIGINT) AS sx, CAST(sum(vb) AS BIGINT) AS sy, "
        "CAST(sum(CAST(va AS HUGEINT) * vb) AS HUGEINT) AS sxy, "
        "CAST(sum(CAST(va AS HUGEINT) * va) AS HUGEINT) AS sxx, "
        "CAST(sum(CAST(vb AS HUGEINT) * vb) AS HUGEINT) AS syy "
        "FROM pr GROUP BY 1, 2), "
        "f0 AS (SELECT metric_a, metric_b, n_orders, sx, sy, "
        "CAST(n_orders AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy "
        "AS num, "
        "CAST(n_orders AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx "
        "AS den_a0, "
        "CAST(n_orders AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy "
        "AS den_b FROM m), "
        "f AS (SELECT metric_a, metric_b, n_orders, sx, sy, num, den_b, "
        "CASE WHEN den_a0 > 10000000000000000000 OR "
        "den_b > 10000000000000000000 THEN "
        "CAST(error('correlation contract violated: den > 1e19; rescale "
        "or sample upstream') AS HUGEINT) ELSE den_a0 END AS den_a "
        "FROM f0), "
        "r AS (SELECT *, CAST(((abs(num) * abs(num)) // den_a) * 1000000 "
        "// den_b AS BIGINT) AS rho2 FROM f) "
        "SELECT metric_a, metric_b, n_orders, "
        "CAST(num AS VARCHAR) AS r_num, CAST(den_a AS VARCHAR) AS den_a, "
        "CAST(den_b AS VARCHAR) AS den_b, "
        "CAST(CASE WHEN num < 0 THEN -rho2 ELSE rho2 END AS BIGINT) AS "
        "r2_signed_ppm, "
        "CAST(CASE WHEN num < 0 THEN -" + _isq("rho2") + " ELSE "
        + _isq("rho2") + " END AS BIGINT) AS r_milli FROM r "
        "ORDER BY metric_a, metric_b"
    )

    # t-closeness: ordered-domain EMD of each QI class's priority
    # distribution vs the table's, cross-multiplied cumulative
    # deviations, one ppm division per class (mirrors
    # quality.q_tcloseness_profile)
    out["tcloseness_profile"] = (
        "WITH base AS (SELECT c_nationkey, "
        "CAST(year(o_orderdate) AS INTEGER) AS order_year, "
        "CAST(month(o_orderdate) AS INTEGER) AS order_month, "
        "o_orderpriority AS prio FROM orders "
        "JOIN customer ON o_custkey = c_custkey), "
        "cell AS (SELECT c_nationkey, order_year, order_month, prio, "
        "CAST(count(*) AS BIGINT) AS ct FROM base GROUP BY 1, 2, 3, 4), "
        "gl AS (SELECT prio, CAST(count(*) AS BIGINT) AS gp FROM base "
        "GROUP BY 1), "
        "gc AS (SELECT prio, CAST(sum(gp) OVER (ORDER BY prio "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS cump FROM gl), "
        "tot AS (SELECT CAST(sum(gp) AS BIGINT) AS n_total, "
        "CAST(count(*) AS BIGINT) AS m_vals FROM gl), "
        "cls AS (SELECT c_nationkey, order_year, order_month, "
        "CAST(sum(ct) AS BIGINT) AS class_size FROM cell "
        "GROUP BY 1, 2, 3), "
        "grid AS (SELECT cls.c_nationkey, cls.order_year, "
        "cls.order_month, cls.class_size, gc.prio, gc.cump, "
        "coalesce(cell.ct, 0) AS ct FROM cls CROSS JOIN gc "
        "LEFT JOIN cell USING (c_nationkey, order_year, order_month, "
        "prio)), "
        "cq AS (SELECT *, sum(ct) OVER (PARTITION BY c_nationkey, "
        "order_year, order_month ORDER BY prio ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS cumq FROM grid), "
        "per AS (SELECT c_nationkey, order_year, order_month, "
        "max(class_size) AS class_size, "
        "CAST(sum(abs(cumq * n_total - cump * class_size)) AS BIGINT) "
        "AS dev_sum, max(n_total) AS n_total, max(m_vals) AS m_vals "
        "FROM cq, tot GROUP BY 1, 2, 3), "
        "f AS (SELECT c_nationkey, order_year, order_month, class_size, "
        "CAST(dev_sum * 1000000 // ((m_vals - 1) * class_size * n_total) "
        "AS BIGINT) AS emd_ppm FROM per), "
        "f2 AS (SELECT *, emd_ppm > 200000 AS at_risk FROM f), "
        "sm AS (SELECT CAST(count(*) AS BIGINT) AS n_classes, "
        "CAST(sum(CASE WHEN at_risk THEN 1 ELSE 0 END) AS BIGINT) AS "
        "n_at_risk, CAST(max(emd_ppm) AS BIGINT) AS max_emd_ppm FROM f2) "
        "SELECT CAST(c_nationkey AS INTEGER) AS c_nationkey, order_year, "
        "order_month, class_size, emd_ppm, at_risk, n_classes, "
        "n_at_risk, max_emd_ppm FROM f2, sm "
        "ORDER BY c_nationkey, order_year, order_month"
    )

    # ACF lags 1..7 of daily revenue + cumulative Ljung-Box: exact
    # cross-multiplied deviations d_t = n*x_t - S in HUGEINT, r in
    # signed ppm, Q from the quantized r_ppm (mirrors
    # warehouse.q_revenue_acf)
    out["revenue_acf"] = (
        "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) "
        "AS cents FROM orders GROUP BY 1), "
        "g AS (SELECT row_number() OVER (ORDER BY day) AS idx, cents "
        "FROM daily), "
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days, "
        "CAST(sum(cents) AS HUGEINT) AS s_sum FROM g), "
        "dd AS (SELECT idx, n_days, "
        "CAST(cents AS HUGEINT) * n_days - s_sum AS d FROM g, tot), "
        "dn AS (SELECT CAST(sum(d * d) AS HUGEINT) AS den, "
        "CAST(max(n_days) AS BIGINT) AS n_days FROM dd), "
        "pr AS (SELECT l.lag AS lag, CAST(sum(a.d * b.d) AS HUGEINT) "
        "AS num FROM dd a JOIN "
        "(SELECT unnest(generate_series(1, 7)) AS lag) l ON true "
        "JOIN dd b ON b.idx = a.idx + l.lag GROUP BY 1), "
        "r AS (SELECT lag, n_days, num, den, "
        "CAST(CASE WHEN num < 0 THEN -((-num * 1000000) // den) "
        "ELSE (num * 1000000) // den END AS BIGINT) AS r_ppm FROM pr, dn), "
        "q AS (SELECT *, sum(r_ppm * r_ppm // (n_days - lag)) OVER "
        "(ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS lb_sum FROM r) "
        "SELECT CAST(lag AS INTEGER) AS lag, n_days, "
        "CAST(num AS VARCHAR) AS num, CAST(den AS VARCHAR) AS den, "
        "r_ppm, CAST(n_days * (n_days + 2) * lb_sum // 1000000000 "
        "AS BIGINT) AS lb_q_milli, "
        "r_ppm * r_ppm > 3841600000000 // n_days AS significant "
        "FROM q ORDER BY lag"
    )

    # Mann–Kendall monotone trend on daily revenue: signed pair count,
    # tie-corrected 18·Var(S), z² in ppm — all exact integers (mirrors
    # warehouse.q_mann_kendall_trend)
    out["mann_kendall_trend"] = (
        "WITH daily AS (SELECT o_orderdate AS d, "
        "CAST(round(sum(o_totalprice), 2) * 100 AS BIGINT) AS cents "
        "FROM orders GROUP BY 1), "
        "s AS (SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1 "
        "WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat, "
        "CAST(count(*) AS BIGINT) AS n_pairs "
        "FROM daily a JOIN daily b ON a.d < b.d), "
        "nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily), "
        "tt AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) "
        "AS BIGINT) AS tie_term FROM "
        "(SELECT count(*) AS t FROM daily GROUP BY cents) WHERE t > 1) "
        "SELECT n_days, n_pairs, s_stat, "
        "CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term "
        "AS BIGINT) AS var_s_x18, "
        "CAST((s_stat * s_stat * 18000000) // "
        "(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term) "
        "AS BIGINT) AS z2_ppm, "
        "CASE WHEN s_stat > 0 THEN 'up' WHEN s_stat < 0 THEN 'down' "
        "ELSE 'flat' END AS trend "
        "FROM s, nd, tt"
    )

    # Hilbert clustering keys: 16-stage unrolled xy→d walk (twin of
    # the Spark-side F.aggregate fold) — built programmatically
    out["hilbert_curve_keys"] = _hilbert_sql()

    # sign-bit binary-quantized ANN serving: 63-bit signatures, exact
    # Hamming pool, shared fixed-point isqrt/halfup rerank (mirrors
    # similarity.SIGNBIT_DIMS/SIGNBIT_POOL)
    out["signbit_topk_exactint"] = (
        "WITH sg AS (SELECT vec_id, CAST(list_sum(list_transform("
        "range(0, 63), i -> CASE WHEN "
        "CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) >= 0 "
        "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) "
        "AS BIGINT) AS sig FROM embeddings), "
        "ham AS (SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id, "
        "CAST(bit_count(xor(q.sig, s.sig)) AS INTEGER) AS hamming "
        "FROM sg q JOIN sg s ON s.vec_id <> q.vec_id "
        "WHERE q.vec_id < 20), "
        "cand AS (SELECT query_id, neighbor_id FROM "
        "(SELECT query_id, neighbor_id, row_number() OVER "
        "(PARTITION BY query_id ORDER BY hamming, neighbor_id) "
        "AS hrank FROM ham) WHERE hrank <= 40), "
        "qz AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) "
        "AS BIGINT)) AS q FROM embeddings), "
        "qn AS (SELECT vec_id, q, "
        "CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) "
        "AS nq FROM qz), "
        "scored AS (SELECT query_id, neighbor_id, "
        "CAST(list_sum(list_transform(generate_series(1, len(a.q)), "
        "i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) "
        "AS dot_q, a.nq AS na, b.nq AS nb "
        "FROM cand JOIN qn a ON a.vec_id = query_id "
        "JOIN qn b ON b.vec_id = neighbor_id), "
        "pos AS (SELECT query_id, neighbor_id, "
        + _hud("dot_q", "(" + _isq("na") + " * " + _isq("nb") + ")", 6)
        + " AS cos_micro FROM scored WHERE dot_q > 0), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos_micro DESC, neighbor_id) AS rank FROM pos) "
        "SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, "
        "cos_micro FROM rk WHERE rank <= 5"
    )

    out["fellegi_sunter_weights"] = (
        # FS m/u rates with Laplace smoothing; weights as ln_micro
        # differences so every log argument stays inside the contract
        "WITH s AS (SELECT p_partkey, p_name, p_brand, p_type, p_size, CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc FROM part ORDER BY p_partkey LIMIT 500), pr AS (SELECT CASE WHEN levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4 THEN 1 ELSE 0 END AS is_match, CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS brand_eq, CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS type_eq, CASE WHEN abs(a.p_size - b.p_size) <= 2 THEN 1 ELSE 0 END AS size_close, CASE WHEN abs(a.pc - b.pc) <= 500 THEN 1 ELSE 0 END AS price_close FROM s a JOIN s b ON a.p_partkey < b.p_partkey), g AS (SELECT CAST(sum(is_match) AS BIGINT) AS n_m, CAST(sum(1 - is_match) AS BIGINT) AS n_u, CAST(sum(is_match * brand_eq) AS BIGINT) AS am_brand_eq, CAST(sum((1 - is_match) * brand_eq) AS BIGINT) AS au_brand_eq, CAST(sum(is_match * type_eq) AS BIGINT) AS am_type_eq, CAST(sum((1 - is_match) * type_eq) AS BIGINT) AS au_type_eq, CAST(sum(is_match * size_close) AS BIGINT) AS am_size_close, CAST(sum((1 - is_match) * size_close) AS BIGINT) AS au_size_close, CAST(sum(is_match * price_close) AS BIGINT) AS am_price_close, CAST(sum((1 - is_match) * price_close) AS BIGINT) AS au_price_close FROM pr) SELECT * FROM (SELECT 'brand_eq' AS field, n_m AS n_match_pairs, n_u AS n_unmatch_pairs, am_brand_eq AS n_agree_match, au_brand_eq AS n_agree_unmatch, CAST((CAST(am_brand_eq + 1 AS HUGEINT) * 1000000) // (n_m + 2) AS BIGINT) AS m_micro, CAST((CAST(au_brand_eq + 1 AS HUGEINT) * 1000000) // (n_u + 2) AS BIGINT) AS u_micro, CAST((((((length(bin(((n_u + 2) // (au_brand_eq + 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_u + 2) AS BIGINT) * 1073741824) // (au_brand_eq + 1)) >> (length(bin(((n_u + 2) // (au_brand_eq + 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (((((length(bin(((n_m + 2) // (am_brand_eq + 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_m + 2) AS BIGINT) * 1073741824) // (am_brand_eq + 1)) >> (length(bin(((n_m + 2) // (am_brand_eq + 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS BIGINT) AS w_agree_micro, CAST((((((length(bin(((n_u + 2) // (n_u + 2 - au_brand_eq - 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_u + 2) AS BIGINT) * 1073741824) // (n_u + 2 - au_brand_eq - 1)) >> (length(bin(((n_u + 2) // (n_u + 2 - au_brand_eq - 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (((((length(bin(((n_m + 2) // (n_m + 2 - am_brand_eq - 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_m + 2) AS BIGINT) * 1073741824) // (n_m + 2 - am_brand_eq - 1)) >> (length(bin(((n_m + 2) // (n_m + 2 - am_brand_eq - 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS BIGINT) AS w_disagree_micro FROM g UNION ALL SELECT 'type_eq' AS field, n_m AS n_match_pairs, n_u AS n_unmatch_pairs, am_type_eq AS n_agree_match, au_type_eq AS n_agree_unmatch, CAST((CAST(am_type_eq + 1 AS HUGEINT) * 1000000) // (n_m + 2) AS BIGINT) AS m_micro, CAST((CAST(au_type_eq + 1 AS HUGEINT) * 1000000) // (n_u + 2) AS BIGINT) AS u_micro, CAST((((((length(bin(((n_u + 2) // (au_type_eq + 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_u + 2) AS BIGINT) * 1073741824) // (au_type_eq + 1)) >> (length(bin(((n_u + 2) // (au_type_eq + 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (((((length(bin(((n_m + 2) // (am_type_eq + 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_m + 2) AS BIGINT) * 1073741824) // (am_type_eq + 1)) >> (length(bin(((n_m + 2) // (am_type_eq + 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS BIGINT) AS w_agree_micro, CAST((((((length(bin(((n_u + 2) // (n_u + 2 - au_type_eq - 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_u + 2) AS BIGINT) * 1073741824) // (n_u + 2 - au_type_eq - 1)) >> (length(bin(((n_u + 2) // (n_u + 2 - au_type_eq - 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (((((length(bin(((n_m + 2) // (n_m + 2 - am_type_eq - 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_m + 2) AS BIGINT) * 1073741824) // (n_m + 2 - am_type_eq - 1)) >> (length(bin(((n_m + 2) // (n_m + 2 - am_type_eq - 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS BIGINT) AS w_disagree_micro FROM g UNION ALL SELECT 'size_close' AS field, n_m AS n_match_pairs, n_u AS n_unmatch_pairs, am_size_close AS n_agree_match, au_size_close AS n_agree_unmatch, CAST((CAST(am_size_close + 1 AS HUGEINT) * 1000000) // (n_m + 2) AS BIGINT) AS m_micro, CAST((CAST(au_size_close + 1 AS HUGEINT) * 1000000) // (n_u + 2) AS BIGINT) AS u_micro, CAST((((((length(bin(((n_u + 2) // (au_size_close + 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_u + 2) AS BIGINT) * 1073741824) // (au_size_close + 1)) >> (length(bin(((n_u + 2) // (au_size_close + 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (((((length(bin(((n_m + 2) // (am_size_close + 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_m + 2) AS BIGINT) * 1073741824) // (am_size_close + 1)) >> (length(bin(((n_m + 2) // (am_size_close + 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS BIGINT) AS w_agree_micro, CAST((((((length(bin(((n_u + 2) // (n_u + 2 - au_size_close - 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_u + 2) AS BIGINT) * 1073741824) // (n_u + 2 - au_size_close - 1)) >> (length(bin(((n_u + 2) // (n_u + 2 - au_size_close - 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (((((length(bin(((n_m + 2) // (n_m + 2 - am_size_close - 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_m + 2) AS BIGINT) * 1073741824) // (n_m + 2 - am_size_close - 1)) >> (length(bin(((n_m + 2) // (n_m + 2 - am_size_close - 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS BIGINT) AS w_disagree_micro FROM g UNION ALL SELECT 'price_close' AS field, n_m AS n_match_pairs, n_u AS n_unmatch_pairs, am_price_close AS n_agree_match, au_price_close AS n_agree_unmatch, CAST((CAST(am_price_close + 1 AS HUGEINT) * 1000000) // (n_m + 2) AS BIGINT) AS m_micro, CAST((CAST(au_price_close + 1 AS HUGEINT) * 1000000) // (n_u + 2) AS BIGINT) AS u_micro, CAST((((((length(bin(((n_u + 2) // (au_price_close + 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_u + 2) AS BIGINT) * 1073741824) // (au_price_close + 1)) >> (length(bin(((n_u + 2) // (au_price_close + 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (((((length(bin(((n_m + 2) // (am_price_close + 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_m + 2) AS BIGINT) * 1073741824) // (am_price_close + 1)) >> (length(bin(((n_m + 2) // (am_price_close + 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS BIGINT) AS w_agree_micro, CAST((((((length(bin(((n_u + 2) // (n_u + 2 - au_price_close - 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_u + 2) AS BIGINT) * 1073741824) // (n_u + 2 - au_price_close - 1)) >> (length(bin(((n_u + 2) // (n_u + 2 - au_price_close - 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (((((length(bin(((n_m + 2) // (n_m + 2 - am_price_close - 1)))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST((n_m + 2) AS BIGINT) * 1073741824) // (n_m + 2 - am_price_close - 1)) >> (length(bin(((n_m + 2) // (n_m + 2 - am_price_close - 1)))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS BIGINT) AS w_disagree_micro FROM g) ORDER BY field"
    )

    out["incremental_topk_state"] = (
        # top-10 of the from-scratch v2 state; Spark side maintains the
        # per-customer aggregate via the change feed and re-ranks
        'WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(year(o_orderdate) AS INTEGER) AS order_year FROM orders), src AS (SELECT o_orderkey, o_custkey, o_orderstatus, CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) + 1, 2) AS DOUBLE) AS o_totalprice, order_year FROM base WHERE o_orderkey % 7 = 0 UNION ALL SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, order_year FROM base WHERE o_orderkey % 11 = 0), merged AS (SELECT b.* FROM base b ANTI JOIN src s ON b.o_orderkey = s.o_orderkey UNION ALL SELECT * FROM src), final AS (SELECT m.* FROM merged m ANTI JOIN (SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0) d ON m.o_orderkey = d.o_orderkey), agg AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS total_dec FROM final GROUP BY 1), rk AS (SELECT row_number() OVER (ORDER BY total_dec DESC, o_custkey) AS rank, o_custkey, n_orders, CAST(total_dec AS DOUBLE) AS total_price FROM agg) SELECT CAST(rank AS INTEGER) AS rank, o_custkey, n_orders, total_price FROM rk WHERE rank <= 10 ORDER BY rank'
    )

    out["sprt_decision"] = (
        # Wald SPRT walk over the day grid; increments/boundary are
        # ln_micro of literal integer ratios (identical fold both
        # engines); first boundary crossing decides
        "WITH day AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS k FROM orders GROUP BY 1), walk AS (SELECT d, n, k, sum(k * (((((length(bin((4 // 3))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(4 AS BIGINT) * 1073741824) // 3) >> (length(bin((4 // 3))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) - (n - k) * (((((length(bin((17 // 16))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(17 AS BIGINT) * 1073741824) // 16) >> (length(bin((17 // 16))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16))) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr, (((((length(bin((19 // 1))) - 1) * 65536 + (list_reduce(list_prepend(CAST((((CAST(19 AS BIGINT) * 1073741824) // 1) >> (length(bin((19 // 1))) - 1)) * 65536 AS BIGINT), list_transform(range(16), i -> CAST(0 AS BIGINT))), (s, i) -> CAST((CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN (((s >> 16) * (s >> 16)) >> 30) >> 1 ELSE (((s >> 16) * (s >> 16)) >> 30) END) * 65536 + (s & 65535) * 2 + (CASE WHEN (((s >> 16) * (s >> 16)) >> 30) >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT)) & 65535)) * 693147) >> 16)) AS bound FROM day), hits AS (SELECT d, n, k, llr, bound, CASE WHEN llr >= bound THEN 'accept_h1' WHEN llr <= -bound THEN 'accept_h0' END AS hit FROM walk), f AS (SELECT d AS fd, hit AS fhit FROM hits WHERE hit IS NOT NULL ORDER BY d, hit LIMIT 1), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(n) AS BIGINT) AS n_orders, CAST(sum(k) AS BIGINT) AS n_urgent, CAST(max(bound) AS BIGINT) AS boundary_micro FROM hits), lastd AS (SELECT CAST(llr AS BIGINT) AS llr_final_micro FROM hits ORDER BY d DESC LIMIT 1) SELECT n_days, n_orders, n_urgent, llr_final_micro, boundary_micro, coalesce((SELECT fhit FROM f), 'continue') AS decision, (SELECT strftime(fd, '%Y-%m-%d') FROM f) AS decision_day FROM tot, lastd"
    )
    out["sprt_streamed"] = out["sprt_decision"]

    out["rake_keyword_scores"] = (
        # RAKE deg/freq over stopword-delimited phrases; stopwords =
        # top-20 corpus-frequency tokens
        "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), tok AS (SELECT doc_id, i AS pos, t[CAST(i AS INT)] AS token FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM d) WHERE t[CAST(i AS INT)] <> ''), stop AS (SELECT token AS stopword FROM (SELECT token, count(*) AS n FROM tok GROUP BY token) ORDER BY n DESC, token LIMIT 20), marked AS (SELECT doc_id, pos, token, CASE WHEN stopword IS NOT NULL THEN 1 ELSE 0 END AS is_stop FROM tok LEFT JOIN stop ON token = stopword), phased AS (SELECT doc_id, token, phrase_id FROM (SELECT doc_id, pos, token, is_stop, sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id FROM marked) WHERE is_stop = 0), plen AS (SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS plen FROM phased GROUP BY 1, 2), occ AS (SELECT p.token, l.plen FROM phased p JOIN plen l ON p.doc_id = l.doc_id AND p.phrase_id = l.phrase_id), stats AS (SELECT token AS word, CAST(count(*) AS BIGINT) AS freq, CAST(sum(plen) AS BIGINT) AS deg FROM occ GROUP BY 1) SELECT word, freq, deg, CAST((deg * 1000) // freq AS BIGINT) AS score_milli FROM stats ORDER BY score_milli DESC, deg DESC, word LIMIT 30"
    )

    out["rrf_fusion_exactint"] = (
        # reciprocal rank fusion of the grid and cells exact-int lists
        "WITH grid AS (WITH dims AS (SELECT unnest(generate_series(0, 63)) AS j), ps AS (SELECT unnest(generate_series(0, 47)) AS p), pl AS (SELECT p, j, ('0x' || substr(md5('lshidx:' || CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT - (CAST(1 AS BIGINT) << 59) AS pc FROM ps, dims), sige AS (SELECT vec_id, d.j AS j, CAST(floor(CAST(embedding[d.j + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS eq FROM embeddings, dims d), sdot AS (SELECT vec_id, p, sum(CAST(eq AS HUGEINT) * CAST(pc AS HUGEINT)) AS d FROM sige JOIN pl USING (j) GROUP BY 1, 2), sbits AS (SELECT vec_id, CAST(p // 8 AS INTEGER) AS tbl, CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << (p % 8)) ELSE CAST(0 AS BIGINT) END AS bv FROM sdot), intsig AS (SELECT vec_id, tbl, CAST(sum(bv) AS BIGINT) AS sig FROM sbits GROUP BY 1, 2), flips AS (SELECT unnest(generate_series(-1, 7)) AS f), qprobe AS (SELECT vec_id AS query_id, tbl, CASE WHEN f < 0 THEN sig ELSE xor(sig, CAST(1 AS BIGINT) << f) END AS bucket FROM intsig, flips WHERE vec_id < 20), cand AS (SELECT DISTINCT query_id, s.vec_id AS neighbor_id FROM qprobe JOIN intsig s ON s.tbl = qprobe.tbl AND s.sig = qprobe.bucket WHERE s.vec_id <> query_id), qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q FROM embeddings), qn AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq FROM qz), scored AS (SELECT query_id, neighbor_id, CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS dot_q, a.nq AS na, b.nq AS nb FROM cand JOIN qn a ON a.vec_id = query_id JOIN qn b ON b.vec_id = neighbor_id), pos AS (SELECT query_id, neighbor_id, (CAST(((CAST(dot_q AS HUGEINT) * 2000000 + CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END) * (CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT)) // (CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END) * (CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS cos_micro FROM scored WHERE dot_q > 0), rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_micro DESC, neighbor_id) AS rank FROM pos) SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_micro FROM rk WHERE rank <= 5), cells AS (WITH ex AS (SELECT vec_id, CAST(t.i AS INTEGER) AS dim, CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q FROM embeddings, range(1, 65) t(i)), sd AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id) AS INTEGER) AS cluster_id FROM embeddings ORDER BY ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id LIMIT 8), se AS (SELECT cluster_id, dim, q AS c FROM sd JOIN ex USING (vec_id)), d0 AS (SELECT ex.vec_id AS vec_id, se.cluster_id AS cluster_id, sum((ex.q - se.c) * (ex.q - se.c)) AS dist FROM ex JOIN se ON se.dim = ex.dim GROUP BY 1, 2), a0 AS (SELECT vec_id, cluster_id FROM (SELECT vec_id, cluster_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d0) WHERE rn = 1), cent AS (SELECT a0.cluster_id AS cluster_id, ex.dim AS dim, CAST(CAST((CAST(((CAST((sum(q) + count(*) * 4000000) AS HUGEINT) * 2 + CAST(count(*) AS HUGEINT)) // (CAST(count(*) AS HUGEINT) * 2)) AS DOUBLE) / 1.0) AS BIGINT) - 4000000 AS BIGINT) AS c FROM ex JOIN a0 ON a0.vec_id = ex.vec_id GROUP BY 1, 2), d1 AS (SELECT ex.vec_id AS vec_id, cent.cluster_id AS cluster_id, sum((ex.q - cent.c) * (ex.q - cent.c)) AS dist FROM ex JOIN cent ON cent.dim = ex.dim GROUP BY 1, 2), a1 AS (SELECT vec_id, cluster_id FROM (SELECT vec_id, cluster_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d1) WHERE rn = 1), pr AS (SELECT vec_id AS query_id, cluster_id FROM (SELECT vec_id, cluster_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn FROM d1 WHERE vec_id < 20) WHERE rn <= 2), cand AS (SELECT query_id, a1.vec_id AS neighbor_id FROM pr JOIN a1 USING (cluster_id) WHERE a1.vec_id <> query_id), qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q FROM embeddings), qn AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq FROM qz), scored AS (SELECT query_id, neighbor_id, CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS dot_q, a.nq AS na, b.nq AS nb FROM cand JOIN qn a ON a.vec_id = query_id JOIN qn b ON b.vec_id = neighbor_id), pos AS (SELECT query_id, neighbor_id, (CAST(((CAST(dot_q AS HUGEINT) * 2000000 + CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END) * (CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT)) // (CAST(((CASE WHEN (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1) <= na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) > na THEN CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(na AS DOUBLE))) AS BIGINT) END) * (CASE WHEN (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) * (CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1) <= nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) * CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) > nb THEN CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(floor(sqrt(CAST(nb AS DOUBLE))) AS BIGINT) END)) AS HUGEINT) * 2)) AS DOUBLE) / 1000000.0) AS cos_micro FROM scored WHERE dot_q > 0), rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_micro DESC, neighbor_id) AS rank FROM pos) SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_micro FROM rk WHERE rank <= 5), lists AS (SELECT query_id, neighbor_id, rank AS r FROM grid UNION ALL SELECT query_id, neighbor_id, rank AS r FROM cells), fused AS (SELECT query_id, neighbor_id, CAST(sum(1000000 // (60 + r)) AS BIGINT) AS fused_micro FROM lists GROUP BY 1, 2), rk AS (SELECT query_id, neighbor_id, fused_micro, CAST(row_number() OVER (PARTITION BY query_id ORDER BY fused_micro DESC, neighbor_id) AS INTEGER) AS rank FROM fused) SELECT query_id, neighbor_id, fused_micro, rank FROM rk WHERE rank <= 5 ORDER BY query_id, rank"
    )
    out["revenue_runs_test"] = (
        # Wald-Wolfowitz runs: z^2 as one trunc rational, no sqrt
        'WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev FROM orders GROUP BY 1), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily), med AS (SELECT rev AS median_rev FROM (SELECT rev, row_number() OVER (ORDER BY rev, d) AS rk FROM daily), nt WHERE rk = (n_days + 1) // 2), signed AS (SELECT d, CASE WHEN rev > median_rev THEN 1 ELSE 0 END AS s FROM daily, med), runs AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS NULL OR lag(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS new_run FROM signed), g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS n1, CAST(sum(1 - s) AS BIGINT) AS n2, CAST(sum(new_run) AS BIGINT) AS r FROM runs) SELECT n AS n_days, n1 AS n_above, n2 AS n_below, r AS n_runs, CAST(1000000 + (2 * n1 * n2 * 1000000) // n AS BIGINT) AS mu_micro, CAST((CAST((n * (r - 1) - 2 * n1 * n2) * (n * (r - 1) - 2 * n1 * n2) * (n - 1) AS HUGEINT) * 1000000) // (2 * n1 * n2 * (2 * n1 * n2 - n)) AS BIGINT) AS z2_micro, CAST(CASE WHEN n * (r - 1) - 2 * n1 * n2 > 0 THEN 1 WHEN n * (r - 1) - 2 * n1 * n2 < 0 THEN -1 ELSE 0 END AS INTEGER) AS z_sign, (CAST((CAST((n * (r - 1) - 2 * n1 * n2) * (n * (r - 1) - 2 * n1 * n2) * (n - 1) AS HUGEINT) * 1000000) // (2 * n1 * n2 * (2 * n1 * n2 - n)) AS BIGINT)) > 3841600 AS nonrandom FROM g'
    )

    # KMV / bottom-k distinct sketch (mirrors quality.KMV_K = 256,
    # KMV_DOMAIN = 2^60, same md5-derived 60-bit hash)
    def _kmv_one(table: str, col: str) -> str:
        h = (
            f"('0x' || substr(md5('kmv:{table}.{col}:' || "
            f"CAST({col} AS VARCHAR)), 1, 15))::BIGINT"
        )
        kk = quality.KMV_K
        return (
            f"SELECT '{table}.{col}' AS target, n_exact, k_filled, "
            "kth_min_hash, kmv_estimate, "
            "CAST((abs(kmv_estimate - n_exact) * 1000) // n_exact "
            "AS BIGINT) AS err_permille FROM ("
            "SELECT n_exact, k_filled, kth_min_hash, "
            f"CASE WHEN k_filled < {kk} THEN k_filled "
            f"ELSE CAST((CAST({kk - 1} AS HUGEINT) * {quality.KMV_DOMAIN}) "
            "// kth_min_hash AS BIGINT) END AS kmv_estimate "
            f"FROM (SELECT CAST(count(DISTINCT {col}) AS BIGINT) "
            f"AS n_exact FROM {table} WHERE {col} IS NOT NULL), "
            "(SELECT CAST(max(h) AS BIGINT) AS kth_min_hash, "
            "CAST(count(*) AS BIGINT) AS k_filled FROM "
            f"(SELECT h FROM (SELECT DISTINCT {h} AS h FROM {table} "
            f"WHERE {col} IS NOT NULL) ORDER BY h LIMIT {kk})))"
        )

    out["kmv_distinct_estimate"] = (
        " UNION ALL ".join(
            _kmv_one(tbl, col) for tbl, col in quality.KMV_TARGETS
        )
        + " ORDER BY target"
    )

    # Bloom FPR k-sweep (mirrors curation.BLOOM_FPR_KS over the same
    # 2^16-bit geometry and md5 'bloom{j}:' keys; level-k membership
    # of position p is minj(p) <= k-1 — the prefix property that makes
    # the sweep one pass)
    _bp_j = (
        "(('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || ':' || "
        "shingle), 1, 15))::BIGINT % 65536)"
    )
    out["bloom_fpr_audit"] = (
        "WITH "
        + _SHINGLES_CTE
        + ", shf AS (SELECT * FROM sh WHERE shingle IN "
        "(SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100)), "
        "lab AS (SELECT doc_id, shingle, "
        f"{bucket.format(tag='split')} >= 90 AS is_test FROM shf), "
        "tg AS (SELECT DISTINCT shingle FROM lab WHERE is_test), "
        "pg AS (SELECT DISTINCT shingle FROM lab WHERE NOT is_test), "
        "js AS (SELECT unnest(generate_series(0, 7)) AS j), "
        f"tpos AS (SELECT shingle, j, {_bp_j} AS p FROM tg, js), "
        "minj AS MATERIALIZED (SELECT p, min(j) AS minj FROM tpos "
        "GROUP BY 1), "
        f"ppos AS (SELECT shingle, j, {_bp_j} AS p FROM pg, js), "
        "ks AS (SELECT unnest([1, 2, 4, 6, 8]) AS k), "
        "pt AS (SELECT shingle, j, coalesce(minj, 8) AS t FROM ppos "
        "LEFT JOIN minj USING (p)), "
        "hits AS (SELECT shingle, k, max(t) <= k - 1 AS bloom_hit "
        "FROM pt, ks WHERE j < k GROUP BY 1, 2), "
        "mem AS (SELECT pg.shingle AS shingle, "
        "(tg.shingle IS NOT NULL) AS is_member FROM pg "
        "LEFT JOIN tg ON pg.shingle = tg.shingle), "
        "perk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_probes, "
        "CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_member_probes, "
        "CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_bloom_hits, "
        "CAST(sum(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 "
        "END) AS BIGINT) AS n_false_pos "
        "FROM hits h JOIN mem m ON h.shingle = m.shingle GROUP BY k), "
        "bits AS (SELECT k, CAST(count(*) AS BIGINT) AS bits_set "
        "FROM minj, ks WHERE minj <= k - 1 GROUP BY k), "
        "ntg AS (SELECT CAST(count(*) AS BIGINT) AS n_test_grams FROM tg) "
        "SELECT CAST(k AS INTEGER) AS k_hashes, n_test_grams, bits_set, "
        "n_probes, n_member_probes, n_bloom_hits, n_false_pos, "
        "CAST((n_false_pos * 1000000) // (n_probes - n_member_probes) "
        "AS BIGINT) AS fpr_micro "
        "FROM perk JOIN bits USING (k), ntg ORDER BY k_hashes"
    )

    # MMR diversified re-ranking over the fused exact-int pool
    # (mirrors similarity.MMR_SELECT = 3 unrolled greedy rounds,
    # λ = 0.7 as the integer pair 7/3 in deci-micro units)
    def _cmi(dot: str, na: str, nb: str) -> str:
        den = f"({_isq(na)} * {_isq(nb)})"
        return (
            f"CASE WHEN {dot} <= 0 THEN 0 ELSE "
            f"CAST((CAST({dot} AS HUGEINT) * 2000000 + "
            f"CAST({den} AS HUGEINT)) // "
            f"(CAST({den} AS HUGEINT) * 2) AS BIGINT) END"
        )

    _mmr_dot = (
        "CAST(list_sum(list_transform(generate_series(1, len({a}.q)), "
        "i -> {a}.q[CAST(i AS INT)] * {b}.q[CAST(i AS INT)])) AS BIGINT)"
    )
    out["mmr_rerank_exactint"] = (
        "WITH grid AS ("
        + out["ann_topk_exactint"]
        + "), cells AS ("
        + out["ivf_topk_exactint"]
        + "), pool0 AS (SELECT DISTINCT query_id, neighbor_id FROM "
        "(SELECT query_id, neighbor_id FROM grid "
        "UNION ALL SELECT query_id, neighbor_id FROM cells)), "
        "qz AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) "
        "AS q FROM embeddings), "
        "qn AS (SELECT vec_id, q, CAST(list_sum(list_transform(q, "
        "x -> x * x)) AS BIGINT) AS nq FROM qz), "
        "pool AS MATERIALIZED (SELECT query_id, neighbor_id, "
        + _cmi("dot", "na", "nb")
        + " AS rel_micro FROM (SELECT query_id, neighbor_id, "
        + _mmr_dot.format(a="a", b="b")
        + " AS dot, a.nq AS na, b.nq AS nb FROM pool0 "
        "JOIN qn a ON a.vec_id = query_id "
        "JOIN qn b ON b.vec_id = neighbor_id)), "
        "sims AS MATERIALIZED (SELECT query_id, a, b, "
        + _cmi("dot", "na", "nb")
        + " AS sim_micro FROM (SELECT p1.query_id AS query_id, "
        "p1.neighbor_id AS a, p2.neighbor_id AS b, "
        + _mmr_dot.format(a="x", b="y")
        + " AS dot, x.nq AS na, y.nq AS nb FROM pool0 p1 "
        "JOIN pool0 p2 ON p1.query_id = p2.query_id "
        "AND p1.neighbor_id <> p2.neighbor_id "
        "JOIN qn x ON x.vec_id = p1.neighbor_id "
        "JOIN qn y ON y.vec_id = p2.neighbor_id)), "
        "s1 AS MATERIALIZED (SELECT query_id, neighbor_id, rel_micro, "
        "7 * rel_micro AS mmr_deci FROM (SELECT *, row_number() OVER ("
        "PARTITION BY query_id ORDER BY rel_micro DESC, neighbor_id) "
        "AS rn FROM pool) WHERE rn = 1), "
        "rem2 AS (SELECT p.* FROM pool p WHERE NOT EXISTS (SELECT 1 "
        "FROM s1 WHERE s1.query_id = p.query_id "
        "AND s1.neighbor_id = p.neighbor_id)), "
        "ms2 AS (SELECT s.query_id, s.a, max(s.sim_micro) AS max_sim "
        "FROM sims s JOIN s1 ON s1.query_id = s.query_id "
        "AND s1.neighbor_id = s.b GROUP BY 1, 2), "
        "s2 AS MATERIALIZED (SELECT query_id, neighbor_id, rel_micro, "
        "mmr_deci FROM (SELECT r.query_id, r.neighbor_id, r.rel_micro, "
        "7 * r.rel_micro - 3 * coalesce(m.max_sim, 0) AS mmr_deci, "
        "row_number() OVER (PARTITION BY r.query_id ORDER BY "
        "7 * r.rel_micro - 3 * coalesce(m.max_sim, 0) DESC, "
        "r.neighbor_id) AS rn FROM rem2 r LEFT JOIN ms2 m "
        "ON m.query_id = r.query_id AND m.a = r.neighbor_id) "
        "WHERE rn = 1), "
        "sel12 AS MATERIALIZED (SELECT query_id, neighbor_id FROM s1 "
        "UNION ALL SELECT query_id, neighbor_id FROM s2), "
        "rem3 AS (SELECT p.* FROM pool p WHERE NOT EXISTS (SELECT 1 "
        "FROM sel12 s WHERE s.query_id = p.query_id "
        "AND s.neighbor_id = p.neighbor_id)), "
        "ms3 AS (SELECT s.query_id, s.a, max(s.sim_micro) AS max_sim "
        "FROM sims s JOIN sel12 t ON t.query_id = s.query_id "
        "AND t.neighbor_id = s.b GROUP BY 1, 2), "
        "s3 AS (SELECT query_id, neighbor_id, rel_micro, mmr_deci FROM "
        "(SELECT r.query_id, r.neighbor_id, r.rel_micro, "
        "7 * r.rel_micro - 3 * coalesce(m.max_sim, 0) AS mmr_deci, "
        "row_number() OVER (PARTITION BY r.query_id ORDER BY "
        "7 * r.rel_micro - 3 * coalesce(m.max_sim, 0) DESC, "
        "r.neighbor_id) AS rn FROM rem3 r LEFT JOIN ms3 m "
        "ON m.query_id = r.query_id AND m.a = r.neighbor_id) "
        "WHERE rn = 1) "
        "SELECT query_id, neighbor_id, CAST(1 AS INTEGER) AS pick_rank, "
        "rel_micro, mmr_deci FROM s1 "
        "UNION ALL SELECT query_id, neighbor_id, CAST(2 AS INTEGER), "
        "rel_micro, mmr_deci FROM s2 "
        "UNION ALL SELECT query_id, neighbor_id, CAST(3 AS INTEGER), "
        "rel_micro, mmr_deci FROM s3 ORDER BY query_id, pick_rank"
    )

    # FIM (fill-in-the-middle) corpus transform: splitmix60-derived cut
    # points, PSM/SPM sentinel serialization, md5 over the re-serialized
    # text (mirrors curation.q_fim_transform)
    out["fim_transform"] = (
        "WITH base AS (SELECT doc_id, text, "
        "CAST(length(text) AS BIGINT) AS n, "
        f"{_p64('doc_id')} AS seed FROM documents), "
        f"m AS (SELECT doc_id, text, n, {_smx('seed', '0')} AS u1, "
        f"{_smx('seed', '1')} AS u2, {_smx('seed', '2')} AS u3 "
        "FROM base), "
        "c AS (SELECT doc_id, text, n, "
        "CASE WHEN n >= 32 THEN 1 + (u1 % (n - 2)) END AS cut_lo, "
        "u2, u3 FROM m), "
        "c2 AS (SELECT doc_id, text, n, cut_lo, "
        "CASE WHEN n >= 32 THEN cut_lo + 1 + (u2 % (n - 1 - cut_lo)) "
        "END AS cut_hi, "
        "CASE WHEN n < 32 THEN 'raw' WHEN u3 % 2 = 0 THEN 'psm' "
        "ELSE 'spm' END AS mode FROM c), "
        "f AS (SELECT *, CASE WHEN mode = 'raw' THEN text "
        "WHEN mode = 'psm' THEN '<fim_prefix>' || "
        "substr(text, 1, cut_lo) || '<fim_suffix>' || "
        "substr(text, cut_hi + 1, n - cut_hi) || '<fim_middle>' || "
        "substr(text, cut_lo + 1, cut_hi - cut_lo) "
        "ELSE '<fim_suffix>' || substr(text, cut_hi + 1, n - cut_hi) || "
        "'<fim_prefix>' || substr(text, 1, cut_lo) || '<fim_middle>' || "
        "substr(text, cut_lo + 1, cut_hi - cut_lo) END AS fim FROM c2) "
        "SELECT doc_id, n AS n_chars, cut_lo, cut_hi, mode, "
        "CAST(length(fim) AS BIGINT) AS fim_len, md5(fim) AS fim_md5 "
        "FROM f ORDER BY doc_id"
    )

    # Vocabulary-richness card over bigram types: Chao1, Yule's K,
    # Simpson repeat probability — exact integer floors over the
    # count-of-counts table (mirrors text.q_vocab_richness)
    out["vocab_richness"] = (
        "WITH toks AS (SELECT string_split(text, ' ') AS tk "
        "FROM documents WHERE len(string_split(text, ' ')) >= 2), "
        "terms AS (SELECT tk[i] || ' ' || tk[i+1] AS term "
        "FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)), "
        "tf AS (SELECT term, CAST(count(*) AS BIGINT) AS r FROM terms "
        "GROUP BY term), "
        "a AS (SELECT CAST(sum(r) AS BIGINT) AS n_tokens, "
        "CAST(count(*) AS BIGINT) AS vocab, "
        "CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1, "
        "CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2, "
        "CAST(max(r) AS BIGINT) AS max_r, "
        "CAST(sum(r * r) AS BIGINT) AS s2, "
        "CAST(sum(r * (r - 1)) AS BIGINT) AS rep FROM tf) "
        "SELECT n_tokens, vocab, f1, f2, max_r, "
        "CAST(vocab * 1000 + (CAST(f1 AS HUGEINT) * (f1 - 1) * 1000) "
        "// (2 * (f2 + 1)) AS BIGINT) AS chao1_milli, "
        "CAST((CAST(s2 - n_tokens AS HUGEINT) * 10000000) // "
        "(CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) "
        "AS yule_k_milli, "
        "CAST((CAST(rep AS HUGEINT) * 1000000) // "
        "(CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT) "
        "AS simpson_ppm FROM a"
    )

    # Cochran-Armitage trend test: return rate vs ordered priority
    # scores, exact closed form in HUGEINT with the chisq-family N
    # guard (mirrors quality.q_cochran_armitage_trend)
    out["cochran_armitage_trend"] = (
        "WITH ret AS (SELECT l_orderkey, CAST(max(CASE WHEN "
        "l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ret "
        "FROM lineitem GROUP BY l_orderkey), "
        "per AS (SELECT o_orderpriority AS priority, "
        "CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS score, "
        "CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(sum(coalesce(ret, 0)) AS BIGINT) AS n_returned "
        "FROM orders LEFT JOIN ret ON o_orderkey = l_orderkey "
        "GROUP BY 1, 2), "
        "t0 AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total0, "
        "CAST(sum(n_returned) AS BIGINT) AS r_total, "
        "CAST(sum(score * n_orders) AS BIGINT) AS ssn, "
        "CAST(sum(score * score * n_orders) AS BIGINT) AS ss2n, "
        "CAST(sum(score * n_returned) AS BIGINT) AS ssr FROM per), "
        "t1 AS (SELECT CASE WHEN n_total0 >= 100000000 THEN "
        "CAST(error('cochran_armitage contract violated: N >= 1e8; "
        "sample upstream') AS BIGINT) ELSE n_total0 END AS n_total, "
        "r_total, ssn, ss2n, ssr FROM t0), "
        "g AS (SELECT n_total, r_total, "
        "CAST(sign(CAST(n_total AS HUGEINT) * ssr - "
        "CAST(r_total AS HUGEINT) * ssn) AS INTEGER) AS trend_sign, "
        "CAST((CAST(n_total AS HUGEINT) * "
        "(CAST(n_total AS HUGEINT) * ssr - CAST(r_total AS HUGEINT) "
        "* ssn) * (CAST(n_total AS HUGEINT) * ssr - "
        "CAST(r_total AS HUGEINT) * ssn) * 1000) // "
        "(CAST(r_total AS HUGEINT) * (n_total - r_total) * "
        "(CAST(n_total AS HUGEINT) * ss2n - CAST(ssn AS HUGEINT) "
        "* ssn)) AS BIGINT) AS z2_milli FROM t1) "
        "SELECT priority, score, n_orders, n_returned, "
        "CAST((CAST(n_returned AS HUGEINT) * 1000000) // n_orders "
        "AS BIGINT) AS rate_ppm, n_total, r_total, trend_sign, "
        "z2_milli, z2_milli > 3841 AS significant "
        "FROM per, g ORDER BY score"
    )

    # Log-rank test of repeat-purchase survival, BUILDING vs rest:
    # hypergeometric E/V ledger on the duration grid, micro floors,
    # chi2 from the quantized sums (mirrors events.q_logrank_segments)
    out["logrank_segments"] = (
        "WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, "
        "o_orderkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 "
        "END AS grp FROM orders JOIN customer ON o_custkey = c_custkey), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY d, o_orderkey) AS rn FROM o), "
        "fs AS (SELECT o_custkey, min(CASE WHEN rn = 1 THEN d END) AS d1, "
        "min(CASE WHEN rn = 2 THEN d END) AS d2, max(grp) AS grp "
        "FROM rk WHERE rn <= 2 GROUP BY o_custkey), "
        "gm AS (SELECT max(CAST(o_orderdate AS DATE)) AS gmax "
        "FROM orders), "
        "u AS (SELECT CASE WHEN d2 IS NOT NULL THEN "
        "date_diff('day', d1, d2) ELSE date_diff('day', d1, gmax) END "
        "AS t_days, CASE WHEN d2 IS NULL THEN 1 ELSE 0 END AS cen, grp "
        "FROM fs, gm), "
        "grid AS (SELECT t_days, "
        "CAST(sum((1 - cen) * grp) AS BIGINT) AS d1, "
        "CAST(sum((1 - cen) * (1 - grp)) AS BIGINT) AS d0, "
        "CAST(sum(cen * grp) AS BIGINT) AS c1, "
        "CAST(sum(cen * (1 - grp)) AS BIGINT) AS c0 "
        "FROM u GROUP BY t_days), "
        "r AS (SELECT *, CAST(sum(d1 + c1) OVER (ORDER BY t_days DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS n1, CAST(sum(d0 + c0) OVER (ORDER BY t_days DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS n0 FROM grid), "
        "dth AS (SELECT d1, d0, "
        "CAST((CAST(d1 + d0 AS HUGEINT) * n1 * 1000000) // (n1 + n0) "
        "AS BIGINT) AS e1u, "
        "CAST((CAST(d1 + d0 AS HUGEINT) * n0 * 1000000) // (n1 + n0) "
        "AS BIGINT) AS e0u, "
        "CASE WHEN n1 + n0 > 1 THEN CAST((CAST(d1 + d0 AS HUGEINT) * "
        "(n1 + n0 - d1 - d0) * n1 * n0 * 1000000) // "
        "(CAST(n1 + n0 AS HUGEINT) * (n1 + n0) * (n1 + n0 - 1)) "
        "AS BIGINT) ELSE 0 END AS vu FROM r WHERE d1 + d0 > 0), "
        "st AS (SELECT CAST(sum(d1) AS BIGINT) AS o1, "
        "CAST(sum(d0) AS BIGINT) AS o0, "
        "CAST(sum(e1u) AS BIGINT) AS e1_micro, "
        "CAST(sum(e0u) AS BIGINT) AS e0_micro, "
        "CAST(sum(vu) AS BIGINT) AS v_micro FROM dth), "
        "st2 AS (SELECT *, CASE WHEN v_micro > 0 THEN "
        "CAST((CAST(o1 * 1000000 - e1_micro AS HUGEINT) * "
        "(o1 * 1000000 - e1_micro) * 1000) // "
        "(CAST(v_micro AS HUGEINT) * 1000000) AS BIGINT) END "
        "AS chi2_milli FROM st), "
        "gsum AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_subjects, "
        "CAST(sum(1 - cen) AS BIGINT) AS n_events, "
        "CAST(sum(cen) AS BIGINT) AS n_censored FROM u GROUP BY grp) "
        "SELECT CASE WHEN grp = 1 THEN 'BUILDING' ELSE 'OTHER' END "
        "AS segment, n_subjects, n_events, n_censored, "
        "CASE WHEN grp = 1 THEN e1_micro ELSE e0_micro END "
        "AS e_events_micro, v_micro, chi2_milli, "
        "chi2_milli > 3841 AS significant "
        "FROM gsum, st2 ORDER BY segment"
    )

    # AMS tug-of-war F2 sketch over bigram types: bit-identical
    # counters (one md5 per type + splitmix60 sign per estimator),
    # median-of-means finisher (mirrors quality.q_ams_f2_estimate)
    out["ams_f2_estimate"] = (
        "WITH toks AS (SELECT string_split(text, ' ') AS tk "
        "FROM documents WHERE len(string_split(text, ' ')) >= 2), "
        "terms AS (SELECT tk[i] || ' ' || tk[i+1] AS term "
        "FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)), "
        "tf AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM terms "
        "GROUP BY term), "
        f"fan AS (SELECT f, {_p64('term')} AS seed, j "
        "FROM tf, unnest(generate_series(0, 15)) AS s(j)), "
        f"x AS (SELECT j, CAST(sum((({_smx('seed', 'j')}) % 2 * 2 - 1) "
        "* f) AS BIGINT) AS x_j FROM fan GROUP BY j), "
        "x2 AS (SELECT CAST(j AS INTEGER) AS j, "
        "CAST(j // 4 AS INTEGER) AS grp, x_j, x_j * x_j AS x2 FROM x), "
        "gm AS (SELECT grp, CAST(sum(x2) // 4 AS BIGINT) AS m FROM x2 "
        "GROUP BY grp), "
        "est AS (SELECT CAST((ms[2] + ms[3]) // 2 AS BIGINT) AS f2_est "
        "FROM (SELECT list_sort(list(m)) AS ms FROM gm)), "
        "ex AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM tf) "
        "SELECT j, grp, x_j, x2, f2_exact, f2_est, "
        "CAST((abs(CAST(f2_est AS HUGEINT) - f2_exact) * 1000000) // "
        "f2_exact AS BIGINT) AS rel_err_ppm "
        "FROM x2, ex, est ORDER BY j"
    )

    # Duffield-Thorup priority sample of orders by spend: 2^60-scale
    # integer priorities, top-(k+1) threshold, unbiased subset-sum
    # estimator with per-row floors (mirrors curation.q_priority_sample)
    out["priority_sample"] = (
        "WITH base AS (SELECT o_orderkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        f"AS w_cents, {_p64('o_orderkey')} AS seed FROM orders), "
        f"pri AS (SELECT o_orderkey, w_cents, "
        f"(CAST(w_cents AS HUGEINT) * {1 << 60}) // "
        f"(({_smx('seed', '0')}) + 1) AS qn FROM base), "
        "rk AS (SELECT *, row_number() OVER (ORDER BY qn DESC, "
        "o_orderkey) AS rank FROM pri "
        "ORDER BY qn DESC, o_orderkey LIMIT 51), "
        "tau AS (SELECT qn AS tau FROM rk WHERE rank = 51), "
        "sample AS (SELECT CAST(rank AS INTEGER) AS rank, o_orderkey, "
        "w_cents, CAST(greatest(CAST(w_cents AS HUGEINT), tau) "
        "AS BIGINT) AS w_max_cents, "
        "CAST(tau AS VARCHAR) AS tau_str FROM rk, tau "
        "WHERE rank <= 50), "
        "est AS (SELECT CAST(sum(w_max_cents) AS BIGINT) AS est_cents "
        "FROM sample), "
        "ex AS (SELECT CAST(sum(w_cents) AS BIGINT) AS exact_cents "
        "FROM base) "
        "SELECT rank, o_orderkey, w_cents, w_max_cents, tau_str, "
        "est_cents, exact_cents, "
        "CAST((abs(CAST(est_cents AS HUGEINT) - exact_cents) * 1000000) "
        "// exact_cents AS BIGINT) AS err_ppm "
        "FROM sample, est, ex ORDER BY rank"
    )

    # Page-Hinkley sequential drift on daily revenue: ppm relative
    # deviation from the running mean (trunc-toward-zero sign split),
    # two one-sided ledgers (mirrors temporal.q_page_hinkley_drift)
    out["page_hinkley_drift"] = (
        "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) "
        "AS cents FROM orders GROUP BY 1), "
        "g AS (SELECT day, cents, "
        "CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, "
        "CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS s FROM daily), "
        "d AS (SELECT day, cents, "
        "CAST(CASE WHEN CAST(cents AS HUGEINT) * t - s < 0 THEN "
        "-((-(CAST(cents AS HUGEINT) * t - s) * 1000000) // s) "
        "ELSE ((CAST(cents AS HUGEINT) * t - s) * 1000000) // s END "
        "AS BIGINT) AS dev_ppm FROM g), "
        "m AS (SELECT day, cents, dev_ppm, "
        "CAST(sum(dev_ppm - 50000) OVER (ORDER BY day ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m_up, "
        "CAST(sum(dev_ppm + 50000) OVER (ORDER BY day ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m_dn "
        "FROM d), "
        "p AS (SELECT day, cents, dev_ppm, "
        "m_up - min(m_up) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS ph_up_ppm, "
        "max(m_dn) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) - m_dn AS ph_dn_ppm FROM m) "
        "SELECT strftime(day, '%Y-%m-%d') AS day, cents, dev_ppm, "
        "CAST(ph_up_ppm AS BIGINT) AS ph_up_ppm, "
        "CAST(ph_dn_ppm AS BIGINT) AS ph_dn_ppm, "
        "ph_up_ppm > 500000 AS alarm_up, "
        "ph_dn_ppm > 500000 AS alarm_dn FROM p ORDER BY day"
    )
    # the streamed drain maintains the same additive daily grid and
    # shares ph_finish -- same oracle row
    out["page_hinkley_streamed"] = out["page_hinkley_drift"]

    # HITS hubs/authorities on the customer->part purchase graph:
    # 3 unrolled power rounds, max-normalized to the 1e6 integer
    # scale each half-step (mirrors graph.q_hits_hubs_authorities)
    _hits = (
        "WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, "
        "l_partkey AS p FROM orders JOIN lineitem "
        "ON o_orderkey = l_orderkey), "
        "h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM e)"
    )
    for _r in range(1, 4):
        _hits += (
            f", ra{_r} AS (SELECT p, CAST(sum(h) AS BIGINT) AS s "
            f"FROM e JOIN h{_r - 1} USING (c) GROUP BY p), "
            f"a{_r} AS (SELECT p, CAST((CAST(s AS HUGEINT) * 1000000) "
            f"// (SELECT max(s) FROM ra{_r}) AS BIGINT) AS a "
            f"FROM ra{_r}), "
            f"rh{_r} AS (SELECT c, CAST(sum(a) AS BIGINT) AS s "
            f"FROM e JOIN a{_r} USING (p) GROUP BY c), "
            f"h{_r} AS (SELECT c, CAST((CAST(s AS HUGEINT) * 1000000) "
            f"// (SELECT max(s) FROM rh{_r}) AS BIGINT) AS h "
            f"FROM rh{_r})"
        )
    out["hits_hubs_authorities"] = _hits + (
        ", hub AS (SELECT 'hub' AS kind, CAST(c AS BIGINT) AS node_id, "
        "h AS score_micro FROM h3 ORDER BY h DESC, c LIMIT 20), "
        "aut AS (SELECT 'authority' AS kind, CAST(p AS BIGINT) "
        "AS node_id, a AS score_micro FROM a3 ORDER BY a DESC, p "
        "LIMIT 20), "
        "u AS (SELECT * FROM hub UNION ALL SELECT * FROM aut) "
        "SELECT kind, node_id, score_micro, "
        "CAST(row_number() OVER (PARTITION BY kind ORDER BY "
        "score_micro DESC, node_id) AS INTEGER) AS rank "
        "FROM u ORDER BY kind, rank"
    )

    # Dirichlet query-likelihood LM ranking (mu=100): ppm corpus LM,
    # per-(doc,term) -ln_micro factor including missing terms, same
    # top-20-df query panel as BM25 (mirrors text.q_query_likelihood_lm)
    out["query_likelihood_lm"] = (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) "
        "AS term FROM documents), "
        "tk AS (SELECT * FROM tok WHERE term <> ''), "
        "tft AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
        "FROM tk GROUP BY 1, 2), "
        "dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl "
        "FROM tft GROUP BY 1), "
        "tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t_tokens FROM dlt), "
        "dft AS (SELECT term, count(*) AS df, "
        "CAST(sum(tf) AS BIGINT) AS ctf FROM tft GROUP BY 1), "
        "top AS (SELECT term, ctf, row_number() OVER ("
        "ORDER BY df DESC, term) AS rk FROM dft "
        "ORDER BY df DESC, term LIMIT 20), "
        "qt AS (SELECT CAST((rk - 1) // 4 AS INT) AS query_id, term, "
        "CAST((ctf * 1000000) // t_tokens AS BIGINT) AS ctf_ppm "
        "FROM top, tt), "
        "pairs AS (SELECT qt.query_id, dlt.doc_id, qt.term, dlt.dl, "
        "qt.ctf_ppm, tft.tf FROM dlt CROSS JOIN qt "
        "LEFT JOIN tft ON tft.doc_id = dlt.doc_id "
        "AND tft.term = qt.term), "
        "s AS (SELECT query_id, doc_id, -("
        + _lnm(
            "((dl + 100) * 1000000)",
            "greatest(coalesce(tf, 0) * 1000000 + 100 * ctf_ppm, 1)",
        )
        + ") AS s, CASE WHEN tf IS NOT NULL THEN 1 ELSE 0 END AS hit "
        "FROM pairs), "
        "a AS (SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) "
        "AS ql_micro, CAST(sum(hit) AS INT) AS n_terms_hit "
        "FROM s GROUP BY 1, 2), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY ql_micro DESC, doc_id) AS rk FROM a) "
        "SELECT query_id, doc_id, ql_micro, n_terms_hit, "
        "CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 10"
    )

    # Effective diameter (90%) from the HyperBall neighborhood
    # function — wraps the neighborhood oracle as a subquery (same
    # registers, same rounds; mirrors graph.q_effective_diameter)
    out["effective_diameter"] = (
        "WITH nf AS ("
        + out["hyperball_neighborhood"]
        + "), mx AS (SELECT sum_ball_est AS nf_max FROM nf "
        "WHERE round = 3), "
        "rws AS (SELECT round, sum_ball_est, "
        "lag(sum_ball_est) OVER (ORDER BY round) AS prev, "
        "CAST((CAST(sum_ball_est AS HUGEINT) * 1000000) // nf_max "
        "AS BIGINT) AS coverage_ppm, "
        "sum_ball_est * 10 >= nf_max * 9 AS reached, nf_max "
        "FROM nf, mx), "
        "crs AS (SELECT round AS eff_diameter_r, "
        "CASE WHEN round = 0 THEN CAST(0 AS BIGINT) ELSE "
        "CAST((round - 1) * 1000 + ((CAST(nf_max AS HUGEINT) * 9 "
        "- CAST(prev AS HUGEINT) * 10) * 1000) // "
        "((sum_ball_est - prev) * 10) AS BIGINT) END "
        "AS eff_diameter_milli "
        "FROM rws WHERE reached ORDER BY round LIMIT 1) "
        "SELECT round, sum_ball_est, coverage_ppm, reached, nf_max, "
        "eff_diameter_r, eff_diameter_milli FROM rws, crs "
        "ORDER BY round"
    )

    # Isotonic (PAVA) calibration of the kNN reliability table via
    # the exact minimax-of-interval-means characterization — wraps
    # the calibration_report oracle (mirrors
    # similarity.q_isotonic_calibration)
    out["isotonic_calibration"] = (
        "WITH rep AS ("
        + out["calibration_report"]
        + "), bins AS (SELECT votes, n, n_correct, conf_permille, "
        "acc_permille, row_number() OVER (ORDER BY votes) AS t, "
        "CAST(sum(n) OVER (ORDER BY votes ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS pn, "
        "CAST(sum(n_correct) OVER (ORDER BY votes ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pc "
        "FROM rep), "
        "iv AS (SELECT bi.t AS i, bj.t AS j, "
        "CAST((CAST(bj.pc - (bi.pc - bi.n_correct) AS HUGEINT) "
        "* 1000000000000) // (bj.pn - (bi.pn - bi.n)) AS BIGINT) "
        "AS m_pico FROM bins bj "
        "JOIN bins bi ON bi.t <= bj.t), "
        "cov AS (SELECT i, m_pico, unnest(generate_series(i, j)) AS t "
        "FROM iv), "
        "inner_min AS (SELECT t, i, min(m_pico) AS mn FROM cov "
        "GROUP BY 1, 2), "
        "iso AS (SELECT t, CAST(max(mn) // 1000000 AS BIGINT) "
        "AS iso_micro FROM inner_min GROUP BY t), "
        "inv AS (SELECT CAST(coalesce(sum(bad), 0) AS INT) "
        "AS n_inversions FROM (SELECT CASE WHEN acc_permille < "
        "lag(acc_permille) OVER (ORDER BY votes) THEN 1 ELSE 0 END "
        "AS bad FROM bins)) "
        "SELECT votes, n, n_correct, conf_permille, acc_permille, "
        "iso_micro, n_inversions FROM bins JOIN iso USING (t), inv "
        "ORDER BY votes"
    )

    # epsilon-DP event-type histogram, two-sided geometric mechanism
    # at eps = ln 2: pure-binary inverse CDF on a splitmix60 draw
    # (mirrors quality.q_dp_event_histogram)
    out["dp_event_histogram"] = (
        "WITH counts AS (SELECT event_type, "
        "CAST(count(*) AS BIGINT) AS n_true FROM events GROUP BY 1), "
        f"mixed AS (SELECT event_type, n_true, "
        f"{_smx(_p64('event_type'), '0')} AS u FROM counts), "
        "noised AS (SELECT event_type, n_true, "
        f"CAST(CASE WHEN u * 3 < {1 << 60} THEN "
        "length(bin(u * 3)) - 61 "
        f"WHEN u * 3 >= {1 << 61} THEN "
        f"61 - length(bin(({1 << 60} - u) * 3 - 1)) "
        "ELSE 0 END AS BIGINT) AS noise FROM mixed) "
        "SELECT event_type, n_true, noise, "
        "greatest(n_true + noise, 0) AS n_released, "
        "CAST(693 AS INT) AS epsilon_milli "
        "FROM noised ORDER BY event_type"
    )

    # Hard-negative mining from the exact-int ANN serving list:
    # wrong-label served neighbors ranked by score, margin vs best
    # same-label hit (mirrors similarity.q_hard_negative_mining)
    out["hard_negative_mining"] = (
        "WITH serve AS ("
        + out["ann_topk_exactint"]
        + "), lab AS (SELECT vec_id, label FROM embeddings), "
        "j AS (SELECT s.query_id, s.neighbor_id, "
        "CAST(s.rank AS INT) AS serve_rank, s.cos_micro, "
        "CAST(round(s.cos_micro * 1000000) AS BIGINT) AS s_micro, "
        "ql.label AS q_label, nl.label AS n_label "
        "FROM serve s JOIN lab ql ON ql.vec_id = s.query_id "
        "JOIN lab nl ON nl.vec_id = s.neighbor_id), "
        "pos AS (SELECT query_id, CAST(max(s_micro) AS BIGINT) "
        "AS best_pos_micro FROM j WHERE q_label = n_label GROUP BY 1), "
        "neg AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY s_micro DESC, neighbor_id) AS neg_rank FROM j "
        "WHERE q_label <> n_label) "
        "SELECT n.query_id, n.neighbor_id, "
        "CAST(n.neg_rank AS INT) AS neg_rank, n.serve_rank, "
        "n.cos_micro, n.q_label, n.n_label, p.best_pos_micro, "
        "p.best_pos_micro - n.s_micro AS margin_micro "
        "FROM neg n LEFT JOIN pos p USING (query_id) "
        "WHERE n.neg_rank <= 3 ORDER BY n.query_id, n.neg_rank"
    )

    # TextRank keywords: fixed-point pagerank (8 unrolled rounds,
    # trillionths scale, 85/100 damping) over the window-2 word
    # co-occurrence graph (mirrors text.q_textrank_keywords)
    _tr_scale = 1_000_000_000_000
    _tr_tele = 15 * _tr_scale // 100
    _tr = [
        "WITH tk AS (SELECT string_split(text, ' ') AS tk "
        "FROM documents WHERE len(string_split(text, ' ')) >= 2), "
        "prs AS (SELECT least(tk[i], tk[i+1]) AS part_a, "
        "greatest(tk[i], tk[i+1]) AS part_b FROM tk, "
        "unnest(generate_series(1, len(tk) - 1)) AS s(i) "
        "WHERE tk[i] <> '' AND tk[i+1] <> '' AND tk[i] <> tk[i+1]), "
        "ed AS (SELECT part_a, part_b, count(*) AS n_orders FROM prs "
        "GROUP BY 1, 2 HAVING count(*) >= 2), "
        "dir AS (SELECT part_a AS src, part_b AS dst, n_orders AS w "
        "FROM ed UNION ALL SELECT part_b, part_a, n_orders FROM ed), "
        "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w "
        "FROM dir GROUP BY src), "
        "v AS (SELECT DISTINCT src AS id FROM dir), "
        f"r0 AS (SELECT id, CAST({_tr_scale} AS BIGINT) AS rank FROM v)"
    ]
    for _k in range(1, 9):
        _tr.append(
            f", c{_k} AS (SELECT d.dst, "
            "CAST(sum((r.rank * d.w) // o.out_w) AS BIGINT) AS c "
            f"FROM dir d JOIN r{_k - 1} r ON r.id = d.src "
            "JOIN outw o ON o.src = d.src GROUP BY d.dst)"
            f", r{_k} AS (SELECT v.id, CAST({_tr_tele} + "
            "(85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS rank "
            f"FROM v LEFT JOIN c{_k} c ON c.dst = v.id)"
        )
    _tr.append(
        " SELECT id AS term, rank FROM r8 "
        "ORDER BY rank DESC, id LIMIT 25"
    )
    out["textrank_keywords"] = "".join(_tr)

    # Count-sketch point estimates over bigram types: one md5 per
    # (row, type), bucket = low bits, sign = bit 7, exact middle-
    # element median (mirrors quality.q_count_sketch_estimates)
    def _cs_h(r: int) -> str:
        return _p64(f"'cs:' || '{r}' || ':' || term")

    _cs_probe_rows = " UNION ALL ".join(
        f"SELECT term, f, {r} AS r, "
        f"CAST(({_cs_h(r)}) % 64 AS INT) AS b, "
        f"CAST(((({_cs_h(r)}) >> 7) % 2) * 2 - 1 AS BIGINT) AS s "
        "FROM tf"
        for r in range(5)
    )
    out["count_sketch_estimates"] = (
        "WITH toks AS (SELECT string_split(text, ' ') AS tk "
        "FROM documents WHERE len(string_split(text, ' ')) >= 2), "
        "terms AS (SELECT tk[i] || ' ' || tk[i+1] AS term "
        "FROM toks, unnest(generate_series(1, len(tk) - 1)) AS s(i)), "
        "tf AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM terms "
        "GROUP BY term), "
        "probes AS (" + _cs_probe_rows + "), "
        "cells AS (SELECT r, b, CAST(sum(s * f) AS BIGINT) AS c "
        "FROM probes GROUP BY 1, 2), "
        "top AS (SELECT term, f AS n_exact FROM tf "
        "ORDER BY f DESC, term LIMIT 30), "
        "qp AS (SELECT p.term, t.n_exact, p.r, p.b, p.s FROM probes p "
        "JOIN top t ON t.term = p.term), "
        "est AS (SELECT term, n_exact, "
        "CAST(list_sort(list(s * c))[3] AS BIGINT) AS n_cs "
        "FROM qp JOIN cells USING (r, b) GROUP BY 1, 2) "
        "SELECT term, n_exact, n_cs, n_cs - n_exact AS err "
        "FROM est ORDER BY n_exact DESC, term"
    )

    # Burrows' Delta stylometric source-distance matrix: ppm relative
    # frequencies of the top-30 terms, integer z-like scores over the
    # population deviation, mean absolute difference per pair
    # (mirrors text.q_burrows_delta)
    out["burrows_delta"] = (
        "WITH tok AS (SELECT source, unnest(string_split(text, ' ')) "
        "AS term FROM documents), "
        "tk AS (SELECT * FROM tok WHERE term <> ''), "
        "per_src AS (SELECT source, CAST(count(*) AS BIGINT) AS tok_s "
        "FROM tk GROUP BY 1), "
        "cnt AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c "
        "FROM tk GROUP BY 1, 2), "
        "top AS (SELECT term FROM (SELECT term, count(*) AS n FROM tk "
        "GROUP BY 1) ORDER BY n DESC, term LIMIT 30), "
        "grid AS (SELECT p.source, t.term, "
        "CAST((coalesce(c.c, 0) * 1000000) // p.tok_s AS BIGINT) "
        "AS f_ppm FROM per_src p CROSS JOIN top t "
        "LEFT JOIN cnt c ON c.source = p.source AND c.term = t.term), "
        "st AS (SELECT term, CAST(count(*) AS BIGINT) AS k, "
        "CAST(sum(f_ppm) AS BIGINT) AS s, "
        "CAST(sum(f_ppm * f_ppm) AS BIGINT) AS s2 FROM grid "
        "GROUP BY 1), "
        "zt AS (SELECT g.source, g.term, "
        "k * f_ppm - s AS dev, "
        + _isq("(k * (k * s2 - s * s))")
        + " AS den FROM grid g JOIN st USING (term)), "
        "z AS (SELECT source, term, CAST(CASE WHEN den <= 0 THEN 0 "
        "WHEN dev < 0 THEN -((-dev * 1000000) // den) "
        "ELSE (dev * 1000000) // den END AS BIGINT) AS zq FROM zt), "
        "pairs AS (SELECT a.source AS source_a, b.source AS source_b, "
        "CAST(count(*) AS BIGINT) AS n_terms, "
        "CAST(sum(abs(a.zq - b.zq)) AS BIGINT) AS sabs "
        "FROM z a JOIN z b ON a.term = b.term "
        "AND a.source < b.source GROUP BY 1, 2) "
        "SELECT source_a, source_b, n_terms, "
        "CAST(sabs // n_terms AS BIGINT) AS delta_micro "
        "FROM pairs ORDER BY source_a, source_b"
    )

    # Content-defined chunking storage-dedup audit: 8-char rolling
    # window hash, 6 trailing-zero-bit boundaries, chunk store rolled
    # up at md5 grain (mirrors dedup.q_cdc_chunks)
    out["cdc_chunks"] = (
        "WITH b AS (SELECT doc_id, text, "
        "list_concat(list_concat([CAST(0 AS BIGINT)], "
        "list_transform(list_filter(range(8, length(text) + 1), "
        "p -> (('0x' || substr(md5(substr(text, CAST(p - 7 AS INT), 8)), "
        "1, 15))::BIGINT) % 64 = 0), p -> CAST(p AS BIGINT))), "
        "[CAST(length(text) AS BIGINT)]) AS bs "
        "FROM documents WHERE length(text) >= 8), "
        "ch AS (SELECT doc_id, text, bs, i FROM b, "
        "unnest(generate_series(1, len(bs) - 1)) AS s(i)), "
        "ch2 AS (SELECT doc_id, "
        "md5(substr(text, CAST(bs[i] + 1 AS INT), "
        "CAST(bs[i+1] - bs[i] AS INT))) AS chunk_md5, "
        "CAST(bs[i+1] - bs[i] AS BIGINT) AS chunk_len "
        "FROM ch WHERE bs[i+1] > bs[i]), "
        "store AS (SELECT chunk_md5, chunk_len, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        "CAST(count(*) AS BIGINT) AS n_occ FROM ch2 GROUP BY 1, 2), "
        "stats AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total_chunks, "
        "CAST(count(*) AS BIGINT) AS distinct_chunks FROM store), "
        "st2 AS (SELECT *, CAST((distinct_chunks * 1000000) // "
        "total_chunks AS BIGINT) AS stored_ratio_ppm FROM stats) "
        "SELECT chunk_md5, chunk_len, n_docs, n_occ, total_chunks, "
        "distinct_chunks, stored_ratio_ppm FROM store, st2 "
        "ORDER BY n_occ DESC, n_docs DESC, chunk_md5 LIMIT 20"
    )

    # Dunning log-likelihood keyness between the two source halves:
    # ppm masses, sign-split ln_micro, G^2 desc top-20
    # (mirrors text.q_keyness_llr)
    out["keyness_llr"] = (
        "WITH tok AS (SELECT CASE WHEN length(source) = 4 THEN 1 "
        "ELSE 0 END AS is_a, unnest(string_split(text, ' ')) AS term "
        "FROM documents), "
        "tk AS (SELECT * FROM tok WHERE term <> ''), "
        "grid AS (SELECT term, CAST(sum(is_a) AS BIGINT) AS a, "
        "CAST(sum(1 - is_a) AS BIGINT) AS b FROM tk GROUP BY 1), "
        "tot AS (SELECT CAST(sum(a) AS BIGINT) AS na, "
        "CAST(sum(b) AS BIGINT) AS nb FROM grid), "
        "p AS (SELECT term, a, b, "
        "greatest((a * 1000000) // na, 1) AS p_a, "
        "greatest((b * 1000000) // nb, 1) AS p_b, "
        "greatest(((a + b) * 1000000) // (na + nb), 1) AS p_pool "
        "FROM grid, tot) "
        "SELECT term, a AS n_a, b AS n_b, "
        "CAST(2 * ("
        "(CASE WHEN a = 0 THEN 0 WHEN p_a >= p_pool THEN a * ("
        + _lnm("p_a", "p_pool")
        + ") ELSE -(a * (" + _lnm("p_pool", "p_a") + ")) END) + "
        "(CASE WHEN b = 0 THEN 0 WHEN p_b >= p_pool THEN b * ("
        + _lnm("p_b", "p_pool")
        + ") ELSE -(b * (" + _lnm("p_pool", "p_b") + ")) END)"
        ") AS BIGINT) AS llr_micro, "
        "CASE WHEN p_a >= p_pool THEN 'A' ELSE 'B' END AS overused_in "
        "FROM p ORDER BY llr_micro DESC, term LIMIT 20"
    )

    # BERT MLM masking: per-position splitmix60 draw, 15% selected,
    # 80/10/10 mask/random/keep, hash-picked vocab replacement,
    # order-faithful reassembly (mirrors curation.q_mlm_masks)
    out["mlm_masks"] = (
        "WITH voc0 AS (SELECT term, count(*) AS n FROM (SELECT "
        "unnest(string_split(text, ' ')) AS term FROM documents) "
        "WHERE term <> '' GROUP BY term ORDER BY n DESC, term "
        "LIMIT 100), "
        "voc AS (SELECT list(term ORDER BY n DESC, term) AS voc "
        "FROM voc0), "
        "tk AS (SELECT doc_id, "
        f"{_p64('doc_id')} AS seed, "
        "string_split(text, ' ') AS tks FROM documents), "
        "pos AS (SELECT doc_id, seed, i - 1 AS p, tks[i] AS tok "
        "FROM tk, unnest(generate_series(1, len(tks))) AS s(i)), "
        f"mx AS (SELECT doc_id, p, tok, {_smx('seed', 'p')} AS u "
        "FROM pos), "
        "acts AS (SELECT doc_id, p, tok, u % 100 < 15 AS sel, "
        "(u // 100) % 10 AS act, u FROM mx), "
        "rows0 AS (SELECT a.doc_id, a.p, "
        "CASE WHEN NOT sel THEN tok "
        "WHEN act < 8 THEN '[MASK]' "
        "WHEN act = 8 THEN v.voc[CAST((u // 1000) % len(v.voc) "
        "AS INT) + 1] ELSE tok END AS new_tok, "
        "CASE WHEN sel AND act < 8 THEN 1 ELSE 0 END AS is_mask, "
        "CASE WHEN sel AND act = 8 THEN 1 ELSE 0 END AS is_rand, "
        "CASE WHEN sel AND act = 9 THEN 1 ELSE 0 END AS is_keep "
        "FROM acts a, voc v) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(sum(is_mask) AS BIGINT) AS n_masked, "
        "CAST(sum(is_rand) AS BIGINT) AS n_random, "
        "CAST(sum(is_keep) AS BIGINT) AS n_keep, "
        "md5(string_agg(new_tok, ' ' ORDER BY p)) AS masked_md5 "
        "FROM rows0 GROUP BY doc_id ORDER BY doc_id"
    )

    # Hill tail-index of order values: top-k order statistics, exact
    # ln_micro ratios, alpha = k*1e9 // sum (mirrors
    # warehouse.q_hill_tail_index)
    out["hill_tail_index"] = (
        "WITH c AS (SELECT o_orderkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "AS cents FROM orders), "
        "rk AS (SELECT cents, row_number() OVER (ORDER BY cents DESC, "
        "o_orderkey) AS rank FROM c "
        "ORDER BY cents DESC, o_orderkey LIMIT 101), "
        "anchor AS (SELECT cents AS x_anchor_cents FROM rk "
        "WHERE rank = 101), "
        "rws AS (SELECT CAST(rank AS INT) AS rank, cents, "
        "CAST(" + _lnm("cents", "x_anchor_cents") + " AS BIGINT) "
        "AS ln_ratio_micro, x_anchor_cents "
        "FROM rk, anchor WHERE rank <= 100), "
        "st AS (SELECT CAST((CAST(100 AS HUGEINT) * 1000000000) // "
        "sum(ln_ratio_micro) AS BIGINT) AS alpha_milli FROM rws) "
        "SELECT rank, cents, ln_ratio_micro, x_anchor_cents, "
        "alpha_milli, alpha_milli <= 2000 AS infinite_variance "
        "FROM rws, st ORDER BY rank"
    )

    # Theil's U (uncertainty coefficient) over the 6 ordered
    # categorical pairs: exact count-entropy identity with ln_micro
    # (mirrors quality.q_theil_u_matrix)
    def _theil_pair(x: str, y: str) -> str:
        return (
            f"(WITH cells AS (SELECT {x} AS cx, {y} AS cy, "
            "CAST(count(*) AS BIGINT) AS c FROM tbase GROUP BY 1, 2), "
            "xs AS (SELECT cx, CAST(sum(c) AS BIGINT) AS nx FROM cells "
            "GROUP BY 1), "
            "ys AS (SELECT cy, CAST(sum(c) AS BIGINT) AS cyn FROM cells "
            "GROUP BY 1), "
            "nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cells), "
            "sy AS (SELECT CAST(sum(cyn * (" + _lnm("cyn", "1") + ")) "
            "AS HUGEINT) AS sy FROM ys), "
            "sx AS (SELECT CAST(sum(nx * (" + _lnm("nx", "1") + ")) "
            "AS HUGEINT) AS sx FROM xs), "
            "sxy AS (SELECT CAST(sum(c * (" + _lnm("c", "1") + ")) "
            "AS HUGEINT) AS sxy FROM cells), "
            "g AS (SELECT n_total, "
            "CAST(n_total AS HUGEINT) * (" + _lnm("n_total", "1") + ") "
            "- sy AS a, sx - sxy AS b "
            "FROM nt, sy, sx, sxy) "
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, n_total, "
            "CAST(a // n_total AS BIGINT) AS h_y_micro, "
            "CAST(b // n_total AS BIGINT) AS h_y_given_x_micro, "
            "CAST((a - b) // n_total AS BIGINT) AS mi_micro, "
            "CAST(((a - b) * 1000000) // a AS BIGINT) AS u_ppm FROM g)"
        )

    _axes = ["segment", "priority", "region"]
    out["theil_u_matrix"] = (
        "WITH tbase AS MATERIALIZED (SELECT c_mktsegment AS segment, "
        "o_orderpriority AS priority, CAST(n_regionkey AS VARCHAR) AS "
        "region FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey) "
        + " UNION ALL ".join(
            _theil_pair(x, y)
            for x in _axes
            for y in _axes
            if x != y
        )
        + " ORDER BY col_x, col_y"
    )

    # Cohort LTV curves: first-order month cohorts, per-age revenue,
    # partitioned cumulative, exact cents-per-customer floor
    # (mirrors warehouse.q_cohort_ltv)
    out["cohort_ltv"] = (
        "WITH o AS (SELECT o_custkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "AS cents, CAST(year(o_orderdate) * 12 + month(o_orderdate) "
        "- 1 AS BIGINT) AS m FROM orders), "
        "fst AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1), "
        "sizes AS (SELECT m0, CAST(count(*) AS BIGINT) AS n_customers "
        "FROM fst GROUP BY 1), "
        "grid AS (SELECT f.m0, o.m - f.m0 AS age_months, "
        "CAST(sum(cents) AS BIGINT) AS revenue_cents "
        "FROM o JOIN fst f USING (o_custkey) GROUP BY 1, 2), "
        "cum AS (SELECT *, CAST(sum(revenue_cents) OVER ("
        "PARTITION BY m0 ORDER BY age_months ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_revenue_cents "
        "FROM grid) "
        "SELECT CAST(m0 // 12 AS VARCHAR) || '-' || "
        "lpad(CAST((m0 % 12) + 1 AS VARCHAR), 2, '0') AS cohort_month, "
        "age_months, n_customers, revenue_cents, cum_revenue_cents, "
        "CAST(cum_revenue_cents // n_customers AS BIGINT) AS ltv_cents "
        "FROM cum JOIN sizes USING (m0) "
        "ORDER BY cohort_month, age_months"
    )

    # Packing-efficiency audit: pad cost of three packing layouts
    # over per-doc token counts, exact ceil/bucket arithmetic
    # (mirrors curation.q_packing_efficiency; SEQ_LEN=256,
    # LB_MIN_BUCKET=32)
    out["packing_efficiency"] = (
        "WITH per AS (SELECT CAST(len(string_split(text, ' ')) "
        "AS BIGINT) AS n, "
        "CAST((len(string_split(text, ' ')) + 255) // 256 AS BIGINT) "
        "AS segs, "
        "greatest(CASE WHEN len(string_split(text, ' ')) <= 1 THEN 1 "
        "ELSE CAST(1 AS BIGINT) << length(bin(CAST("
        "len(string_split(text, ' ')) - 1 AS BIGINT))) END, 32) "
        "AS bucket FROM documents), "
        "agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n) AS BIGINT) AS n_tokens, "
        "CAST(sum(segs) AS BIGINT) AS split_seqs, "
        "CAST(sum(segs * 256 - n) AS BIGINT) AS split_pad, "
        "CAST(sum(CASE WHEN n > 256 THEN segs * 256 - n "
        "ELSE bucket - n END) AS BIGINT) AS bpad, "
        "CAST(sum(CASE WHEN n > 256 THEN segs ELSE 1 END) AS BIGINT) "
        "AS bseqs FROM per) "
        "SELECT 'bucket_pow2_nosplit' AS strategy, n_docs, n_tokens, "
        "bseqs AS n_seqs, bpad AS pad_tokens, "
        "CAST((CAST(bpad AS HUGEINT) * 1000000) // "
        "(CAST(bseqs AS HUGEINT) * 256) AS BIGINT) AS waste_ppm "
        "FROM agg UNION ALL "
        "SELECT 'concat_split', n_docs, n_tokens, "
        "(n_tokens + 255) // 256, "
        "((n_tokens + 255) // 256) * 256 - n_tokens, "
        "CAST(((((n_tokens + 255) // 256) * 256 - n_tokens) "
        "* CAST(1000000 AS HUGEINT)) // "
        "(((n_tokens + 255) // 256) * CAST(256 AS HUGEINT)) AS BIGINT) "
        "FROM agg UNION ALL "
        "SELECT 'no_pack_split', n_docs, n_tokens, split_seqs, "
        "split_pad, CAST((CAST(split_pad AS HUGEINT) * 1000000) // "
        "(CAST(split_seqs AS HUGEINT) * 256) AS BIGINT) FROM agg "
        "ORDER BY strategy"
    )

    # Nelson-Aalen cumulative hazard on the KM subjects: micro d/n
    # increments + pico Poisson variance, duration-grid ledgers
    # (mirrors events.q_nelson_aalen_repeat)
    out["nelson_aalen_repeat"] = (
        "WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, "
        "o_orderkey FROM orders), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY d, o_orderkey) AS rn FROM o), "
        "fs AS (SELECT o_custkey, min(CASE WHEN rn = 1 THEN d END) "
        "AS d1, min(CASE WHEN rn = 2 THEN d END) AS d2 FROM rk "
        "WHERE rn <= 2 GROUP BY o_custkey), "
        "gm AS (SELECT max(CAST(o_orderdate AS DATE)) AS gmax "
        "FROM orders), "
        "u AS (SELECT CASE WHEN d2 IS NOT NULL THEN "
        "date_diff('day', d1, d2) ELSE date_diff('day', d1, gmax) END "
        "AS t_days, CASE WHEN d2 IS NULL THEN 1 ELSE 0 END AS cen "
        "FROM fs, gm), "
        "grid AS (SELECT t_days, CAST(sum(1 - cen) AS BIGINT) "
        "AS n_deaths, CAST(sum(cen) AS BIGINT) AS n_censored "
        "FROM u GROUP BY t_days), "
        "r AS (SELECT *, CAST(sum(n_deaths + n_censored) OVER ("
        "ORDER BY t_days DESC ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) AS BIGINT) AS n_risk FROM grid), "
        "st AS (SELECT *, (n_deaths * 1000000) // n_risk AS h_step, "
        "CAST((CAST(n_deaths AS HUGEINT) * 1000000000000) // "
        "(CAST(n_risk AS HUGEINT) * n_risk) AS BIGINT) AS v_step "
        "FROM r), "
        "cm AS (SELECT *, CAST(sum(h_step) OVER (ORDER BY t_days "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS na_cum_micro, CAST(sum(v_step) OVER (ORDER BY t_days "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS var_cum_pico FROM st) "
        "SELECT t_days, n_risk, n_deaths, n_censored, na_cum_micro, "
        "var_cum_pico FROM cm WHERE n_deaths > 0 ORDER BY t_days"
    )

    # PACF via Durbin-Levinson unrolled to explicit columns over the
    # ACF oracle's quantized r_ppm values; trunc-toward-zero
    # sign-split divisions (mirrors warehouse.q_revenue_pacf)
    def _tdiv(num: str, den: str) -> str:
        return (
            f"(CASE WHEN ({num}) < 0 THEN -((-({num})) // ({den})) "
            f"ELSE ({num}) // ({den}) END)"
        )

    _pacf_parts = [
        "WITH acf AS (" + out["revenue_acf"] + "), "
        "p0 AS (SELECT "
        + ", ".join(
            f"CAST(max(CASE WHEN lag = {k} THEN r_ppm END) AS HUGEINT) "
            f"AS r{k}"
            for k in range(1, 8)
        )
        + ", CAST(max(n_days) AS BIGINT) AS n FROM acf)"
    ]
    for k in range(1, 8):
        a = f"r{k} * 1000000" + "".join(
            f" - phi{j} * r{k - j}" for j in range(1, k)
        )
        b = "CAST(1000000000000 AS HUGEINT)" + "".join(
            f" - phi{j} * r{j}" for j in range(1, k)
        )
        cols = ["r1", "r2", "r3", "r4", "r5", "r6", "r7", "n"]
        cols += [f"pacf{j}" for j in range(1, k)]
        new_pacf = _tdiv(f"({a}) * 1000000", f"({b})")
        upd = [
            f"phi{j} - "
            + _tdiv(f"pacf{k} * phi{k - j}", "1000000")
            + f" AS phi{j}"
            for j in range(1, k)
        ]
        _pacf_parts.append(
            f", q{k} AS (SELECT *, {new_pacf} AS pacf{k} "
            f"FROM p{k - 1})"
            f", p{k} AS (SELECT "
            + ", ".join(cols)
            + f", pacf{k}"
            + ("".join(", " + u for u in upd))
            + f", pacf{k} AS phi{k} FROM q{k})"
        )
    _pacf_parts.append(
        " SELECT lag, acf_ppm, pacf_ppm, "
        "pacf_ppm * pacf_ppm > 3841600000000 // n AS significant "
        "FROM ("
        + " UNION ALL ".join(
            f"SELECT CAST({k} AS INT) AS lag, CAST(r{k} AS BIGINT) "
            f"AS acf_ppm, CAST(pacf{k} AS BIGINT) AS pacf_ppm, n "
            f"FROM p7"
            for k in range(1, 8)
        )
        + ") ORDER BY lag"
    )
    out["revenue_pacf"] = "".join(_pacf_parts)

    # Media near-dup clusters: recursive min-label closure over the
    # exact-int pHash pair oracle (mirrors
    # multimodal.q_media_dedup_clusters)
    out["media_dedup_clusters"] = _cluster_closure_sql(
        out["media_phash_pairs_exactint"]
    )

    # Maintained media dedup: the oracle is the REBUILD (full-corpus
    # clusters from scratch) — hash equality proves the MERGEd
    # pHash index reproduces it (the lsh_index_maintained IVM law
    # applied to the pair graph; multimodal.q_media_dedup_maintained)
    out["media_dedup_maintained"] = out["media_dedup_clusters"]

    # Media pipeline capstone: the oracle rebuilds the published
    # cluster table from scratch via per-container hash chains
    # (lossless for PPM/PNG, integer JPEG core for the lossy slice) +
    # the shared pair tail + recursive closure
    # (multimodal.q_run_media_pipeline)
    out["run_media_pipeline"] = _media_pipeline_clusters_sql()

    # PNG-codec pHash pairs: same oracle as the exact-int pair table —
    # PNG is lossless, so hashing through the real encode/decode must
    # be bit-identical (multimodal.q_media_phash_pairs_pngcodec)
    out["media_phash_pairs_pngcodec"] = out["media_phash_pairs_exactint"]

    # JPEG is LOSSY, so its twin replays the exact integer
    # DCT/quantize/IDCT core on the raster (skipping the lossless
    # Huffman bytes) before the shared hash + pair tail
    # (multimodal.q_media_phash_pairs_jpegcodec)
    out["media_phash_pairs_jpegcodec"] = _phash_jpegcodec_sql()

    # Two-sample KS over event values, purchase vs view: exact
    # cross-multiplied ECDF gap on the distinct-cents grid, squared
    # integer significance compare at alpha=0.05 (mirrors
    # quality.ks_finish; the streamed row drains the same grid)
    out["ks_two_sample"] = (
        "WITH e AS (SELECT event_type AS side, "
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents "
        "FROM events WHERE event_type IN ('purchase', 'view')), "
        "g AS (SELECT cents, "
        "CAST(sum(CASE WHEN side = 'purchase' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS np_, "
        "CAST(sum(CASE WHEN side = 'view' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS nv_ FROM e GROUP BY 1), "
        "c AS (SELECT cents, "
        "sum(np_) OVER (ORDER BY cents) AS c_p, "
        "sum(nv_) OVER (ORDER BY cents) AS c_v, "
        "CAST(sum(np_) OVER () AS BIGINT) AS n_p, "
        "CAST(sum(nv_) OVER () AS BIGINT) AS n_v FROM g), "
        "d AS (SELECT cents, n_p, n_v, "
        "abs(CAST(c_p AS HUGEINT) * n_v - CAST(c_v AS HUGEINT) * n_p) "
        "AS dnum FROM c), "
        "b AS (SELECT n_p, n_v, max(dnum) AS maxdiff FROM d GROUP BY 1, 2), "
        "loc AS (SELECT b.n_p, b.n_v, b.maxdiff, min(d.cents) AS at_cents "
        "FROM b JOIN d ON d.dnum = b.maxdiff GROUP BY 1, 2, 3), "
        "chk AS (SELECT *, CASE WHEN CAST(n_p AS HUGEINT) * n_v >= "
        "10000000000000000 THEN "
        "CAST(error('KS contract violated: n1*n2 >= 1e16; sample upstream') "
        "AS HUGEINT) ELSE CAST(n_p AS HUGEINT) * n_v END AS n1n2 FROM loc) "
        "SELECT n_p, n_v, "
        "CAST((maxdiff * 1000000) // n1n2 AS BIGINT) AS d_ppm, "
        "at_cents, "
        "maxdiff * maxdiff * 1000000 > "
        "1844164 * (CAST(n_p AS HUGEINT) + n_v) * n1n2 AS significant_05 "
        "FROM chk"
    )
    out["ks_two_sample_streamed"] = out["ks_two_sample"]

    # Cliff's delta effect size from the doubled-U count grid (mirrors
    # quality.q_cliffs_delta; same segments as segment_price_utest)
    out["cliffs_delta"] = (
        "WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
        "AS BIGINT) AS cents, "
        "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), "
        "g AS (SELECT cents, CAST(sum(is_a) AS BIGINT) AS ca, "
        "CAST(sum(1 - is_a) AS BIGINT) AS cb FROM o GROUP BY 1), "
        "c AS (SELECT *, sum(cb) OVER (ORDER BY cents) AS cum_b_incl "
        "FROM g), "
        "a AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, "
        "CAST(sum(cb) AS BIGINT) AS n_b, "
        "CAST(sum(CAST(ca AS HUGEINT) * (2 * (cum_b_incl - cb) + cb)) "
        "AS HUGEINT) AS u2, "
        "CAST(sum(CAST(ca AS HUGEINT) * cb) AS HUGEINT) AS n_eq FROM c), "
        "f AS (SELECT n_a, n_b, u2, n_eq, "
        "CAST(n_a AS HUGEINT) * n_b AS n1n2, "
        "(u2 - n_eq) // 2 AS n_gt, "
        "u2 - CAST(n_a AS HUGEINT) * n_b AS num FROM a), "
        "r AS (SELECT *, CAST(CASE WHEN num < 0 THEN "
        "-((-num * 1000000) // n1n2) ELSE (num * 1000000) // n1n2 END "
        "AS BIGINT) AS delta_ppm FROM f) "
        "SELECT n_a, n_b, CAST(n_gt AS BIGINT) AS n_gt, "
        "CAST(n1n2 - n_gt - n_eq AS BIGINT) AS n_lt, "
        "CAST(n_eq AS BIGINT) AS n_eq, delta_ppm, "
        "CASE WHEN abs(delta_ppm) < 147000 THEN 'negligible' "
        "WHEN abs(delta_ppm) < 330000 THEN 'small' "
        "WHEN abs(delta_ppm) < 474000 THEN 'medium' "
        "ELSE 'large' END AS magnitude FROM r"
    )

    # Wilcoxon signed-rank on paired first-vs-second order values
    # (mirrors quality.q_wilcoxon_signed_rank: doubled average ranks on
    # the |d| grid, exact-rational tie-corrected z^2 in micro)
    out["wilcoxon_signed_rank"] = (
        "WITH r0 AS (SELECT o_custkey, "
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "AS cents, row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey) AS rn FROM orders), "
        "two AS (SELECT o_custkey, "
        "min(CASE WHEN rn = 1 THEN cents END) AS c1, "
        "min(CASE WHEN rn = 2 THEN cents END) AS c2 FROM r0 "
        "WHERE rn <= 2 GROUP BY 1), "
        "dv AS (SELECT c2 - c1 AS d FROM two "
        "WHERE c2 IS NOT NULL AND c2 - c1 <> 0), "
        "g AS (SELECT abs(d) AS ad, "
        "CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp, "
        "CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS cn "
        "FROM dv GROUP BY 1), "
        "c AS (SELECT *, cp + cn AS ct, "
        "sum(cp + cn) OVER (ORDER BY ad) AS cum_incl FROM g), "
        "a AS (SELECT CAST(sum(ct) AS BIGINT) AS n, "
        "CAST(sum(CAST(cp AS HUGEINT) * "
        "(2 * (cum_incl - ct) + ct + 1)) AS HUGEINT) AS w2_plus, "
        "CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT) "
        "AS tie_term FROM c), "
        "chk AS (SELECT CASE WHEN n >= 10000000 THEN "
        "CAST(error('wilcoxon contract violated: n_pairs >= 1e7; sample "
        "upstream') AS BIGINT) ELSE n END AS n, w2_plus, tie_term FROM a), "
        "f AS (SELECT n, w2_plus, tie_term, "
        "CAST(n AS HUGEINT) * (n + 1) // 2 AS mu2, "
        "2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_term "
        "AS v12 FROM chk) "
        "SELECT n AS n_pairs, CAST(w2_plus AS BIGINT) AS w2_plus, "
        "CAST(mu2 AS BIGINT) AS mu2, CAST(tie_term AS BIGINT) AS tie_term, "
        "CAST((12 * (w2_plus - mu2) * (w2_plus - mu2) * 1000000) // v12 "
        "AS BIGINT) AS z2_micro, "
        "(12 * (w2_plus - mu2) * (w2_plus - mu2) * 1000000) // v12 "
        "> 3841600 AS significant FROM f"
    )

    # Holt linear-trend forecast: recursive CTE over the bounded week
    # grid, dyadic-rational smoothing as floor divisions (mirrors
    # temporal.q_holt_linear_forecast)
    out["holt_linear_forecast"] = (
        "WITH RECURSIVE wkly AS (SELECT "
        "(CAST(o_orderdate AS DATE) - DATE '1970-01-05') // 7 AS wk, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) "
        "AS rev FROM orders GROUP BY 1), "
        "idx AS (SELECT CAST(row_number() OVER (ORDER BY wk) AS BIGINT) "
        "AS t, rev FROM wkly), "
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx), "
        "rec(t, l, b, fit) AS ("
        "SELECT CAST(2 AS BIGINT), i2.rev, i2.rev - i1.rev, "
        "CAST(NULL AS BIGINT) FROM "
        "(SELECT rev FROM idx WHERE t = 1) i1, "
        "(SELECT rev FROM idx WHERE t = 2) i2 "
        "UNION ALL "
        "SELECT r.t + 1, "
        "(i.rev + 3 * (r.l + r.b)) // 4, "
        "(((i.rev + 3 * (r.l + r.b)) // 4) - r.l + 7 * r.b) // 8, "
        "r.l + r.b "
        "FROM rec r JOIN idx i ON i.t = r.t + 1), "
        "fits AS (SELECT rec.t AS week_idx, 'fit' AS kind, "
        "idx.rev AS actual_cents, rec.fit AS pred_cents "
        "FROM rec JOIN idx ON idx.t = rec.t WHERE rec.t >= 3), "
        "lst AS (SELECT l, b FROM rec ORDER BY t DESC LIMIT 1), "
        "fut AS (SELECT nn.n + h.h AS week_idx, 'forecast' AS kind, "
        "CAST(NULL AS BIGINT) AS actual_cents, "
        "CAST(lst.l + h.h * lst.b AS BIGINT) AS pred_cents "
        "FROM lst, nn, (SELECT unnest(generate_series(1, 4)) AS h) h) "
        "SELECT * FROM fits UNION ALL SELECT * FROM fut ORDER BY week_idx"
    )

    # Hurst exponent by R/S analysis: exact-integer rescaled range per
    # block (mean denominator cleared), isqrt'd squared ratio, ln_micro
    # + cross-multiplied OLS slope (mirrors temporal.q_hurst_rs)
    out["hurst_rs"] = (
        "WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) "
        "AS rev FROM orders GROUP BY 1), "
        "i AS (SELECT rev, CAST(row_number() OVER (ORDER BY day) - 1 "
        "AS BIGINT) AS idx FROM d), "
        "sc AS (SELECT i.*, n.block_n FROM i, "
        "(SELECT unnest([16, 32, 64, 128, 256]) AS block_n) n), "
        "b AS (SELECT block_n, idx // block_n AS blk, rev, "
        "(idx % block_n) + 1 AS t, "
        "sum(rev) OVER (PARTITION BY block_n, idx // block_n "
        "ORDER BY idx) AS cum, "
        "sum(rev) OVER (PARTITION BY block_n, idx // block_n) AS sb, "
        "count(*) OVER (PARTITION BY block_n, idx // block_n) AS cnt "
        "FROM sc), "
        "f AS (SELECT *, CAST(block_n AS HUGEINT) * cum - "
        "CAST(t AS HUGEINT) * sb AS w FROM b WHERE cnt = block_n), "
        "g AS (SELECT block_n, blk, max(w) - min(w) AS rp, "
        "sum((CAST(block_n AS HUGEINT) * rev - sb) * "
        "(CAST(block_n AS HUGEINT) * rev - sb)) AS vb "
        "FROM f GROUP BY 1, 2), "
        "h AS (SELECT block_n, CAST((rp * rp * block_n * 1000000) // vb "
        "AS BIGINT) AS rs2 FROM g WHERE vb > 0), hh0 AS (SELECT * FROM h), "
        "hh AS (SELECT block_n, CASE WHEN rs2 >= 4503599627370496 THEN "
        "CAST(error('hurst contract violated: (R/S)^2*1e6 >= 2^52 breaks "
        "exact isqrt; rescale upstream') AS BIGINT) ELSE "
        + _isq("rs2")
        + " END AS rs_milli FROM hh0), "
        "p0 AS (SELECT block_n, CAST(count(*) AS BIGINT) AS n_blocks, "
        "CAST(sum(rs_milli) AS HUGEINT) AS rs_sum FROM hh GROUP BY 1), "
        "p AS (SELECT CAST(block_n AS BIGINT) AS block_n, n_blocks, "
        "CAST(rs_sum // n_blocks AS BIGINT) AS avg_rs_milli FROM p0), "
        "q AS (SELECT block_n, n_blocks, avg_rs_milli, "
        + _lnm("block_n", "1")
        + " AS ln_n_micro, "
        + _lnm("avg_rs_milli", "1000")
        + " AS ln_rs_micro FROM p WHERE avg_rs_milli >= 1000), "
        "fit AS (SELECT CAST(count(*) AS HUGEINT) AS k, "
        "CAST(sum(ln_n_micro) AS HUGEINT) AS sx, "
        "CAST(sum(ln_rs_micro) AS HUGEINT) AS sy, "
        "CAST(sum(CAST(ln_n_micro AS HUGEINT) * ln_rs_micro) AS HUGEINT) "
        "AS sxy, "
        "CAST(sum(CAST(ln_n_micro AS HUGEINT) * ln_n_micro) AS HUGEINT) "
        "AS sxx FROM q), "
        "sl AS (SELECT k * sxy - sx * sy AS num, k * sxx - sx * sx AS den "
        "FROM fit) "
        "SELECT block_n, n_blocks, avg_rs_milli, ln_n_micro, ln_rs_micro, "
        "CAST(CASE WHEN num < 0 THEN -((-num * 1000) // den) "
        "ELSE (num * 1000) // den END AS BIGINT) AS hurst_milli "
        "FROM q, sl ORDER BY block_n"
    )
    return out
