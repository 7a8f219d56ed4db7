"""empdia_iceberg_spark — a brand-new PySpark-native analytics engine.

Reproduces, Spark-first, the query/data-processing capabilities of the
reference repo MorningKay/EmpDia-Iceberg (see SURVEY.md) and extends
them into a general data-lake engine. Implemented and oracle-checked:

- relational OLAP core (joins, aggs, windows, set ops, scalar fns)
- reference semantics (dialogue prep, reward pipeline, termination,
  GRPO normalization, classifier stub, collate, splits)
- Structured Streaming (tumbling/sliding/session windows, watermark
  late-drop, stateful conversation machine via applyInPandasWithState)
- LLM-pipeline operators (exact + MinHash-LSH + SimHash dedup, cosine
  kNN + LSH ANN, text stats/quality/lang-id/fingerprint, multimodal
  binary-payload plumbing with a documented decode stub)
- snapshot table management on parquet (create/append/MERGE/time
  travel/expire/compact — the Iceberg-semantics fallback; no
  iceberg-spark-runtime jar ships in this environment) and write sinks

Importing this package populates the query registry
(``empdia_iceberg_spark.registry``) used by ``__spark_entry__.py``.
"""

import sys as _sys

from empdia_iceberg_spark import registry  # noqa: F401
from empdia_iceberg_spark.session import get_spark  # noqa: F401


# ``python -m`` entry points Spark starts Python processes with; a
# daemon's forked workers keep the daemon's ``__main__``
_WORKER_MAINS = (
    "pyspark.worker",
    "pyspark.daemon",
    "pyspark.sql.streaming.python_streaming_source_runner",
)


def _in_pyspark_worker() -> bool:
    """True inside a PySpark executor worker / daemon fork / data-source
    planner or streaming-source runner process. Those processes import
    this package only to unpickle ONE class (a UDF's module, a Data
    Source reader) — the submodule the pickle names directly, about
    0.1 s of import. The other operator modules would add about 0.25 s
    per process (measured on a 4-core host with pyspark already loaded),
    paid on every streaming query start (Spark starts a fresh runner per
    query) and every cold worker, for a registry nobody there reads.

    Matches the module ``__main__`` was run as, so it holds whether
    pyspark loads from source, bytecode or a zip. A user script run by
    path has no ``__spec__`` and keeps its registry, wherever it lives
    and whatever it is named (r15 ADVICE); so does the interactive
    ``pyspark`` shell."""
    spec = getattr(_sys.modules.get("__main__"), "__spec__", None)
    name = getattr(spec, "name", None) or ""
    return name in _WORKER_MAINS or name.startswith("pyspark.sql.worker.")


if not _in_pyspark_worker():
    # Import operator modules for their @register side effects.
    # Sweep ordering is handled by registry.promote(_SWEEP_PRIORITY)
    # below — module import order no longer matters for driver evidence.
    from empdia_iceberg_spark.operators import asof  # noqa: F401
    from empdia_iceberg_spark.operators import layout  # noqa: F401
    from empdia_iceberg_spark.operators import subqueries  # noqa: F401
    from empdia_iceberg_spark.operators import mixture  # noqa: F401
    from empdia_iceberg_spark.operators import bucketing  # noqa: F401
    from empdia_iceberg_spark.operators import skyline  # noqa: F401
    from empdia_iceberg_spark.operators import multimodal  # noqa: F401
    from empdia_iceberg_spark.functions import classifier  # noqa: F401
    from empdia_iceberg_spark.functions import udx  # noqa: F401
    from empdia_iceberg_spark.functions import reward  # noqa: F401
    from empdia_iceberg_spark.functions import termination  # noqa: F401
    from empdia_iceberg_spark.functions import messages  # noqa: F401
    from empdia_iceberg_spark.sources import sinks  # noqa: F401
    from empdia_iceberg_spark.sources import pydatasource  # noqa: F401
    from empdia_iceberg_spark.sources import table_stream  # noqa: F401
    from empdia_iceberg_spark.sources import table_sink  # noqa: F401
    from empdia_iceberg_spark.plans import prep  # noqa: F401
    from empdia_iceberg_spark.plans import grpo  # noqa: F401
    from empdia_iceberg_spark.plans import curation  # noqa: F401
    from empdia_iceberg_spark.tables import manager  # noqa: F401
    from empdia_iceberg_spark.tables import dml  # noqa: F401
    from empdia_iceberg_spark.tables import ddl  # noqa: F401
    from empdia_iceberg_spark.streaming import windows as stream_windows  # noqa: F401
    from empdia_iceberg_spark.streaming import conversation  # noqa: F401
    from empdia_iceberg_spark.streaming import ewma as stream_ewma  # noqa: F401
    from empdia_iceberg_spark.streaming import cdc as stream_cdc  # noqa: F401
    from empdia_iceberg_spark.operators import relational  # noqa: F401
    from empdia_iceberg_spark.operators import windows  # noqa: F401
    from empdia_iceberg_spark.operators import dedup  # noqa: F401
    from empdia_iceberg_spark.operators import similarity  # noqa: F401
    from empdia_iceberg_spark.operators import textstats  # noqa: F401
    from empdia_iceberg_spark.operators import langmodel  # noqa: F401
    from empdia_iceberg_spark.operators import mining  # noqa: F401
    from empdia_iceberg_spark.operators import profiling  # noqa: F401
    from empdia_iceberg_spark.operators import inference  # noqa: F401
    from empdia_iceberg_spark.operators import dataprep  # noqa: F401
    from empdia_iceberg_spark.operators import retrieval  # noqa: F401
    from empdia_iceberg_spark.operators import timeseries  # noqa: F401

# ---------------------------------------------------------------- sweep order
# The driver's per-round CORRECTNESS sweep checks the FIRST 50 registered
# queries (exactly 50 since r2); the list rotates every round so no query
# goes too long without a driver row. Rotation policy (update each round):
#   1. queries whose implementation changed this round or last round's
#      overflow (every changed query must be swept the round it changes);
#   2. queries that have never had a driver row, kernels-first
#      (tools/next_sweep.py emits the order);
#   3. the stalest previously-green block as tail filler.
#
# ROUND 17 ARITHMETIC (simplicity round): never-swept debt stays ZERO
# (all 304 queries have driver rows through r16; zero FAILs ever). The
# window is (1) the 10 queries whose answer paths round 17's
# pruning-planner merge touches — the SQL read path, the transform-
# pruned reads, predicate UPDATE/DELETE file-finding (all now through
# SnapshotTable.plan_files), and the alter-type footer audit — every
# changed path gets a driver oracle row this round, then (2) the ENTIRE
# 35-name r9 cohort (oldest last-swept; burning it moves max
# staleness to r10), then (3) 5 r10 names as tail filler.
_SWEEP_PRIORITY = [
    "table_sql_pruned_read",  # r17 change: SQL read path plans through plan_files
    "table_partition_transforms_sql",  # r17 change: read_pruned_transform adapter
    "table_partition_replace_sql",  # r17 change: read_pruned_transform adapter
    "table_range_mor_pruned_read",  # r17 change: read_pruned_transform_range adapter
    "table_stats_pruned_dml",  # r17 change: DML file-finding through plan_files
    "table_update_dml",  # r17 change: DML file-finding through plan_files
    "table_delete_dml",  # r17 change: DML file-finding through plan_files
    "table_ddl_lifecycle",  # r17 change: UPDATE file-finding through plan_files
    "table_rename_column_sql",  # r17 change: UPDATE file-finding through plan_files
    "table_alter_type_sql",  # r17 change: _raw_dtypes hoisted, fails loudly
    "duplicate_baskets",  # r9 cohort burn
    "graph_bfs_hops",  # r9 cohort burn
    "graph_kcore_sizes",  # r9 cohort burn
    "graph_degree_assortativity",  # r9 cohort burn
    "item_item_similar_parts",  # r9 cohort burn
    "seq2_event_patterns",  # r9 cohort burn
    "doc_fuzzy_clusters",  # r9 cohort burn
    "doc_greedy_coverage_select",  # r9 cohort burn
    "doc_pack_windows",  # r9 cohort burn
    "hash_split_assignments",  # r9 cohort burn
    "domain_mixture_weights",  # r9 cohort burn
    "embedding_quantize_int8",  # r9 cohort burn
    "variant_props_typed",  # r9 cohort burn
    "secure_masked_view",  # r9 cohort burn
    "observed_metrics_shipments",  # r9 cohort burn
    "dq_checks_orders",  # r9 cohort burn
    "semi_join_active_customers",  # r9 cohort burn
    "anti_join_inactive_customers",  # r9 cohort burn
    "set_ops_segments",  # r9 cohort burn
    "rollup_pricing",  # r9 cohort burn
    "cube_order_priority",  # r9 cohort burn
    "distinct_counts",  # r9 cohort burn
    "approx_distinct_counts",  # r9 cohort burn
    "topk_orders_global",  # r9 cohort burn
    "scalar_string_fns",  # r9 cohort burn
    "date_fns_orders",  # r9 cohort burn
    "json_extract_events",  # r9 cohort burn
    "orders_above_customer_avg",  # r9 cohort burn
    "events_hourly_rollup",  # r9 cohort burn
    "pivot_status_by_priority",  # r9 cohort burn
    "null_safe_join_acctbal",  # r9 cohort burn
    "map_functions_props",  # r9 cohort burn
    "grouping_sets_pricing",  # r9 cohort burn
    "percentile_order_values",  # r9 cohort burn
    "approx_percentile_sketch",  # r9 cohort burn
    "q1_pricing_agg",  # r10 filler
    "q3_join3_topk",  # r10 filler
    "events_multi_grain_rollup",  # r10 filler
    "salted_join_skewed",  # r10 filler
    "unpivot_pricing_metrics",  # r10 filler
    # ---- 50-slot window ends here (10 r17-changed + 35 r9 + 5 r10) ----
    "table_posdel_rewrite_sql",  # last swept r15
    "table_position_delete_dml",  # last swept r15
    "table_changes_sql",  # last swept r15
    "stream_table_tail",  # last swept r15
    "table_delete_mor_dml",  # last swept r15
    "table_mor_deletes",  # last swept r15
    "table_time_travel_sql",  # last swept r15
    "table_metadata_tables_sql",  # last swept r15
    "curation_pipeline",  # last swept r15
    "table_expire_compact",  # last swept r15
    "pyds_synthetic_rollup",  # last swept r15
    "events_mad_outliers",  # last swept r15
    "emb_cosine_near_dup",  # last swept r15
    "supplier_part_matching",  # last swept r15
    "graph_triangle_census",  # last swept r15
    "events_markov_entropy_rate",  # last swept r15
    "mi_events_type_hour",  # last swept r15
    "doc_chunking",  # last swept r15
    "doc_quality_filter",  # last swept r15
    "doc_rrf_fusion",  # last swept r15
    "events_funnel_conversion",  # last swept r15
    "orders_shipping_busdays",  # last swept r15
    "orders_diversified_topk",  # last swept r15
    "weighted_quantiles_quantity",  # last swept r15
    "orders_robust_means",  # last swept r15
    "messages_last_by_role",  # last swept r15
    "udtf_table_arg_digest",  # last swept r15
    "kmv_distinct_orders",  # last swept r15
    "kmv_set_overlap",  # last swept r15
    "asof_join_last_error",  # last swept r15
    "events_gap_fill_ffill",  # last swept r15
    "events_cusum_drift",  # last swept r15
    "events_max_drawdown_user",  # last swept r15
    "forecast_backtest_snaive",  # last swept r15
    "profile_orders_stats",  # last swept r15
    "doc_dedup_survivors",  # last swept r10
    "doc_text_stats",  # last swept r10
    "doc_token_counts",  # last swept r10
    "doc_lang_id_confusion",  # last swept r10
    "doc_fingerprint",  # last swept r10
    "doc_pii_scrub",  # last swept r10
    "window_rank_topk_per_customer",  # last swept r10
    "window_lag_lead_orders",  # last swept r10
    "window_running_max_events",  # last swept r10
    "window_trailing_frame_events",  # last swept r10
    "window_ntile_quartiles",  # last swept r10
    "window_first_last_order",  # last swept r10
    "window_range_frame_value",  # last swept r10
    "window_percent_rank_cume_dist",  # last swept r10
    "embedding_avg_by_label",  # last swept r10
    "range_join_events_1h",  # last swept r10
    "bucketed_join_colocated",  # last swept r10
    "skyline_orders_2d",  # last swept r10
    "multimodal_metadata",  # last swept r10
    "classifier_stub_layers",  # last swept r10
    "classifier_label_canonicalization",  # last swept r10
    "classifier_real_model",  # last swept r10
    "generation_retry_stub",  # last swept r10
    "collate_prompt_batches",  # last swept r10
    "udtf_word_windows",  # last swept r10
    "udaf_weighted_value",  # last swept r10
    "reward_trajectory",  # last swept r10
    "reward_per_turn_scores",  # last swept r10
    "reward_fallback_mean",  # last swept r10
    "reward_config_coalesce",  # last swept r10
    "reward_trajectory_pandas",  # last swept r10
    "termination_flags",  # last swept r10
    "table_statement_corners",  # last swept r11
    "table_refs_sql",  # last swept r11
    "table_maintenance_sql",  # last swept r11
    "table_insert_dml",  # last swept r11
    "table_hilbert_layout",  # last swept r11
    "table_zorder_layout",  # last swept r11
    "knn_cosine_top5",  # last swept r11
    "knn_cosine_lsh",  # last swept r11
    "doc_exact_dedup",  # last swept r11
    "doc_minhash_near_dup",  # last swept r11
    "doc_dedup_clusters",  # last swept r11
    "table_snapshot_lifecycle",  # last swept r11
    "table_schema_evolution",  # last swept r11
    "table_rollback_restore",  # last swept r11
    "table_incremental_diff",  # last swept r11
    "table_wap_publish",  # last swept r11
    "cdc_log_compaction",  # last swept r11
    "table_crypto_shred",  # last swept r11
    "mv_incremental_refresh",  # last swept r11
    "table_branch_merge",  # last swept r11
    "table_history_audit",  # last swept r11
    "table_concurrent_appends",  # last swept r11
    "table_bloom_point_lookup",  # last swept r11
    "table_changelog_emit",  # last swept r11
    "catalog_multi_table_txn",  # last swept r11
    "termination_first_stop",  # last swept r11
    "trajectory_metrics",  # last swept r11
    "table_views_sql",  # last swept r12
    "table_analyze_sql",  # last swept r12
    "knn_ivf_recall_audit",  # last swept r12
    "knn_lsh_recall_audit",  # last swept r12
    "knn_cosine_ivf",  # last swept r12
    "messages_role_swap_pipeline",  # last swept r12
    "dialogue_prep_verl_rows",  # last swept r12
    "dialogue_prep_nested",  # last swept r12
    "overlong_prompt_filter",  # last swept r12
    "positional_split_70_30",  # last swept r12
    "grpo_group_normalize",  # last swept r12
    "grpo_pairwise_n2",  # last swept r12
    "q5_region_revenue",  # last swept r12
    "multimodal_decode_features",  # last swept r12
    "multimodal_feature_extract",  # last swept r12
    "multimodal_frame_sample",  # last swept r12
    "generation_retry_real",  # last swept r12
    "doc_simhash_near_dup",  # last swept r12
    "doc_span_dedup",  # last swept r12
    "doc_fuzzy_pairs_blocked",  # last swept r12
    "stats_exact_moments",  # last swept r12
    "stratified_sample_counts",  # last swept r12
    "events_anomaly_zscore",  # last swept r12
    "events_pit_dimension_join",  # last swept r12
    "events_cohort_ltv",  # last swept r12
    "events_time_to_convert",  # last swept r12
    "events_ewma16_user",  # last swept r12
    "orders_open_peak_monthly",  # last swept r12
    "events_longest_streaks",  # last swept r12
    "part_pairs_cooccurrence",  # last swept r12
    "events_type_transitions",  # last swept r12
    "part_hierarchy_rollup",  # last swept r12
    "part_association_rules",  # last swept r12
    "benford_order_totals",  # last swept r12
    "pipeline_wap",  # last swept r13
    "emb_near_dup_ivf",  # last swept r13
    "table_describe_sql",  # last swept r13
    "table_merge_dml",  # last swept r13
    "sink_parquet_roundtrip",  # last swept r13
    "sink_json_roundtrip",  # last swept r13
    "csv_roundtrip",  # last swept r13
    "sink_partitioned_write",  # last swept r13
    "orc_roundtrip",  # last swept r13
    "json_ingest_corrupt_records",  # last swept r13
    "xml_roundtrip",  # last swept r13
    "binaryfile_ingest",  # last swept r13
    "ols_quantity_price",  # last swept r13
    "chi2_events_type_dow",  # last swept r13
    "welch_t_acctbal_segments",  # last swept r13
    "events_survival_km",  # last swept r13
    "events_impute_value",  # last swept r13
    "events_target_encode_loo",  # last swept r13
    "events_twap_user",  # last swept r13
    "parts_abc_pareto",  # last swept r13
    "semantic_prune_clusters",  # last swept r13
    "spearman_qty_price",  # last swept r13
    "q2_min_cost_supplier",  # last swept r13
    "q4_priority_exists",  # last swept r13
    "q6_forecast_revenue",  # last swept r13
    "q7_volume_shipping",  # last swept r13
    "q8_market_share",  # last swept r13
    "q9_profit_by_nation",  # last swept r13
    "q10_returned_revenue",  # last swept r13
    "q11_important_parts",  # last swept r13
    "q12_late_priority_counts",  # last swept r13
    "q13_custdist",  # last swept r13
    "q14_promo_revenue",  # last swept r13
    "q15_top_supplier",  # last swept r13
    "q16_supplier_part_counts",  # last swept r13
    "q17_small_qty_revenue",  # last swept r13
    "q18_large_orders",  # last swept r13
    "q19_disjunctive_revenue",  # last swept r13
    "q20_dominant_suppliers",  # last swept r13
    "q21_waiting_suppliers",  # last swept r13
    "q22_idle_rich_customers",  # last swept r13
    "lateral_top2_per_customer",  # last swept r13
    "events_sessionize_8h",  # last swept r13
    "daily_acf_value",  # last swept r13
    "stream_conversation_state",  # last swept r14
    "stream_topk_trending",  # last swept r14
    "stream_tumbling_hourly",  # last swept r14
    "stream_watermark_late_drop",  # last swept r14
    "stream_ewma16_state",  # last swept r14
    "stream_stream_join_1h",  # last swept r14
    "stream_static_enrich",  # last swept r14
    "stream_continuous_aggregate",  # last swept r14
    "stream_restart_recovery",  # last swept r14
    "stream_sliding_2h_1h",  # last swept r14
    "stream_session_window",  # last swept r14
    "stream_dedup_events",  # last swept r14
    "stream_dedup_bounded_state",  # last swept r14
    "stream_stream_left_join",  # last swept r14
    "table_insert_overwrite_dml",  # last swept r14
    "seasonal_strength_scan",  # last swept r14
    "events_seasonal_residual_outliers",  # last swept r14
    "events_linear_interpolate",  # last swept r14
    "doc_bm25_search",  # last swept r14
    "doc_phrase_search",  # last swept r14
    "doc_rerank_crossencoder",  # last swept r14
    "embedding_pq_codes",  # last swept r14
    "embedding_pca_power",  # last swept r14
    "user_reach_hll_rollup",  # last swept r14
    "token_cms_estimates",  # last swept r14
    "token_heavy_hitters",  # last swept r14
    "mannwhitney_u_segments",  # last swept r14
    "doc_lm_perplexity",  # last swept r14
    "doc_decontaminate",  # last swept r14
    "doc_ngram_jaccard_pairs",  # last swept r14
    "doc_dup_ngram_fraction",  # last swept r14
    "curation_funnel_counts",  # last swept r14
    "anova_acctbal_segments",  # last swept r14
    "ks_acctbal_two_sample",  # last swept r14
    "lineitem_corr_matrix",  # last swept r14
    "pagerank_trading_graph",  # last swept r16
    "table_governance_sql",  # last swept r16
    "table_merge_sync_dml",  # last swept r16
    "table_merge_upsert",  # last swept r16
    "table_merge_pruned",  # last swept r16
    "user_profile_similarity",  # last swept r16
    "table_partition_evolution",  # last swept r16
    "stream_cdc_apply",  # last swept r16
    "stream_cdc_tail",  # last swept r16
    "stream_native_sink_medallion",  # last swept r16
    "pipeline_medallion",  # last swept r16
    "doc_weighted_sample",  # last swept r16
    "doc_sample_per_lang",  # last swept r16
    "doc_tfidf_top_terms",  # last swept r16
    "emb_decontaminate",  # last swept r16
    "doc_repetition_stats",  # last swept r16
    "doc_rake_keyphrases",  # last swept r16
    "doc_oov_rate",  # last swept r16
    "nb_lang_confusion",  # last swept r16
    "classifier_agreement_kappa",  # last swept r16
    "multimodal_audio_zcr",  # last swept r16
    "udtf_split_fixed_cols",  # last swept r16
    "events_session_window_batch",  # last swept r16
    "events_rolling_median_7d",  # last swept r16
    "events_rolling_wau",  # last swept r16
    "events_linear_attribution",  # last swept r16
    "events_ohlc_hourly",  # last swept r16
    "events_scd2_history",  # last swept r16
    "events_weekly_retention",  # last swept r16
    "mc_pi_estimate",  # last swept r16
    "orders_var_cvar",  # last swept r16
    "ab_sprt_trace",  # last swept r16
    "ab_test_conversion",  # last swept r16
    "ols_by_returnflag",  # last swept r16
    "quantile_transform_acctbal",  # last swept r16
    "revenue_concentration_hhi",  # last swept r16
    "revenue_gini_customers",  # last swept r16
    "corpus_zipf_slope",  # last swept r16
    "revenue_price_volume_bridge",  # last swept r16
    "revenue_recognition_schedule",  # last swept r16
    "revenue_yoy_growth",  # last swept r16
    "customer_segment_migration",  # last swept r16
    "customer_rfm_segments",  # last swept r16
    "orders_interpurchase_intervals",  # last swept r16
    "orders_status_summary",  # last swept r16
    "lineitem_fifo_allocation",  # last swept r16
    "join_key_skew_stats",  # last swept r16
]

if not _in_pyspark_worker():
    registry.promote(_SWEEP_PRIORITY)  # no-op registry inside workers

__all__ = ["registry", "get_spark"]
__version__ = "0.1.0"
