"""Registry primitives: the QUERIES/ORACLES dicts, the register
decorator, the bench HEADLINE set, and the frozen REGISTRATION_ORDER
that preserves the original single-file registration order across the
domain split (r10 VERDICT #5) — the rotation policy's tie-break is
registration position, so the order is explicit data here rather than
an accident of import order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Queries bench.py times per round — one per distinct execution shape:
# scan+explode, narrow filter, shuffle agg, max_by state replay,
# prefix-scan txn assembly, LSH dedup self-join, broadcast KNN,
# array-expression text pipeline, union+window as-of join, bucketed
# range join, HLL register build.
HEADLINE: list[str] = [
    "cdc_envelope",
    "cdc_select_all",
    "cdc_update_sum",
    "cdc_latest_state",
    "cdc_txn_events",
    "llm_dedup_minhash",
    "llm_knn",
    "llm_text_stats",
    "ts_asof_join",
    "ts_range_join",
    "sk_hll_user_minutes",
]


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The registration order of the original queries.py, frozen as data.
# The rotation policy breaks ties by position in THIS list; new queries
# (not listed) sort after it in their own registration order, matching
# the historical append-at-end convention.
REGISTRATION_ORDER: list[str] = [
    "cdc_select_all",
    "cdc_insert_only",
    "cdc_update_pairs",
    "cdc_running_sum",
    "cdc_update_sum",
    "cdc_all_equal",
    "cdc_count_changes",
    "cdc_ddl_alerts",
    "cdc_latest_state",
    "cdc_incremental_state",
    "cdc_txn_events",
    "cdc_txn_histogram",
    "cdc_committed_rows",
    "cdc_envelope",
    "cdc_stream_select_all",
    "cdc_stream_windowed",
    "cdc_stream_update_sum",
    "cdc_stream_join",
    "cdc_binlog_minimal",
    "cdc_binlog_rows_query",
    "cdc_binlog_envelope",
    "cdc_binlog_gtid",
    "cdc_binlog_crc32",
    "cdc_binlog_rows_v2",
    "cdc_binlog_partial_json",
    "cdc_binlog_zstd",
    "cdc_binlog_typed_state",
    "cdc_binlog_tags_typed",
    "cdc_stream_sessions",
    "cdc_stream_dedup",
    "cdc_binlog_enum_set",
    "cdc_binlog_wide_types",
    "cdc_binlog_utf8mb4",
    "cdc_binlog_json_bit",
    "cdc_binlog_json_extract",
    "llm_text_stats",
    "llm_quality_score",
    "llm_lang_id",
    "llm_token_counts",
    "llm_top_ngrams",
    "llm_fingerprint",
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_dedup_minhash_capped",
    "llm_incremental_neardup",
    "ts_range_join_capped",
    "llm_dedup_jaccard",
    "llm_simhash",
    "llm_simhash_pairs",
    "llm_tfidf",
    "llm_bm25",
    "llm_knn",
    "llm_ann_lsh",
    "llm_embed_neardup",
    "llm_semantic_dedup",
    "llm_embed_covariance",
    "llm_ann_ivf",
    "llm_kmeans",
    "llm_kmeans_sizes",
    "llm_label_centroids",
    "llm_curated_corpus",
    "llm_curated_corpus_cc",
    "llm_jsonl_ingest",
    "llm_split_assign",
    "llm_length_buckets",
    "llm_pii_scan",
    "llm_contamination",
    "llm_pack_sequences",
    "llm_dup_components",
    "llm_incremental_components",
    "llm_corpus_diff",
    "llm_refresh_pipeline",
    "llm_truncate_long_docs",
    "mm_media_features",
    "mm_frame_sample",
    "mm_image_dedup",
    "cdc_ivm_join",
    "gr_pagerank",
    "er_record_linkage",
    "mm_image_dedup_quarantine",
    "mm_audio_dedup",
    "mm_audio_dedup_quarantine",
    "mm_decoded_features",
    "sql_pricing_summary",
    "sql_segment_revenue",
    "sql_nation_revenue",
    "sql_top_orders_window",
    "sql_orders_above_avg",
    "sql_repeat_customers",
    "sql_top_lineitems",
    "sql_daily_event_stats",
    "sql_user_sessions",
    "sql_customers_no_orders",
    "sql_order_size_classes",
    "sql_priority_semijoin",
    "sql_cust_order_dist",
    "sql_top_supplier",
    "sql_small_qty_revenue",
    "sql_large_orders",
    "sql_market_share",
    "sql_idle_rich_customers",
    "cdc_join_dim",
    "ts_asof_join",
    "ts_range_join",
    "ts_rollup_daily",
    "ts_zorder_files",
    "sk_hll_user_minutes",
    "sk_hll_merge_daily",
    "sk_kmv_user_minutes",
    "ts_funnel",
    "sk_value_quantiles",
    "llm_sample_hash",
    "ts_time_weighted_avg",
    "ts_gapfill_hourly",
    "sql_sales_cube",
    "sql_event_pivot",
    "cdc_stream_join_dim",
    "sk_hll_by_type",
    "cdc_table_checksum",
    "sk_cms_tokens",
    "sql_skew_normalize",
    "cdc_stream_hll",
    "cdc_state_asof",
    "llm_mixture_sample",
    "llm_repetition",
    "llm_cross_dup",
    "cdc_scd2",
    "cdc_net_changes",
    "llm_quality_model",
    "llm_unigram_rarity",
    "llm_stratified_sample",
    "ev_json_props",
    "llm_dup_spans",
    "llm_dup_span_ranges",
    "llm_span_censor",
    "llm_bigram_lm",
    "llm_stream_neardup",
    "llm_perplexity_filter",
    "cdc_hot_keys",
    "llm_source_overlap",
    "llm_zipf_slope",
    "sk_bloom_prefilter",
    "ts_downsample_lttb",
    "ts_ohlc_hourly",
    "llm_pq_codes",
    "llm_ann_adc",
    "llm_ann_ivfpq",
    "llm_weighted_sample",
    "llm_shard_plan",
    "dq_profile_events",
    "ts_zscore_anomaly",
    "cdc_ivm_state_sum",
    "cdc_schema_evolution",
    "llm_bpe_vocab",
    "llm_bpe_encode",
    "cdc_stream_schema_version",
    "llm_chunk_overlap",
    "cdc_replication_lag",
    "sk_kmv_overlap",
    "dq_distribution_drift",
    "dq_k_anonymity",
    "dq_pseudonymize",
    "ts_retention_cohorts",
    "ts_ewma",
    "cdc_binlog_quarantine",
    "cdc_scd2_lookup",
    "cdc_stream_replication_lag",
    "cdc_stream_bootstrap",
    "dq_referential",
    "llm_dataset_card",
    "llm_minhash_recall",
    "llm_ann_recall",
    "sk_join_cardinality",
    "sk_quantile_merge_daily",
    # r11 additions (append-at-end keeps historical tie-breaks intact)
    "ts_asof_join_chunked",
    # r12 additions
    "mm_mp4_meta",
    "mm_mp4_keyframe_sample",
    "mm_mp4_quarantine",
    "cdc_stream_latest_state_agg",
    # r13 additions
    "mm_mp4_fragmented",
    "mm_mp4_fragmented_keyframes",
    # r14 additions
    "llm_ann_ivfpq_residual",
    # r15 additions
    "cdc_binlog_pushdown",
    "cdc_stream_txn_events",
    "llm_ann_lsh_uncapped",
    "llm_ann_ivfpq_rr",
    "cdc_binlog_schema_evo",
    "cdc_binlog_since",
    # r16 additions
    "cdc_binlog_only_ops",
    "cdc_binlog_schema_evo_drop",
    "cdc_ds_envelope",
    "cdc_ds_pushdown",
    "cdc_ds_stream_envelope",
    "cdc_ds_stream_txn",
    "cdc_ds_schema_evo",
    "cdc_ds_archive_roundtrip",
    "cdc_ds_compact",
    "cdc_ds_stream_since",
    # r17 additions
    "cdc_ds_columns_pruned",
    "cdc_ds_ts_range",
    "cdc_ds_since_gtid",
    "cdc_ds_gtid_handoff",
    # r18 additions
    "cdc_stream_merge_table",
    "cdc_ds_gtid_failover",
    "cdc_ds_failover_state",
    # r19 additions
    "cdc_state_typed_tables",
    "cdc_stream_state_schema_evo",
    "cdc_state_lifecycle",
]


def finalize_order() -> None:
    """Reorder QUERIES/ORACLES IN PLACE to REGISTRATION_ORDER (frozen
    names first, in list order; unlisted names after, in registration
    order).  In-place so references to the dicts stay valid."""
    pos = {n: i for i, n in enumerate(REGISTRATION_ORDER)}
    order = sorted(QUERIES, key=lambda n: pos.get(n, len(pos)))  # stable
    q2 = {n: QUERIES[n] for n in order}
    QUERIES.clear()
    QUERIES.update(q2)
    o2 = {n: ORACLES[n] for n in order if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o2)
