"""Query catalog: importing this package populates the registry."""

from __future__ import annotations

from .registry import QUERIES, QueryDef, register  # noqa: F401

# Populate the registry. Each module registers its queries at import time.
from . import llm, ops, tpch  # noqa: E402,F401

from .tpch import flagship  # noqa: E402,F401


# The correctness check of `__spark_entry__.queries()` covers its first
# 50 names only, so dict order decides which queries get that check:
# _ordered() puts the _PRIORITY names first, in list order, then every
# other registered query in registration order. The list's first 50
# entries are therefore the checked set; the names after them only fix
# the order of the rest.
_PRIORITY: list[str] = [
    "stream_cdf_update_pairing",
    "stream_cdf_scd2_dimension",
    "mv_manifest_timestamp_travel",
    "batch_table_changes",
    "pydatasource_scan_agg",
    "text_sink_scan_roundtrip",
    "json_sink_scan_roundtrip",
    "orc_sink_scan_roundtrip",
    "agg_approx_distinct",
    "array_l2_norm",
    "array_set_functions",
    "case_when_buckets",
    "cohort_retention",
    "collect_list_sorted",
    "compaction_fidelity",
    "corpus_curation_pipeline",
    "cross_join_dims",
    "cube_counts",
    "dedup_embedding_cosine",
    "dedup_exact_docs",
    "dedup_fingerprint_md5",
    "dedup_near_clusters",
    "embedding_covariance",
    "filter_null_nan_threshold",
    "heavy_hitter_terms",
    "incremental_join_view_maintenance",
    "interval_join_sessions",
    "json_variant_extract",
    "max_string_and_date",
    "nested_struct_map",
    "observed_scan_metrics",
    "pack_sequences",
    "percentiles_exact",
    "pivot_status_counts",
    "pydatasource_stream_scan_agg",
    "pydatasource_writer_roundtrip",
    "regexp_extract_number",
    "scan_project_prune",
    "session_window_gap",
    "set_except_all",
    "sql_interface_revenue",
    "sql_pipe_syntax_agg",
    "sql_session_vars_params",
    "stream_incremental_agg_view",
    "stream_static_enrich_counts",
    "string_function_suite",
    "text_quality_rules",
    "time_bounded_self_join",
    "time_window_sliding",
    "time_window_tumbling",
    "unpivot_measures",
    "window_lag_delta",
    "window_ntile_percent_rank",
    "window_running_sum",
    "multimodal_video_frames",
    "multimodal_av_demux",
    "dedup_video_frames",
    "stream_cdf_from_manifest",
    "stream_cdf_mv_maintenance",
    "stream_cdf_table_replication",
    "mv_manifest_conditional_put",
    "mv_manifest_schema_enforcement",
    "dedup_ingest_on_write",
    "dedup_simhash",
    "sim_cosine_topk",
    "text_token_stats",
    "text_quality_score",
    "text_lang_id",
    "doc_fingerprint_winnow",
    "text_bpe_token_count",
    "text_repetition_ratio",
    "split_train_test",
    "sample_quota_per_source",
    "text_scrub_patterns",
    "distinct_count_agg",
    "set_except",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_supplier_volume",
    "q6_forecast_revenue",
    "q4_order_priority",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_orders",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q19_disjunctive_predicates",
    "q22_inactive_customers",
    "q7_nation_volume_shipping",
    "q15_top_supplier",
    "q21_waiting_suppliers",
    "q9_product_profit",
    "q16_supplier_variety",
    "q20_excess_stock_suppliers",
    "q12_priority_shipping",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q11_important_stock",
    "window_range_frame_sum",
    "asof_join_last_click",
    "bpe_learn_merges",
    "bucketed_join_no_shuffle",
    "dedup_image_ahash",
    "dedup_image_ahash_recall",
    "graph_triangle_count",
    "schema_evolution_merge",
    "embedding_pq_train_invariant",
]

def _ordered() -> dict[str, QueryDef]:
    out = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    out.update({n: qd for n, qd in QUERIES.items() if n not in out})
    return out


def spark_queries():
    """name -> (spark, sf_dir) -> DataFrame, for __spark_entry__.queries()."""
    return {name: qd.fn for name, qd in _ordered().items()}


def oracle_sqls():
    """name -> DuckDB SQL, for __spark_entry__.oracle_sql(); rows-only
    queries (no SQL-expressible oracle) are omitted per the driver contract."""
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle}
