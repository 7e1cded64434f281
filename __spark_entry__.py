"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over the machine_telemetry_etl_ml_pipeline_spark.registry
package — importing it registers every implemented operator from
SURVEY.md §2 as a (spark_builder, duckdb_oracle_sql) pair.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from machine_telemetry_etl_ml_pipeline_spark import registry  # noqa: E402
from machine_telemetry_etl_ml_pipeline_spark.session import tune_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: latest-per-key dedup
    over events (the reference's signature DISTINCT ON idiom,
    /root/reference/project/db.py:237-246) — scan -> shuffle -> window
    -> filter, the engine's spine."""
    tune_session(spark)
    return registry.REGISTRY["ref_latest_per_key"].fn(spark, "/root/testdata/sf0.001")


# The driver's correctness gate verifies a ~50-entry prefix of
# queries() per round. Since r9 every one of the 394 registered
# entries has a green driver row (verification debt is zero), so the
# standing rotation policy is: (1) entries whose IMPLEMENTATION
# changed this round queue first — their existing green rows are
# from the old code; (2) any new registrations queue next (prove-at-
# creation); (3) the window fills with the entries holding the
# OLDEST driver rows, oldest-first, to drive the median row age down
# (VERDICT r9 item 2).
# r14 rotation (VERDICT r13 items 1/9; standing policy cases 1-3):
# (1) the 15 r13-implementation-changed entries with no post-change
# driver row queue FIRST (segment dedup, salted join, the LSH pair/
# star family behind keep_best/cluster_sizes/semdedup/neardup, and
# the 7 co-purchase-graph consumers; llm_novel_ngram_ratio and
# llm_dedup_components already got post-change rows in the r13
# window and queue last with the rest of that window);
# (2) the r14 implementation-changed entries queue next:
# ext_equiheight_histogram (prefix-sum rewrite + checkpointed-rollup
# assignment), ml_random_forest_vote (single sufficient-stats scan),
# llm_keyword_rake (in-row segmentation), ml_gbt_stumps (single
# sufficient-stats scan), ml_mann_whitney_u (distributed prefix-sum
# ranks), graph_pagerank (shuffle-hash orderkey join + fused
# membership probe) — all must be driver-verified on the new code;
# ml_naive_bayes_sql (pre-agg REFUTED, wc-checkpoint probe reverted)
# is unchanged but stays queued — its r13 driver row is one the
# VERDICT flagged, so a fresh row closes the watch. The r14-changed
# llm_semdedup_prune_scaled / llm_lsh_candidate_pairs /
# llm_minhash_jaccard_estimate / graph family (label propagation
# re-changed in session 2: fused construction) are already in block
# (1) — every r14 implementation change sits inside the ~50-row
# window;
# (3) the window fills with the stalest rows — the r4-era block the
# r13 boundary cut off (ext_intersect_all onward), in their prior
# queue order — and the 50 freshest (r13-verified) rows move to the
# back. Every entry remains locally green at sf0.001 AND sf0.01
# (tools/check.py); names listed once (tests/test_contract.py).
_PRIORITY = [
    "llm_segment_dedup", "ext_salted_join", "llm_lsh_candidate_pairs",
    "llm_minhash_jaccard_estimate", "llm_dedup_keep_best", "llm_dedup_cluster_sizes",
    "llm_semdedup_prune_scaled", "llm_embedding_neardup_scaled", "graph_triangle_count",
    "graph_k_core", "graph_label_propagation", "graph_bfs_distances",
    "graph_common_neighbors", "graph_clustering_coefficient", "graph_degree_assortativity",
    "ext_equiheight_histogram", "ml_random_forest_vote", "llm_keyword_rake",
    "ml_gbt_stumps", "ml_mann_whitney_u", "graph_pagerank",
    "ml_naive_bayes_sql", "ext_intersect_all", "ext_except_all",
    "ext_collect_list_ordered", "ext_approx_top_k", "ext_window_time_range_frame",
    "stream_foreach_batch_sink", "stream_stream_join", "llm_ann_bucket_counts",
    "llm_fingerprint", "llm_scrub_text", "llm_repetition_stats",
    "tpch_q6", "tpch_q8", "tpch_q9",
    "tpch_q17", "ext_approx_count_distinct", "ext_bucketed_join_colocated",
    "ext_incremental_rollup", "ext_salted_agg", "tpch_q2",
    "tpch_q5", "tpch_q7", "tpch_q10",
    "tpch_q11", "tpch_q12", "tpch_q13",
    "tpch_q15", "tpch_q16", "tpch_q18",
    "tpch_q19", "tpch_q20", "tpch_q21",
    "tpch_q22", "llm_pack_sequences", "llm_source_mix",
    "llm_quality_filter_by_lang", "llm_decontaminate", "llm_unigram_logprob",
    "llm_dedup_keep_first", "llm_chunk_documents", "llm_train_test_split",
    "ext_recursive_cte", "ext_variant_json", "ext_sql_udf",
    "udf_python_udtf", "ext_compact_small_files", "ext_dynamic_partition_overwrite",
    "ext_source_csv_corrupt", "ext_manifest_pruned_scan", "ext_source_orc",
    "stream_session_counts", "stream_sliding_counts", "stream_static_join",
    "stream_dedup_within_watermark", "ext_merge_upsert", "ext_funnel_conversion",
    "ext_cohort_retention", "ext_gap_islands", "ext_scd2_history",
    "ext_session_dynamic_gap", "llm_tfidf_topk_terms", "llm_winnowing_fingerprints",
    "ext_join_left_order_counts", "ext_join_semi", "ext_join_anti",
    "ext_join_theta", "ext_union_all", "ext_union_distinct",
    "ext_intersect", "ext_except", "ext_rollup",
    "ext_cube", "ext_window_rank", "ext_window_lag_lead",
    "ext_percentiles", "ext_max_by", "ext_scalar_string",
    "ext_scalar_date", "ext_explode_wordcount", "ext_json_extract",
    "ext_tumbling_window", "ext_sliding_window", "ext_session_windows",
    "ext_scalar_math", "ext_window_running", "tpch_q4",
    "tpch_q14", "llm_dedup_exact_stats", "llm_minhash_signatures",
    "llm_ngram_jaccard", "llm_simhash", "llm_cosine_topk",
    "llm_ann_lsh_topk", "llm_ann_multiprobe_topk", "llm_embedding_neardup",
    "llm_language_id", "llm_token_counts", "llm_quality_score",
    "llm_pipeline_end_to_end", "llm_multimodal_pack", "ext_scalar_subquery",
    "ext_correlated_subquery", "ext_in_subquery", "udf_pandas_scalar",
    "udf_apply_in_pandas", "udf_python_row", "ext_window_distribution",
    "ext_window_first_last", "ext_window_range_frame", "ext_array_functions",
    "ext_map_functions", "ext_regexp_functions", "ext_date_format",
    "ext_pivot", "ext_unpivot", "ext_grouping_sets",
    "ext_string_agg", "ext_corr_covar", "ext_union_missing_cols",
    "ext_join_revenue_by_nation", "stream_tumbling_counts", "ml_kmeans_anomaly",
    "ml_gbt_regression_eval", "ml_gbt_classifier_eval", "ext_source_jsonl",
    "llm_embedding_truncate", "llm_inverted_index",
    "ext_data_profile", "ext_sample_stratified_exact", "ext_python_datasource",
    "ext_gap_fill_ffill", "ext_rolling_median", "ext_histogram",
    "ml_linear_regression_sql", "ext_fuzzy_levenshtein", "llm_multimodal_framesample",
    "ext_scd2_point_in_time_join", "ext_try_arithmetic", "llm_novel_ngram_ratio",
    "ext_window_distinct_count", "ext_group_by_all", "stream_update_mode_upsert",
    "ext_sql_unpivot_native", "ml_string_indexer", "llm_bm25_score",
    "llm_ann_ivf_recall", "udf_map_in_arrow", "llm_dedup_components",
    "llm_simhash_hamming_pairs", "ext_join_right", "ext_join_full_outer",
    "ext_range_join", "ext_join_hinted", "ext_time_rollup",
    "ext_not_in_subquery", "ext_lateral_join", "ext_percentile_approx_check",
]


def _ordered_names() -> list[str]:
    rest = [n for n in registry.REGISTRY if n not in set(_PRIORITY)]
    # keep the r1-verified reference core + join/setop/window families
    # right after the priority block (registry registration order already
    # reflects that grouping); dedupe preserving first (window) position
    ordered = [n for n in _PRIORITY if n in registry.REGISTRY] + rest
    return list(dict.fromkeys(ordered))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: registry.REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; omitted entries get the
    driver's weaker rows-only check."""
    return {
        name: registry.REGISTRY[name].oracle
        for name in _ordered_names()
        if registry.REGISTRY[name].oracle is not None
    }
