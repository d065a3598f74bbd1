"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()``
exposes every implemented operator as (spark, sf_dir) -> DataFrame;
``oracle_sql()`` gives the DuckDB-equivalent SQL per query (omitted
only for genuinely non-SQL-expressible / approximate operators).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


# Queries whose correctness evidence is most valuable next round are
# registered first: the driver's CORRECTNESS sweep covers a prefix of
# the registration order (50 names), generated at ROUND START from the
# previous round's final commit. Every registered query has been
# driver-checked at least once (the r1-r10 union covers all of the
# pre-r15 378; round 15 added warehouse_load_dataframe, round 16
# warehouse_load_nested_evolution, #380), so the head is now always
# the ops whose plan/code changed most recently.
_FIRST_NAMES = (
    # --- ops that lost a lineage_cut to a paired cut / no-cut A/B at
    # sf0.1 and sf1 (the first 16 lost every cut and now build with no
    # Spark job; the rest keep another cut) ---
    "sessions_gap_sensitivity",
    "dq_key_skew_gini",
    "stat_mann_kendall_trend",
    "similarity_sq_topk",
    "customer_concentration_hhi",
    "events_autocorr_lags",
    "events_dau_wau_stickiness",
    "q11_important_stock",
    "tokenizer_vocab_coverage",
    "embedding_norm_outliers",
    "quality_source_kl_divergence",
    "dedup_strategy_comparison",
    "quality_dedup_rate_by_source",
    "search_bm25_topk",
    "search_rrf_fusion",
    "basket_affinity_lift",
    "dedup_shingle_containment",
    "dedup_incremental_batch",
    "dedup_tfidf_cosine_pairs",
    "dedup_minhash_estimate_quality",
    # --- ops that stage files on disk, changed to run through
    # ops._util.on_scratch_dir (and, for streams, the shared
    # staged-wave stream and foreachBatch runner) ---
    "warehouse_branch_merge",
    "warehouse_quarantine_load",
    "warehouse_clone_zero_copy",
    "warehouse_two_table_atomic_publish",
    "warehouse_partitioned_upsert",
    "warehouse_load_fetch",
    "warehouse_load_dataframe",
    "warehouse_load_nested_evolution",
    "join_dynamic_partition_pruned",
    "warehouse_expiry_sweep",
    "warehouse_schema_evolution",
    "warehouse_compact_small_files",
    "warehouse_time_travel",
    "warehouse_merge_cdc",
    "warehouse_vacuum_snapshots",
    "source_formats_roundtrip",
    "warehouse_incremental_view",
    "warehouse_snapshot_diff",
    "source_partition_pruned_read",
    "warehouse_right_to_forget",
    "warehouse_mv_rewrite",
    "source_schema_merge_read",
    "source_csv_malformed_handling",
    "source_federated_union",
    "warehouse_etl_capstone",
    "warehouse_idempotent_backfill",
    "stream_ingest_warehouse",
    "stream_late_data_drop",
    "stream_update_mode_history",
    "stream_upsert_warehouse",
    "stream_ivm_aggregate",
    "stream_exactly_once_sink",
    "stream_backfill_then_tail",
    # --- round-18 OPTIMIZATION head: every op whose PHYSICAL PLAN
    # changed in the r18 optimization pass (doc_id-keyed scan spread
    # eliding every doc-keyed exchange; 128-bit xxhash64 pair keys on
    # every pair-family exchange/join instead of gram/band/term
    # strings; md5 removed from the contamination + crossdoc paths;
    # v2/v3 dedup exchanges shed their text/words payloads; the bloom
    # build fused to one driver job). Results are oracle-identical
    # (380/380 vanilla sweep at sf0.01 + per-op sf1 scaleverify), but
    # the changed plans are exactly what the driver window should
    # re-check first. ---
    "lang_id_ngram_profile",
    "stats_classifier_kappa",
    "dedup_simhash_neardup",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "dedup_lsh_bucket_skew",
    "dedup_ngram_jaccard",
    "dedup_jaccard_threshold_histogram",
    "dedup_neardup_clusters",
    "text_novelty_per_doc",
    "dedup_crossdoc_segments",
    "pipeline_source_quality_card",
    "contamination_ngram_check",
    "contamination_bloom_prefilter",
    "contamination_decontaminate_apply",
    "pipeline_training_prep_v2",
    "pipeline_curation_v3",
    # gate-memo sibling: plan unchanged, but its pair-budget memo is
    # now keyed on BOTH input tables (ADVICE r17 #1)
    "join_theta",
    # --- round-17 head re-checks (previous round's changed ops) ---
    "part_bom_rollup",
    "text_rake_keyphrases",
    "importance_resample_dsir",
    "dedup_embedding_neardup",
    "dedup_connected_components",
    "dedup_semantic_clusters",
    # --- round-17 BUILD head (re-anchors) and band/asof siblings ---
    "heavy_hitters_misra_gries",
    "join_asof_nearest",
    "graph_pagerank",
    # --- siblings sharing the re-anchored claims/predicates: the
    # as-of family, the curation capstone's stage operators, and the
    # time-band family whose scale-corpus regime changed with the
    # r17 calendar-span scalegen fix (driver data is untouched, but
    # the shared band-grid derivation deserves fresh evidence) ---
    "join_asof",
    "join_asof_forward",
    "join_asof_tolerance",
    "quality_domain_cap",
    "split_train_val_test",
    "orders_price_time_band_pairs",
    "join_range_bucketed",
    "join_range_bands",
    # --- round-16 head (previous round's changed ops, re-checked) ---
    "join_anti",
    "setop_except",
    "q22_idle_rich_segments",
    "subq_not_exists_idle_rich",
    "multimodal_audio_silence_segments",
    "dedup_exact_groups",
    # --- siblings of the re-anchored ops (shared claims/predicates) ---
    "setop_except_all",
    "setop_intersect",
    "dedup_exact_normalized",
    "dedup_exact_keep_first",
    "multimodal_audio_energy",
    # --- round-15 head re-checks: measured eval-gram gate family,
    # the re-anchored scalar/window ops, the banding memo re-key ---
    "scalar_try_arith",
    "window_ranking",
    "events_velocity_flags",
    "scalar_string",
    # --- shared-gate path (embedding family on require_pair_budget) ---
    # --- earlier-round re-checks (banding, jaccard histogram,
    # federated union, MG merge, lazy PCA, kmeans, FLAC trio) ---
    "multimodal_video_frame_dedup",
    "embedding_pca_second_component",
    "dedup_levenshtein_verify",
    "embedding_pca_power_iteration",
    "kmeans_lloyd",
    "multimodal_decode_flac_real",
    "multimodal_payload_entropy",
    "multimodal_cdc_chunk_dedup",
    # --- dedup/pipeline family siblings of the gated probes ---
    "dedup_cascade_report",
    "dedup_template_groups",
    # --- embedding-family re-checks ---
    "similarity_cosine_topk",
    "similarity_ivf_topk",
    "similarity_lsh_topk",
    # --- join/flagship representatives ---
    "q10_returned_items",
    "q3_shipping_priority",
    "q1_pricing_summary",
    "join_inner",
    "join_null_safe_eq",
    "join_skew_salted",
    "graph_triangle_count",
    "basket_association_rules",
    "stream_static_enrich",
)


def _registry():
    from load_datawarehouse_spark.ops import (
        analytics,
        llm,
        multimodal,
        relational,
        streaming,
        tpch,
        udfs,
        windows,
    )

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in (llm, streaming, multimodal, udfs, relational, windows, tpch, analytics):
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)

    def _reorder(d: dict) -> dict:
        head = {k: d[k] for k in _FIRST_NAMES if k in d}
        return head | {k: v for k, v in d.items() if k not in head}

    return _reorder(queries), _reorder(oracles)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    from load_datawarehouse_spark.ops.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
