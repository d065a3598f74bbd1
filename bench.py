"""Benchmark runner (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "join_asof",
    "topk_per_group",
    "agg_groupby_distinct",
    "json_extract_props",
    "time_window_session",
    "dedup_exact_keep_first",
    "text_stats",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "dedup_ngram_jaccard",
    "dedup_simhash_neardup",
    "tfidf_top_terms",
    "ngram_lm_counts",
    "join_range_bucketed",
    "q7_nation_volume",
    "agg_hll_mergeable_rollup",
    "subq_exists_late_ship",
    "rollup_hypertable",
    "dedup_crossdoc_segments",
    "contamination_ngram_check",
    "similarity_cosine_topk",
    "similarity_lsh_topk",
    "pack_training_sequences",
    "lm_commonness_score",
    "embedding_label_centroids",
    "quality_score",
    "multimodal_feature_extract",
    "stream_tumbling_counts",
    "pipeline_training_prep",
    "pipeline_training_prep_v2",
    "ts_resample_interpolate",
    # round 4 additions
    "q2_min_cost_supplier",
    "q13_order_distribution",
    "q16_supplier_part_counts",
    "q19_disjunctive_revenue",
    "q21_sole_late_supplier",
    "contamination_bloom_prefilter",
    "multimodal_decode_image_real",
    "multimodal_decode_audio_real",
    # round 10 addition
    "multimodal_decode_flac_real",
    "join_skew_stress",
    "q18_large_volume_customer",
    "similarity_sq_topk",
    "importance_resample_dsir",
    "dedup_intradoc_segments",
    "quality_perplexity_buckets",
    "profile_column_stats",
    "nest_order_lines",
    "events_hour_dow_heatmap",
    "contamination_decontaminate_apply",
    "features_user_daily",
    "tokenizer_vocab_coverage",
    "attribution_last_touch",
    "multimodal_pipeline_prep",
    # round-4 statistics / retrieval additions
    "search_bm25_topk",
    "text_token_entropy",
    "histogram_equi_depth",
    "dq_expectations_report",
    "agg_bitmap_distinct",
    "pipeline_curation_v3",
    "dedup_shingle_containment",
    "bpe_first_merges",
    "dedup_tfidf_cosine_pairs",
    "pipeline_split_decontam_audit",
    "events_rolling_wau",
    "orders_pareto_skyline",
    # round-4 session additions
    "events_funnel_regex",
    "heavy_hitters_misra_gries",
    "text_novelty_per_doc",
    "quality_hashed_classifier",
    "sample_balanced_classes",
    "part_bom_rollup",
    "orders_concurrent_pairs",
    "corpus_token_budget_allocation",
    "stat_wasserstein_1d",
    "lang_id_ngram_profile",
    "multimodal_video_frame_dedup",
    "text_rake_keyphrases",
    # graph_pagerank stays OUT of HEADLINE (build convention: tiny-data
    # iterative ops distort the headline number). Measured attribution
    # (SCALECHECK10.json::graph_pagerank_attribution, VERDICT r15 #4):
    # t(k) = build + k*per_iter gives build 8.05 s / per-iter 1.83 s at
    # sf1 and build 49.8 s / per-iter 6.93 s at sf10 — the cost is
    # dominated by the one-time graph BUILD (orders x lineitem distinct
    # + checkpoint; 59% -> 71% of total), and BOTH components are
    # sublinear in data (slope10 6.19 / 3.78). At bench scale (sf0.1)
    # the per-iteration term is fixed scheduler overhead, which is the
    # distortion the exclusion avoids. It remains oracle-checked and is
    # benched at scale by scalecheck.py (both decades).
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod
    from load_datawarehouse_spark.ops._util import release_lineage_cuts
    from load_datawarehouse_spark.session import get_spark, load_tables

    spark = get_spark(app_name="ldw-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + file-listing caches so timings measure query
    # execution, not session bootstrap.
    load_tables(spark, sf_dir, register_views=False)["lineitem"].count()

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        fn(spark, sf_dir).count()  # warmup: codegen + JIT, not I/O caching
        best, n, runs = None, 0, 0
        # min-of-2 timed runs resists transient jitter; sub-2.5 s
        # queries get a THIRD run (BASELINE.md variance policy: the
        # documented identical-code spread reaches +129% at sub-second
        # scale, so two samples under-cover the jitter distribution
        # exactly where one bad sample distorts the ratio most.
        # VERDICT r16 #5: band widened 1.5 -> 2.5 s — the 1.5-2.5 s
        # queries (minhash family, shingle) sat at min-of-2 where
        # +-10% round-to-round noise kept accumulating ambiguity; the
        # extra run costs ~15 s of bench wall total)
        while runs < 2 or (runs < 3 and best is not None and best < 2.5):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()  # full materialization of the result
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            runs += 1
        timings[name] = round(best, 4)
        # per-query epilogue: drop cluster-mode lineage-cut persists so
        # a long benchmark session cannot accumulate block storage
        release_lineage_cuts()
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_query_wall_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
    }
    # The driver captures only the TAIL of stdout (~2.2 KB in round 4,
    # which truncated the 2.6 KB full-map line into unparseable JSON).
    # Always emit the full per-query map to stderr; if the final stdout
    # line would outgrow a conservative tail budget, keep only the
    # slowest queries in it and flag the truncation.
    print("# full per-query timings: " + json.dumps(timings), file=sys.stderr)
    # Persist the FULL per-query map so round-over-round comparison
    # survives the stdout truncation without a judge re-run. Committed
    # alongside each round's bench run.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    line = json.dumps(out)
    if len(line) > 1800:
        slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
        out["queries"] = {k: timings[k] for k in HEADLINE if k in slowest}
        out["queries_truncated"] = True
        line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
