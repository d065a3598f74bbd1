"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast choice, bounded shuffles) are
asserted here so a refactor can't silently regress them."""

from __future__ import annotations

from tests.conftest import SF_DIR

from load_datawarehouse_spark.ops import llm, relational
from load_datawarehouse_spark.session import load_tables


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


#: Locks that match Spark's EXPLAIN text line by line (attribute-id
#: suffixes, shuffle-origin labels, codegen stage markers, node names)
#: or a partitioning that AQE reports through a checkpoint. They were
#: probed on Spark 4.1.x; another version can change that text, so a
#: negative check could pass vacuously.
_FORMAT_LOCKS = (
    "test_doc_keyed_spread_elides_downstream_exchanges",
    "test_kmeans_mean_update_join_not_broadcast",
    "test_pca_matvec_join_co_partitioned",
    "test_skew_stress_salted_spreads_hot_key",
    "test_embedding_neardup_self_join_is_group_pair_tiled",
    "test_cc_edge_build_is_group_pair_tiled",
    "test_whole_stage_codegen_on_hot_path",
    "test_scan_spread_sites_round_robin",
    "test_minhash_verified_checkpoints_candidates",
    "test_curation_v3_single_composed_plan",
)


def test_spark_is_the_version_the_plan_locks_were_probed_on():
    import pyspark

    assert all(callable(globals().get(n)) for n in _FORMAT_LOCKS)
    assert pyspark.__version__.startswith("4.1."), (
        f"pyspark {pyspark.__version__}: the plan locks were probed on 4.1.x; "
        f"re-probe the executed-plan text of {', '.join(_FORMAT_LOCKS)} "
        "(and the spread_small_scan claim that a keyed spread does not "
        "survive a lineage_cut) before trusting tests/test_plans.py"
    )


def test_q1_filter_pushed_and_columns_pruned(spark):
    plan = _plan(relational.q1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection needs 7 of 16 lineitem columns; the scan must not read the rest
    assert "l_comment" not in plan
    assert "l_orderkey" not in plan


def test_q6_is_shuffle_minimal(spark):
    # scan -> filter -> partial agg -> single-partition final agg:
    # exactly one exchange, no join operators at all
    plan = _plan(relational.q6_forecast_revenue(spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_dimension_joins_broadcast(spark):
    for fn in (
        relational.q3_shipping_priority,
        relational.q5_local_supplier_volume,
        relational.q10_returned_items,
    ):
        plan = _plan(fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, fn.__name__
        # dimension mis-planning shows up as a cartesian/BNL join
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_range_bucketed_join_is_equi(spark):
    # the bucketed expansion must plan as a hash/merge equi-join, not
    # the quadratic nested-loop fallback a raw range predicate gets
    plan = _plan(relational.join_range_bucketed(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_theta_range_scale_contract(spark):
    # the theta/range family contract (COVERAGE.md): join_theta is the
    # audit shape — a HASH join on the extracted equi conjunct whose
    # within-key quadratic cost is the documented workload term — and
    # join_range_bands is the scale path, a bucketed broadcast-hash
    # equi join with NO nested-loop operator anywhere in its plan. A
    # refactor must not silently demote either to BNLJ/cartesian.
    theta = _plan(relational.join_theta(spark, SF_DIR))
    assert "BroadcastHashJoin" in theta or "SortMergeJoin" in theta
    assert "BroadcastNestedLoopJoin" not in theta
    assert "CartesianProduct" not in theta

    bands = _plan(relational.join_range_bands(spark, SF_DIR))
    assert "BroadcastHashJoin" in bands
    assert "BroadcastNestedLoopJoin" not in bands
    assert "CartesianProduct" not in bands


def test_shingles_zero_shuffles(spark):
    t = load_tables(spark, SF_DIR, register_views=False)
    plan = _plan(llm._shingles(t))
    # r17: the dedup is IN-ROW (array_distinct before the explode), so
    # the frame is narrow end to end — the old closing distinct's
    # exchange is gone. The scan-spread round-robin
    # (session.spread_small_scan) stays the one tolerated exchange
    # when `spread=True` — it moves raw doc rows, not the shingle
    # fan-out, and disappears at scale (partition-count guard).
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Exchange rangepartitioning") == 0
    # the explode must consume the array EXPRESSION, not an aliased
    # attribute: an attribute generator triggers
    # InferFiltersFromGenerate and the pushed-down filter re-inlines
    # the whole assembly below the scan (measured 8.7 s vs 0.3 s).
    # ADVICE r17 #3: target the specific inferred predicate (a Filter
    # evaluating size(...) of the generator input) instead of
    # forbidding every Filter node — a legitimate future predicate
    # must not trip this lock.
    import re

    assert not re.search(r"Filter .*size\(", _plan(llm._shingles(t, spread=True)))


def test_similarity_topk_no_corpus_shuffle(spark):
    # two-phase top-k: the scored corpus must reach the per-partition
    # MapInPandas reducer WITHOUT an Exchange (the old plan funneled
    # every scored row through a 5-key window shuffle); the only
    # exchange sits above it, moving <= partitions*queries*k rows
    plan = _plan(llm.similarity_cosine_topk(spark, SF_DIR))
    assert "MapInPandas" in plan
    head, _, tail = plan.partition("MapInPandas")
    # operators BELOW MapInPandas print after it in the tree dump; the
    # query-vector BroadcastExchange is fine — only a *shuffle*
    # (hash/range partitioning) of the corpus would be a regression
    assert "Exchange hashpartitioning" not in tail, "corpus side must stay narrow"
    assert "Exchange rangepartitioning" not in tail, "corpus side must stay narrow"
    assert "Exchange hashpartitioning" in head, "final k-merge window still shuffles (tiny)"


def test_minhash_verified_checkpoints_candidates(spark):
    # cand + ds_c feed multiple consumers; without the lineage cut
    # Catalyst re-derives the full LSH pipeline per consumer (~22
    # document scans, measured). The checkpointed plan reads the
    # cached RDDs instead of re-scanning parquet.
    plan = _plan(llm.dedup_minhash_verified(spark, SF_DIR))
    assert "Scan ExistingRDD" in plan
    assert plan.count("FileScan parquet") == 0


def test_simhash_neardup_is_bucketed_equi_join(spark):
    # pigeonhole banding must plan as an equality join on
    # (band, bits) buckets — a cartesian/BNL fallback would be the
    # disguised all-pairs join the op exists to avoid
    plan = _plan(llm.dedup_simhash_neardup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_self_join_is_group_pair_tiled(spark):
    # the exact pair scan must be tiled: the self-join keyed on the
    # full (label, g1, g2) group-pair triple, never label alone — a
    # label-only join is the quadratic-cell straggler the tiling
    # exists to avoid (advisor r7: the banded-LSH alternative dropped
    # ~2/3 of true pairs at the 0.3 threshold and was reverted; the
    # straggler fix is routing, not candidate pruning)
    plan = _plan(llm.dedup_embedding_neardup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    join_lines = [ln for ln in plan.splitlines() if "HashJoin" in ln or "SortMergeJoin" in ln]
    assert any(
        re.search(r"Join \[label#\d+, g1#\d+, g2#\d+\]", ln) for ln in join_lines
    ), "pair self-join is not keyed on (label, g1, g2):\n" + "\n".join(join_lines)


def test_embedding_pair_scale_contract(spark, monkeypatch):
    # the exact embedding pair family's scale contract (COVERAGE.md
    # §Embedding-pair scale contract), mirroring the theta/range
    # family's: the contract cost sum C(n_label, 2) is measured
    # LINEARLY before any pair work is scheduled, and an over-budget
    # workload REFUSES with an error naming the finer-blocking lever
    # and the bucket-bounded production siblings — never silently
    # prunes candidates (banding at the 0.3 threshold dropped ~2/3 of
    # true pairs) and never launches the unbounded quadratic sweep
    # measured at sf10 (2.0B pairs, 759 s).
    import pytest

    from load_datawarehouse_spark.errors import WarehousePairBudgetExceeded
    from load_datawarehouse_spark.ops.llm import (
        CANDIDATE_PAIR_BOUNDS,
        _bucket_pair_sum,
        _label_cos_edges,
        _with_norm,
    )

    t = load_tables(spark, SF_DIR, register_views=False)
    emb = _with_norm(t["embeddings"])
    workload = _bucket_pair_sum(emb, "label")
    assert workload > 10  # the gate below must actually trip

    # over budget: refuse BEFORE scheduling, with the documented
    # levers in the message
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "10")
    with pytest.raises(WarehousePairBudgetExceeded) as exc:
        _label_cos_edges(spark, emb)
    msg = str(exc.value)
    for lever in (
        "dedup_minhash_verified",  # the DF-independent production path
        "dedup_neardup_clusters",
        "similarity_lsh_topk",
        "similarity_ivf_topk",
        "finer blocking keys",
        "SPARK_GRAFT_PAIR_BUDGET",
    ):
        assert lever in msg, lever

    # within budget: the exact tiled plan builds (keyed on the full
    # (label, g1, g2) triple — asserted by
    # test_embedding_neardup_self_join_is_group_pair_tiled) and a
    # budget of 0 disables the gate entirely
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", str(workload))
    assert _label_cos_edges(spark, emb) is not None
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "0")
    assert _label_cos_edges(spark, emb) is not None

    # the in-op gate and the scale sweep's pair bound must be the same
    # measurement (they share _bucket_pair_sum over the label)
    assert CANDIDATE_PAIR_BOUNDS["dedup_embedding_neardup"](spark, SF_DIR) == workload


def test_theta_tfidf_pair_scale_contract(spark, monkeypatch):
    # the two other contract-quadratic audit views gate in-op through
    # the same require_pair_budget as the embedding family — workload
    # measured LINEARLY (key/bucket histogram sums) before any pair
    # work, over-budget refuses naming the production paths, a
    # workload equal to the budget builds, 0 disables, and the env
    # override is validated.
    import pytest

    from load_datawarehouse_spark.errors import (
        WarehouseError,
        WarehousePairBudgetExceeded,
    )
    from load_datawarehouse_spark.ops.llm import CANDIDATE_PAIR_BOUNDS

    for name, op, levers in (
        # join_theta: sum-over-keys n_s(k) * n_c(k)
        ("join_theta", relational.join_theta,
         ("join_range_bands", "join_range_bucketed", "finer equi conjunct")),
        # dedup_tfidf_cosine_pairs: sum-over-terms C(DF(term), 2)
        ("dedup_tfidf_cosine_pairs", llm.dedup_tfidf_cosine_pairs,
         ("dedup_minhash_verified", "similarity_lsh_topk", "DF cap")),
    ):
        # the in-op gate must measure exactly the sweep's pair bound:
        # at that budget the op builds, one pair below it refuses
        bound = CANDIDATE_PAIR_BOUNDS[name](spark, SF_DIR)
        assert bound > 1, name  # the gate below must actually trip
        monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", str(bound))
        assert op(spark, SF_DIR) is not None
        monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", str(bound - 1))
        with pytest.raises(WarehousePairBudgetExceeded) as exc:
            op(spark, SF_DIR)
        msg = str(exc.value)
        assert f"measured pair workload {bound:,} exceeds" in msg, name
        for lever in (*levers, "SPARK_GRAFT_PAIR_BUDGET"):
            assert lever in msg, (name, lever)
        monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "0")
        assert op(spark, SF_DIR) is not None  # 0 disables

    # --- env validation: malformed / negative values get an
    # actionable error naming the variable, never a bare ValueError
    # or a silently-gate-everything negative budget ---
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "2e8")
    with pytest.raises(WarehouseError, match="SPARK_GRAFT_PAIR_BUDGET"):
        relational.join_theta(spark, SF_DIR)
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "-5")
    with pytest.raises(WarehouseError, match="SPARK_GRAFT_PAIR_BUDGET.*negative"):
        relational.join_theta(spark, SF_DIR)


def test_null_safe_join_is_hash_join(spark):
    # EqualNullSafe is sargable: expect a broadcast hash join, not a
    # nested-loop fallback
    plan = _plan(relational.join_null_safe_eq(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_on_hot_path(spark):
    # q1's scan->filter->agg pipeline must stay inside codegen; AQE
    # only finalizes the plan after execution, and only of THIS
    # DataFrame's own queryExecution (count() would spawn a new one)
    df = relational.q1_pricing_summary(spark, SF_DIR)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # codegen'd operators carry the "*(n)" whole-stage marker; the
    # aggregate and the scan-filter pipeline must both be inside one
    import re

    assert re.search(r"\*\(\d+\) HashAggregate", plan)
    assert re.search(r"\*\(\d+\) (Project|Filter|ColumnarToRow)", plan)


def test_exists_subquery_decorrelates_to_semi_join(spark):
    # Catalyst must rewrite EXISTS into a semi join on l_orderkey —
    # a per-row nested subquery would appear as a BNLJ/cartesian
    plan = _plan(relational.subq_exists_late_ship(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_not_exists_decorrelates_to_anti_join(spark):
    plan = _plan(relational.subq_not_exists_idle_rich(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_scalar_subquery_aggregates_once(spark):
    # the correlated AVG decorrelates into ONE lineitem aggregate
    # joined back — lineitem is scanned exactly twice (probe + agg),
    # never per-row
    plan = _plan(relational.subq_scalar_avg_qty(spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_hypertable_rollup_single_wide_shuffle(spark):
    # only the minute level shuffles raw events; hour/day re-aggregate
    # tiny intermediates (AQE-coalesced). 3 agg levels + final sort =
    # at most 4 exchanges, and exactly one of them carries raw rows.
    plan = _plan(relational.rollup_hypertable(spark, SF_DIR))
    assert plan.count("Exchange") <= 4
    assert "Join" not in plan


def test_repetition_and_gopher_are_narrow(spark):
    # per-row array arithmetic must stay shuffle-free: the only
    # exchange allowed is the final presentation sort's range partition
    for fn in (llm.doc_repetition_score, llm.quality_gopher_filters):
        plan = _plan(fn(spark, SF_DIR))
        assert plan.count("Exchange hashpartitioning") == 0, fn.__name__
        assert "Join" not in plan, fn.__name__


def test_contamination_broadcasts_eval_grams(spark):
    # the eval-set gram list is the small side and must broadcast;
    # the corpus side must not shuffle for the probe
    plan = _plan(llm.contamination_ngram_check(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shard_packing_prunes_payload(spark):
    # shard assignment is metadata-only: the binary content column
    # must be pruned from the parquet scan
    from load_datawarehouse_spark.ops import multimodal

    plan = _plan(multimodal.multimodal_shard_packing(spark, SF_DIR))
    assert "content" not in plan


def test_pack_sequences_window_is_partitioned(spark):
    # packing must shuffle on source (parallel per shard), never into
    # a single unpartitioned window
    plan = _plan(llm.pack_training_sequences(spark, SF_DIR))
    assert "Exchange hashpartitioning(source" in plan
    assert "Exchange SinglePartition" not in plan.split("Sort")[0]


def test_pagerank_is_hash_joined(spark):
    # edges x ranks must plan as hash equi joins; a BNLJ would be the
    # quadratic contribution pass
    plan = _plan(relational.graph_pagerank(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_capstone_v2_broadcasts_eval_and_stays_joined(spark):
    plan = _plan(llm.pipeline_training_prep_v2(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # decontamination probe
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark):
    # bucketBy on the join key must make the fact-fact join
    # shuffle-free: no Exchange feeding the SortMergeJoin
    import uuid

    from load_datawarehouse_spark.ops.relational import (
        bucketed_join_plan,
        build_bucketed_tables,
    )

    t = load_tables(spark, SF_DIR, register_views=False)

    sfx = uuid.uuid4().hex[:8]
    to, tl = f"pb_orders_{sfx}", f"pb_lineitem_{sfx}"
    try:
        build_bucketed_tables(spark, t, to, tl)
        # at test scale auto-broadcast would hide the bucketed path;
        # disable it for the plan capture only (at 100 TB neither side
        # broadcasts and this IS the plan)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = _plan(bucketed_join_plan(spark, to, tl))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # both scans read buckets directly: the join needs NO exchange
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        before_join = plan.split("SortMergeJoin")[-1]
        assert "Exchange hashpartitioning" not in before_join
    finally:
        for n in (to, tl):
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_dynamic_partition_pruning_triggers(spark, tmp_path):
    from load_datawarehouse_spark.ops.relational import (
        build_dpp_layout,
        dpp_join_plan,
    )

    t = load_tables(spark, SF_DIR, register_views=False)
    fact = str(tmp_path / "orders_part")
    dim = str(tmp_path / "prio_dim")
    build_dpp_layout(spark, t, fact, dim)
    plan = _plan(dpp_join_plan(spark, fact, dim))
    # the partitioned scan must carry a runtime pruning subquery
    assert "dynamicpruning" in plan


def test_skew_stress_salted_spreads_hot_key(spark):
    # the whole point of the salt: the probe-side shuffle must hash on
    # (skew_key, salt), not skew_key alone, so the hot key's rows land
    # on _SALT_K partitions; the join itself must be the forced
    # shuffled-hash plan (a broadcast would sidestep the skew)
    plan = _plan(relational.join_skew_stress(spark, SF_DIR))
    assert "ShuffledHashJoin" in plan
    assert "skew_key" in plan and "salt" in plan
    import re

    probe_exchange = re.search(r"Exchange hashpartitioning\(skew_key#\d+L, salt#\d+L", plan)
    assert probe_exchange, "probe side must shuffle on (skew_key, salt)"


# --- round-4 tpch / bloom plan locks ---------------------------------------


def test_q19_disjunction_pushed_zero_exchanges(spark):
    """Catalyst must extract the single-side conjuncts of the
    OR-of-ANDs: the quantity disjunction reaches the lineitem scan,
    the brand/size disjunction reaches the part scan, and the whole
    query runs broadcast-join + partial-agg with no hash exchange."""
    from load_datawarehouse_spark.ops import tpch

    plan = _plan(tpch.q19_disjunctive_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan  # pushed disjunct
    assert "CartesianProduct" not in plan


def test_q16_blacklist_is_broadcast_anti(spark):
    """NOT IN over a non-null key must plan as a broadcast LEFT ANTI
    join (a null-aware anti join would be a BroadcastNestedLoop)."""
    from load_datawarehouse_spark.ops import tpch

    plan = _plan(tpch.q16_supplier_part_counts(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # brand/size predicates reach the part scan
    assert "Not(EqualTo(p_brand,Brand#3))" in plan


def test_q21_decorrelates_to_semi_joins(spark):
    """The EXISTS / NOT EXISTS pair must become per-order aggregates +
    semi joins — no correlated re-scan per row, no nested-loop."""
    from load_datawarehouse_spark.ops import tpch

    plan = _plan(tpch.q21_sole_late_supplier(spark, SF_DIR))
    assert plan.count("LeftSemi") == 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_corpus_side_narrow(spark):
    """The bloom candidate filter must run BEFORE the exact-verify
    broadcast join with no shuffle of the corpus gram stream: the only
    hash exchanges allowed are the distinct() dedups and the final
    groupBy — the join itself must be broadcast."""
    plan = _plan(llm.contamination_bloom_prefilter(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the pandas filter (bloom probe) sits below the broadcast join
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_sq_topk_coarse_scan_no_corpus_shuffle(spark):
    # the quantized coarse scan must reach the per-partition reducer
    # without an Exchange, same invariant as the float path; the
    # candidate list and query vectors re-enter via broadcast only
    plan = _plan(llm.similarity_sq_topk(spark, SF_DIR))
    assert "MapInPandas" in plan
    _, _, tail = plan.partition("MapInPandas")
    assert "Exchange hashpartitioning" not in tail.split("BroadcastExchange")[0]


def test_dsir_buckets_and_totals_broadcast(spark):
    # per-word weighting joins a 4096-row bucket table and a 1-row
    # totals table: both must broadcast; the word stream must never
    # hash-shuffle to meet them
    plan = _plan(llm.importance_resample_dsir(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # global top-100 must be TakeOrdered, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_intradoc_segments_doc_local(spark):
    # segment explode + dedup window + reconstruction must co-locate
    # per document: at most the doc_id-family shuffles, nothing global
    plan = _plan(llm.dedup_intradoc_segments(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_profile_is_single_scan(spark):
    # the whole column profile must come from ONE fact-table scan —
    # a per-column union would re-read the table once per column
    plan = _plan(relational.profile_column_stats(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # multi-distinct planned, not multiplied scans


def test_attribution_is_single_user_shuffle(spark):
    # union + running-last-value: one hash shuffle on user_id, no join
    plan = _plan(relational.attribution_last_touch(spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_coverage_broadcasts_vocab(spark):
    # the top-N vocab must broadcast; the corpus word stream must not
    # shuffle for the membership probe; top-N is TakeOrdered
    plan = _plan(llm.tokenizer_vocab_coverage(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_features_windows_share_partitioning(spark):
    # daily pre-agg + all three windows: the window stage must reuse
    # one user_id partitioning (no extra exchange per window spec)
    plan = _plan(relational.features_user_daily(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_basket_lift_is_order_local_pairs(spark):
    # pair generation must be the per-order equi self-join (bounded by
    # basket size), never a catalog-level product; item counts and the
    # 1-row total enter via broadcast
    plan = _plan(relational.QUERIES["basket_affinity_lift"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_markov_normalizer_broadcasts(spark):
    # the per-prev totals join must broadcast (bounded |event_types|)
    plan = _plan(relational.markov_event_transitions(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_histogram_equi_depth_fact_never_shuffles_rows(spark):
    # boundaries broadcast back; the only exchanges are the boundary
    # aggregate's own and the final 10-row bucket aggregate
    plan = _plan(relational.histogram_equi_depth(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_df_and_stats_broadcast(spark):
    plan = _plan(llm.search_bm25_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan          # df onto tf
    assert "TakeOrderedAndProject" in plan      # global top-10, no full sort
    assert "CartesianProduct" not in plan


def _agg_under_windows(plan: str) -> tuple[str, bool]:
    """Grouping keys of the aggregate nearest below the plan's first
    Window, and whether a Window also sits below that aggregate."""
    import re

    below = plan[plan.index("Window"):]
    agg = re.search(r"HashAggregate\(keys=\[([^\]]*)\]", below)
    return agg.group(1), "Window" in below[agg.end():]


def test_dq_skew_gini_windows_only_over_histogram(spark):
    # the sorted windows must consume the count-of-counts histogram
    # (post-aggregation), never the per-key or fact table: the
    # aggregate right under them is keyed on the per-key count `c`
    # alone, and no window sits lower, over per-key or orders rows
    import re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    plan = _plan(relational.dq_key_skew_gini(spark, SF_DIR))
    keys, window_lower = _agg_under_windows(plan)
    assert re.fullmatch(r"c#\d+L?", keys), plan
    assert not window_lower, plan
    assert "SortMergeJoin" not in plan
    # control: a window over the per-key rows sits on the o_custkey
    # aggregate, which the check above rejects
    t = load_tables(spark, SF_DIR, register_views=False)
    per_key = t["orders"].groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
    bad = per_key.select("c", F.sum("c").over(Window.orderBy("c")).alias("cum"))
    keys, _ = _agg_under_windows(_plan(bad))
    assert re.fullmatch(r"o_custkey#\d+L?", keys), keys


def test_chi_square_margins_broadcast(spark):
    plan = _plan(relational.stat_chi_square(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winsorized_single_pass_after_boundaries(spark):
    plan = _plan(relational.stats_winsorized(spark, SF_DIR))
    # phase-2 must not shuffle orders rows: its only exchanges belong to
    # the two tiny aggregates (boundary row + final 1-row result)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_partitioned_read_prunes_directories(spark, tmp_path):
    # the scan must carry the lang predicate as PartitionFilters (pruned
    # at file-listing time), not as a post-scan Filter
    t = load_tables(spark, SF_DIR, register_views=False)
    root = str(tmp_path / "docs_by_lang")
    t["documents"].write.partitionBy("lang").parquet(root)
    from pyspark.sql import functions as F

    df = spark.read.parquet(root).filter(F.col("lang").isin("en", "de"))
    plan = _plan(df)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:200]


def test_skyline_local_prune_before_single_partition(spark):
    # phase-1 frontier pruning must run as mapInPandas BEFORE the
    # coalesce(1); the single-partition final pass sees survivors only
    plan = _plan(relational.orders_pareto_skyline(spark, SF_DIR))
    assert plan.count("MapInPandas") == 2
    i_map = plan.find("MapInPandas")
    i_coal = plan.find("Coalesce")
    assert i_coal != -1 and i_coal < plan.rfind("MapInPandas")
    assert "SortMergeJoin" not in plan


def test_bitmap_distinct_no_join_two_level_agg(spark):
    # chunk OR + popcount-sum: two hash aggregations, no join, and the
    # first level must partial-aggregate map-side (partial_bit_or)
    plan = _plan(relational.agg_bitmap_distinct(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.lower().count("hashaggregate") >= 4  # partial+final x 2 levels


def test_bpe_counts_vocab_not_corpus(spark):
    # pair explosion must sit ABOVE the word-frequency aggregate: the
    # corpus collapses to distinct words before chars are enumerated
    plan = _plan(llm.bpe_first_merges(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    gen = plan.find("Generate")  # the explode of char pairs
    agg_below = plan[gen:].lower().count("hashaggregate")
    assert gen != -1 and agg_below >= 2, "explode must consume the word-freq aggregate"


def test_audio_energy_payload_stays_partition_local(spark):
    # windows are computed inside partitions; no exchange below the
    # mapInPandas kernel (the payload never shuffles)
    plan = _plan(
        __import__(
            "load_datawarehouse_spark.ops.multimodal", fromlist=["multimodal"]
        ).multimodal_audio_energy(spark, SF_DIR)
    )
    _, _, below = plan.partition("MapInPandas")
    assert "Exchange hashpartitioning" not in below


def test_curation_v3_single_composed_plan(spark):
    # the capstone must stay one lazy plan: exactly the dedup-key and
    # domain-key window shuffles plus the final accounting aggregate —
    # and no mid-pipeline materialization barrier
    plan = _plan(llm.pipeline_curation_v3(spark, SF_DIR))
    assert "Scan ExistingRDD" not in plan  # no collect/recreate seam
    assert plan.count("Window [") == 2
    # rank-limit pushdown: both row_number filters become partial
    # WindowGroupLimits BEFORE their exchange (top-k per partition
    # first — the dedup/cap shuffles move survivors only)
    assert plan.count("WindowGroupLimit") == 4
    assert "SortMergeJoin" not in plan and "Join" not in plan


def test_weighted_median_no_global_sort_of_rows(spark):
    # the level-histogram decomposition must aggregate BEFORE any sort:
    # the only Sort below the window belongs to the per-flag level
    # window, fed by the (flag, cents) aggregate — never raw lineitem
    plan = _plan(relational.agg_weighted_median(spark, SF_DIR))
    first_window = plan.find("Window")
    assert first_window != -1
    below = plan[first_window:]
    assert below.lower().count("hashaggregate") >= 2  # level collapse under it


def test_incremental_dedup_asymmetric_equi_join(spark):
    plan = _plan(llm.dedup_incremental_batch(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_wau_uses_bounded_expansion_not_window(spark):
    # the 7x contribution explode replaces any per-day window scan;
    # no Window operator should appear at all
    plan = _plan(relational.events_rolling_wau(spark, SF_DIR))
    assert "Generate explode" in plan or "Generate" in plan
    assert "Window" not in plan


def test_spearman_rank_lookup_broadcasts_levels(spark):
    plan = _plan(relational.stat_spearman_qty_price(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_radius_pairs_bucketed_is_equi_join(spark):
    # the 3x3 neighbor-cell expansion must plan as a hash equi join on
    # the cell key — never the quadratic cross/BNL join the oracle
    # deliberately runs to prove candidate completeness
    from load_datawarehouse_spark.ops import analytics

    plan = _plan(analytics.geo_radius_pairs_bucketed(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the candidate join itself must be a hash join keyed on the cell
    # (the only BNL joins are the 9-row neighbor-offset broadcasts)
    assert "BroadcastHashJoin [cla" in plan


def test_embedding_decontam_eval_broadcast_corpus_narrow(spark):
    # the eval set is broadcast; the corpus side computes |eval| dots +
    # max with NO shuffle of corpus rows before the per-vec aggregate
    from load_datawarehouse_spark.ops import llm as _llm

    plan = _plan(_llm.contamination_embedding_check(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_candidates_broadcast_semi_join(spark):
    # MG candidates are tiny: the exact recount must semi-join them
    # broadcast, never shuffle the word stream against them
    from load_datawarehouse_spark.ops import llm as _llm

    plan = _plan(_llm.heavy_hitters_misra_gries(spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    # round-11 (VERDICT r10 #1): the broadcast side must be the MERGED
    # <= m-row summary — the second-level MG cap (summed counters
    # through a top-m TakeOrdered) must sit below the broadcast;
    # without it the candidate set is <= m x partitions rows,
    # cluster-width-proportional at 100 TB
    assert "TakeOrderedAndProject" in plan


def test_funnel_regex_single_data_shuffle(spark):
    # encode -> one groupBy(user) shuffle -> regex projection; the
    # only other exchange is the final presentation sort
    from load_datawarehouse_spark.ops import analytics

    plan = _plan(analytics.events_funnel_regex(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 3  # partial/final agg + output sort


def test_balanced_sample_windows_only_boundary_bucket(spark):
    # the full-table path must carry no Window at all — ranking is
    # confined to the single boundary bucket's slice
    from load_datawarehouse_spark.ops import analytics

    plan = _plan(analytics.sample_balanced_classes(spark, SF_DIR))
    # every window in the plan must partition by (event_type, bkt) —
    # a window over event_type alone would funnel whole classes
    # through single tasks (the scale-killer this op avoids)
    for line in plan.splitlines():
        if "windowspecdefinition(event_type" in line:
            assert "bkt" in line, line
    assert "CartesianProduct" not in plan


def test_bom_rollup_is_closed_form_no_joins(spark):
    # r17: the synthetic edge relation is a pure function of the key,
    # so the walk folds per row — the plan must carry NO join at all
    # and exactly one data shuffle (the 3-group rollup aggregation;
    # the tiny orderBy range exchange on <= 3 rows is tolerated)
    from load_datawarehouse_spark.ops import analytics

    plan = _plan(analytics.part_bom_rollup(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_price_time_band_join_is_equi(spark):
    # the 2-D band conjunction must ride the compound grid-cell equi
    # key; only the 9-row offsets table may broadcast-nest
    from load_datawarehouse_spark.ops import analytics

    plan = _plan(analytics.orders_price_time_band_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin [pc" in plan


def test_ct_langid_profiles_broadcast(spark):
    # language profiles and the language list broadcast; the corpus
    # side never sort-merge joins
    from load_datawarehouse_spark.ops import llm as _llm

    plan = _plan(_llm.lang_id_ngram_profile(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_audio_decode_is_narrow(spark):
    # real WAV decode runs where the split is read: MapInPandas with
    # no shuffle below it (only the final order-by exchange above)
    from load_datawarehouse_spark.ops import multimodal

    plan = _plan(multimodal.multimodal_decode_audio_real(spark, SF_DIR))
    assert "MapInPandas" in plan
    _, _, below = plan.partition("MapInPandas")
    assert "Exchange hashpartitioning" not in below
    assert "Exchange rangepartitioning" not in below


def test_histogram_dedup_join_is_equi(spark):
    # the pair join rides the serialized bin:count histogram key —
    # hash/merge equi, never image x image
    from load_datawarehouse_spark.ops import multimodal

    plan = _plan(multimodal.multimodal_histogram_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sprt_ledger_no_joins(spark):
    # one data-sized shuffle (the day collapse); the cumulative-LLR
    # window runs over the bounded calendar, no join anywhere
    from load_datawarehouse_spark.ops import analytics

    plan = _plan(analytics.stats_sprt_monitoring(spark, SF_DIR))
    assert "Join" not in plan


def test_ct_doc_predictions_shared_leg_explode_budget(spark):
    # _ct_doc_predictions feeds BOTH lang_id_ngram_profile and
    # stats_classifier_kappa (verdict r5 ask): lock the corpus explode
    # count per consumer so a refactor can't silently re-derive the
    # 3.2 s trigram pipeline extra times. The CT leg inherently
    # explodes TWICE (lang-profile branch + doc-profile branch — the
    # measured-cheaper shape; checkpointing the explode is a loss on
    # natural text). kappa's slim `paired` frame feeds 3 aggregate
    # consumers, hence 3 CT derivations (A/B-measured a wash vs a
    # lineage cut at sf0.1, so the lazy shape stays).
    from load_datawarehouse_spark.ops import llm as _llm

    plan = _plan(_llm.lang_id_ngram_profile(spark, SF_DIR))
    assert plan.count("Generate explode") == 2
    assert "SortMergeJoin" not in plan  # profile side stays broadcast

    plan = _plan(_llm.QUERIES["stats_classifier_kappa"](spark, SF_DIR))
    assert plan.count("Generate explode") <= 6
    # (kappa's markers-vs-CT pairing is a doc x doc equi join, where a
    # sort-merge join is the correct plan — no SMJ lock there)


def test_pivot_multi_agg_single_scan_no_join(spark):
    # multi-aggregate pivot: all cells come off ONE lineitem scan and
    # share the groupBy shuffle — a per-cell self-join would scan and
    # shuffle once per measure
    from load_datawarehouse_spark.ops import relational as _rel

    plan = _plan(_rel.QUERIES["pivot_multi_agg"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_join_asof_tolerance_not_quadratic(spark):
    # the 30-day staleness as-of must ride the window/union as-of
    # pattern — a raw range-predicate join would plan BNLJ/cartesian
    from load_datawarehouse_spark.ops import relational as _rel

    plan = _plan(_rel.QUERIES["join_asof_tolerance"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_agg_grouping_id_is_expand_not_union(spark):
    # ROLLUP subtotals come from one Expand over one scan — not a
    # union of per-level aggregations re-reading the table
    from load_datawarehouse_spark.ops import relational as _rel

    plan = _plan(_rel.QUERIES["agg_grouping_id"](spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1


def test_windows_cohort_single_scan_no_join(spark):
    # the per-key ordered-window family: one scan, the window shuffle,
    # no joins — a self-join rolling formulation would be the regression
    from load_datawarehouse_spark.ops import windows as _win

    for name in ("window_moving_median", "window_ema_fold"):
        plan = _plan(_win.QUERIES[name](spark, SF_DIR))
        assert plan.count("FileScan parquet") == 1, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_cc_edge_build_is_group_pair_tiled(spark):
    # dedup_connected_components needs the EXACT within-label edge set
    # (no LSH blocking allowed), so its pair scan must be tiled: the
    # self-join keyed on the full (label, g1, g2) group-pair triple,
    # never label alone — label-only keying caps parallelism at the
    # label count and AQE then coalesces it further (the sf1 plan ran
    # the whole 20M-pair scan on 2 tasks before round 7's fix)
    import re

    from load_datawarehouse_spark.session import load_tables as _lt

    emb = llm._with_norm(_lt(spark, SF_DIR, register_views=False)["embeddings"])
    plan = _plan(llm._cc_edges(spark, emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    join_lines = [ln for ln in plan.splitlines() if "HashJoin" in ln or "SortMergeJoin" in ln]
    assert any(
        re.search(r"Join \[label#\d+, g1#\d+, g2#\d+\]", ln) for ln in join_lines
    ), "edge self-join is not keyed on (label, g1, g2):\n" + "\n".join(join_lines)


def test_cc_edge_tiling_is_exact(spark):
    # the G x G group-pair tiling is a ROUTING change only: the edge
    # set must equal the plain within-label self-join's bit for bit
    # (every unordered pair lands in exactly one tile — no drops, no
    # duplicates). This guards the exactness contract the plan lock
    # above can't see.
    from pyspark.sql import functions as F

    from load_datawarehouse_spark.session import load_tables as _lt

    emb = llm._with_norm(_lt(spark, SF_DIR, register_views=False)["embeddings"])
    tiled = sorted(llm._cc_edges(spark, emb).collect())
    plain = (
        emb.select(F.col("vec_id").alias("v1"), "label",
                   F.col("embedding").alias("e1"), F.col("nrm").alias("n1"))
        .join(
            emb.select(F.col("vec_id").alias("v2"), "label",
                       F.col("embedding").alias("e2"), F.col("nrm").alias("n2")),
            "label",
        )
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2",
                (llm._dec_dot("e1", "e2") / (F.col("n1") * F.col("n2"))).alias("cos"))
        .filter(F.col("cos") >= 0.3)
        .select("v1", "v2")
    )
    assert tiled == sorted(plain.collect())


def test_kmeans_mean_update_join_not_broadcast(spark):
    # the Lloyd mean-update joins the exploded element stream with the
    # per-vector assignment frame — O(corpus) rows on BOTH sides. Two
    # locked properties, with auto-broadcast off (the 100-TB reality
    # for a per-vector frame):
    #  1. round-8 finding: no broadcast of either side — the plan must
    #     be a co-partitioned sort-merge/shuffled-hash join;
    #  2. round-9 finding: no ENSURE_REQUIREMENTS re-exchange of the
    #     element stream on vec_id — both sides must consume the ONE
    #     visible repartition exchange (persisting elems hid its
    #     partitioning under AQE and re-shuffled + re-sorted both
    #     O(corpus x dim) sides every iteration, doubling SCALEVERIFY
    #     kmeans time). The only ENSURE exchange allowed is the final
    #     k x dim (cluster, pos) aggregate.
    import re

    from pyspark.sql import functions as F

    from load_datawarehouse_spark.session import load_tables as _lt

    emb = _lt(spark, SF_DIR, register_views=False)["embeddings"].select(
        "vec_id", "embedding"
    )
    # the REAL derivation shape from kmeans_lloyd: visible repartition,
    # no persist; assignment out of a groupBy("vec_id") over the same
    # exchange so it arrives hash-partitioned on the join key
    elems = emb.repartition(8, "vec_id").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    assign = elems.groupBy("vec_id").agg(
        (F.sum("x") > 0).cast("long").alias("cluster")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(llm._km_mean_update(elems, assign))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan, plan
    ensure_on_vecid = [
        ln
        for ln in plan.splitlines()
        if re.search(r"Exchange hashpartitioning\(vec_id.*ENSURE_REQUIREMENTS", ln)
    ]
    assert not ensure_on_vecid, plan
    # exactly: 2 visible repartitions (AQE-reused at runtime) + the
    # final (cluster, pos) aggregate exchange — nothing else
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan


def test_pca_matvec_join_co_partitioned(spark):
    # round-11 (VERDICT r10 #2, the kmeans template applied to PCA):
    # the matvec s-join (element stream x per-vec dots) is O(corpus)
    # on both sides. The element stream's persist() is gone — a cached
    # frame reports UnknownPartitioning under AQE, which re-exchanged
    # the per-vec_id partial aggregates every iteration. Locked:
    #  1. no broadcast of either corpus-proportional side (the only
    #     legal broadcast in the real op is the 64-row vector, built
    #     OUTSIDE this shape);
    #  2. no ENSURE_REQUIREMENTS re-exchange on vec_id — both sides
    #     must consume the ONE visible repartition exchange.
    import re

    from pyspark.sql import functions as F

    from load_datawarehouse_spark.session import load_tables as _lt

    emb = _lt(spark, SF_DIR, register_views=False)["embeddings"]
    # the REAL derivation shape from both PCA ops: visible repartition,
    # no persist, the 64-row vector force-broadcast (bcast_bounded) so
    # the pos join PRESERVES the vec_id partitioning — exactly as the
    # ops build it
    from load_datawarehouse_spark.ops._util import bcast_bounded

    elems = emb.repartition(8, "vec_id").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    vdf = bcast_bounded(
        spark.range(64).select(
            F.col("id").cast("int").alias("pos"), F.lit(0.125).alias("v")
        ),
        "power-iteration vector: dim rows",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(llm._pca_matvec(elems, vdf))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    ensure_on_vecid = [
        ln
        for ln in plan.splitlines()
        if re.search(r"Exchange hashpartitioning\(vec_id.*ENSURE_REQUIREMENTS", ln)
    ]
    assert not ensure_on_vecid, plan
    assert "BroadcastHashJoin [vec_id" not in plan, plan


def _plan_no_autobroadcast(spark, fn):
    # with auto-broadcast OFF, any BroadcastExchange left in the plan
    # is a FORCED hint — the assertions below are exact hint censuses
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return _plan(fn(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_minhash_estimate_no_forced_corpus_broadcast(spark):
    # round-9 verdict: this diagnostic force-broadcast FOUR O(corpus)
    # frames (the per-doc signature table twice, the candidate-pair
    # frame, the per-doc shingle counts). All hints are gone — every
    # join is an equi join on d1/d2, AQE may broadcast at runtime only
    # when a side is actually small.
    plan = _plan_no_autobroadcast(spark, llm.dedup_minhash_estimate_quality)
    assert "BroadcastExchange" not in plan, plan


def test_dq_expectations_fk_check_not_forced_broadcast(spark):
    # the FK-orphan rule joined orders against a FORCED broadcast of
    # the full customer table — sf-proportional, fatal at the 100-TB
    # design point. Now a bare equi join on the pruned key column.
    plan = _plan_no_autobroadcast(spark, relational.dq_expectations_report)
    assert "BroadcastExchange" not in plan, plan


def test_basket_lift_item_counts_not_forced_broadcast(spark):
    # per-part item counts are catalog-proportional; the only frame
    # allowed to keep a forced broadcast is the 1-row n_orders
    # aggregate
    plan = _plan_no_autobroadcast(spark, relational.basket_affinity_lift)
    assert plan.count("BroadcastExchange") == 1, plan


def test_decontaminate_flagged_set_not_forced_broadcast(spark):
    # the flagged-doc set is contamination-fraction-proportional
    # (unbounded on adversarial corpora) — no hint; the only forced
    # broadcast left is the fixed-size eval-suite gram set
    plan = _plan_no_autobroadcast(spark, llm.contamination_decontaminate_apply)
    assert plan.count("BroadcastExchange") == 1, plan


def test_scan_spread_sites_round_robin(spark):
    # the opt-in scan-spread must actually materialize as an exchange
    # at test scale (single-file scans) for the flagship winner sites.
    # If the repartition silently disappears (e.g. a refactor drops
    # the helper), the narrow fan-out stages re-serialize onto one
    # task and the measured 2-8x sf1 wins regress. Sites whose
    # downstream aggregations are NOT keyed on a scan column stay
    # round-robin; r18 keyed the doc-fanout sites on doc_id so the
    # spread exchange doubles as the shuffle of every doc-keyed
    # aggregation/window above it (see the keyed test below).
    from load_datawarehouse_spark.ops import llm, multimodal as mm

    for fn in (
        llm.QUERIES["similarity_cosine_topk"],
        mm.QUERIES["multimodal_decode_flac_real"],
    ):
        plan = _plan(fn(spark, SF_DIR))
        assert "RoundRobinPartitioning" in plan, plan


def test_doc_keyed_spread_elides_downstream_exchanges(spark):
    # r18: the doc_id-KEYED scan spread must (a) materialize as a hash
    # exchange on doc_id and (b) be the ONLY exchange under the
    # doc-keyed aggregations it feeds — for lang_id_ngram_profile the
    # doc-profile leg (groupBy(doc_id, gram), top-20 window, scoring
    # aggregation, best-language window) plans with zero exchanges of
    # the explode-sized stream: only the spread itself, the
    # language-profile aggregation (its own (lang, gram) key) and the
    # final confusion rollup may shuffle.
    plan = _plan(llm.QUERIES["lang_id_ngram_profile"](spark, SF_DIR))
    assert "RoundRobinPartitioning" not in plan, plan
    import re

    # one keyed spread per independent profile leg (the double explode
    # is the documented measured-fast shape, so the subtree appears
    # once per leg) — all of them REPARTITION_BY_NUM, i.e. the spread
    spreads = re.findall(r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_NUM", plan)
    assert len(spreads) >= 1, plan
    # The exchange-line patterns below were probed on Spark 4.1.2. Each
    # negative pattern has a positive control in the same line format
    # that must match another ENSURE_REQUIREMENTS hash exchange of the
    # same plan, so a change of the EXPLAIN format fails here instead
    # of passing the negative check vacuously.
    other_key = r"Exchange hashpartitioning\((?!doc_id#)\w+#\d+L?[,)].*ENSURE_REQUIREMENTS"
    # no ENSURE_REQUIREMENTS re-shuffle on a doc_id-prefixed key may
    # remain: the spread partitioning must satisfy every doc-keyed op
    assert not re.search(
        r"Exchange hashpartitioning\(doc_id#\d+L?[,)].*ENSURE_REQUIREMENTS", plan
    ), plan
    assert re.search(other_key, plan), plan  # the (lang, gram) profile shuffle
    # simhash's 60-vote-column exchange is gone the same way: its only
    # hash exchanges are the spread + the banding self-join bucket key
    plan_sh = _plan(llm.QUERIES["dedup_simhash_neardup"](spark, SF_DIR))
    assert not re.search(
        r"Exchange hashpartitioning\(doc_id#\d+L?[,)].*ENSURE_REQUIREMENTS", plan_sh
    ), plan_sh
    assert re.search(other_key, plan_sh), plan_sh  # the (d1, d2, hamming) dedup shuffle


def test_bcast_measured_hints_only_under_threshold(spark):
    """VERDICT r14 #1: the measured-broadcast gate must force the hint
    when the measured count is at-or-under the ceiling and return the
    frame BARE above it (AQE's runtime size check then owns the
    decision) — both branches asserted on the optimized logical plan,
    where a forced hint survives as ``strategy=broadcast`` regardless
    of what AQE later picks physically."""
    from pyspark.sql import functions as F

    from load_datawarehouse_spark.ops._util import bcast_measured

    small = spark.range(10).withColumnRenamed("id", "gram")
    big = spark.range(1000).withColumn("gram", F.col("id") % 10).drop("id")

    def opt(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    hinted = big.join(bcast_measured(small, 10, "test frame"), "gram")
    assert "strategy=broadcast" in opt(hinted)
    bare = big.join(bcast_measured(small, 9, "test frame"), "gram")
    assert "strategy=broadcast" not in opt(bare)


def test_bcast_measured_memo_keyed_by_file_identity(spark, tmp_path):
    """The per-corpus count memo must be (a) actually consulted — a
    second call with the same tag + files never re-counts — and (b)
    invalidated by an IN-PLACE regeneration that keeps file names but
    changes contents (ADVICE r14: the name-only key stale-hit there;
    the key now carries size + mtime via ``input_files_key``)."""
    from load_datawarehouse_spark.ops import _util

    p = str(tmp_path / "t.parquet")
    spark.range(10).withColumnRenamed("id", "gram").write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    _util.bcast_measured(df, 100, "memo probe", tag="memo-probe")
    keys = [k for k in _util._MEASURED_MEMO if k[:2] == ("rows", "memo-probe")]
    assert len(keys) == 1
    # (a) memo consulted: poison the cached count over the ceiling —
    # the next call must go bare WITHOUT re-counting the real 10 rows
    _util._MEASURED_MEMO[keys[0]] = 10**9
    bare = spark.range(100).withColumnRenamed("id", "gram").join(
        _util.bcast_measured(df, 100, "memo probe", tag="memo-probe"), "gram"
    )
    assert "strategy=broadcast" not in bare._jdf.queryExecution().optimizedPlan().toString()
    # (b) in-place regeneration with identical names but different
    # contents -> new key -> fresh count -> hint returns
    import time

    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    spark.range(20).withColumnRenamed("id", "gram").write.mode("overwrite").parquet(p)
    df2 = spark.read.parquet(p)
    hinted = spark.range(100).withColumnRenamed("id", "gram").join(
        _util.bcast_measured(df2, 100, "memo probe", tag="memo-probe"), "gram"
    )
    assert "strategy=broadcast" in hinted._jdf.queryExecution().optimizedPlan().toString()


def test_input_files_key_unquotes_percent_encoded_paths(spark, tmp_path):
    """ADVICE r15 #2: Spark reports input files as percent-encoded
    URIs, so a path with a space must unquote before os.stat — the
    name-only (uri, -1, -1) fallback silently reintroduces the
    stale-memo-on-in-place-regeneration bug for any such path."""
    from load_datawarehouse_spark.ops._util import input_files_key

    d = tmp_path / "with space"
    d.mkdir()
    p = str(d / "t.parquet")
    spark.range(5).write.parquet(p)
    key = input_files_key(spark.read.parquet(p))
    assert key, "no input files reported"
    assert any("%20" in uri for uri, _, _ in key), (
        "fixture did not exercise a percent-encoded URI"
    )
    assert all(size >= 0 and mtime >= 0 for _, size, mtime in key), (
        "percent-encoded path fell back to the name-only entry"
    )


def test_eval_gram_sites_routed_through_measured_gate():
    """All four eval-gram probe sites must use ``_bcast_eval_grams``
    (the measured gate) — a re-introduced ``bcast_bounded`` with a
    'fixed by design' claim on these frames is the exact bug VERDICT
    r14 #1 closed."""
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parents[1]
        / "load_datawarehouse_spark"
        / "ops"
        / "llm.py"
    ).read_text()
    assert 'bcast_bounded(ev, "eval-suite grams' not in src
    assert 'bcast_bounded(eval_grams, "eval-suite grams' not in src
    # 4 call sites + the helper's own definition line
    assert src.count("_bcast_eval_grams(") == 5


def test_eval_gram_sites_derive_identical_gram_sets(spark, monkeypatch):
    """ADVICE r15 #3: a memo tag shared across probe sites is only
    sound while those sites derive the IDENTICAL distinct eval-gram
    frame — a count measured at one site drives the broadcast decision
    at every other. Writing this test found the invariant was already
    FALSE: the bloom cascade's exact-verify leg probes ``_BLOOM_N``
    (6-gram) frames, disjoint from the three ``_CONTAM_N`` (8-gram)
    sites, yet counted under the shared 'eval-grams-8' tag. The tag is
    now keyed by gram order; enforce both halves executably: spy on
    ``_bcast_eval_grams``, build all four plans, assert the three
    8-gram ``ev`` frames collect to the same non-empty gram set and
    the 6-gram frame is disjoint from it (same hash, different n —
    any overlap would mean the derivations drifted together)."""
    captured = []
    real = llm._bcast_eval_grams
    monkeypatch.setattr(
        llm,
        "_bcast_eval_grams",
        lambda ev, docs, n=llm._CONTAM_N: captured.append((n, ev)) or real(ev, docs, n),
    )
    for op in (
        llm.contamination_ngram_check,
        llm.pipeline_training_prep_v2,
        llm.contamination_bloom_prefilter,
        llm.contamination_decontaminate_apply,
    ):
        op(spark, SF_DIR)  # plan build invokes the gate; no collect needed
    assert [n for n, _ in captured] == [
        llm._CONTAM_N, llm._CONTAM_N, llm._BLOOM_N, llm._CONTAM_N
    ]
    sets = {
        i: frozenset((r["g1"], r["g2"]) for r in ev.collect())
        for i, (_, ev) in enumerate(captured)
    }
    assert sets[0], "eval-gram set empty at test scale — invariant vacuous"
    assert sets[1] == sets[0] and sets[3] == sets[0]
    assert sets[2] and not (sets[2] & sets[0])


def test_pair_budget_explicit_negative_rejected(spark, monkeypatch):
    """An explicitly set negative budget must raise the 'must be >= 0'
    error naming the variable: a negative number is truthy, so
    without validation it would silently reject every nonzero
    workload instead of raising. 0 disables, a workload equal to the
    budget passes, one above it refuses."""
    import pytest

    from load_datawarehouse_spark.errors import (
        WarehouseError,
        WarehousePairBudgetExceeded,
    )
    from load_datawarehouse_spark.ops._util import require_pair_budget

    probe = spark.range(1)  # in-memory: no file identity, so no memo

    def gate():
        require_pair_budget("probe", probe, lambda: 5, what="probe",
                            levers="raise $SPARK_GRAFT_PAIR_BUDGET")

    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "-1")
    with pytest.raises(WarehouseError, match="SPARK_GRAFT_PAIR_BUDGET.*negative"):
        gate()
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "0")
    gate()  # 0 disables
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "5")
    gate()  # at-budget passes
    monkeypatch.setenv("SPARK_GRAFT_PAIR_BUDGET", "4")
    with pytest.raises(WarehousePairBudgetExceeded):
        gate()


def test_eval_gram_gate_goes_bare_over_ceiling(spark, monkeypatch):
    """Production-site wiring of the measured gate: with the ceiling
    monkeypatched below the corpus's measured gram count, the
    contamination probe's eval-gram join must carry NO broadcast hint
    (AQE owns it); at the real ceiling the hint is present at test
    scale. Complements the synthetic bcast_measured test by driving
    the actual op."""
    from load_datawarehouse_spark.ops import _util

    def opt(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    # clear the memo so each branch re-evaluates under its ceiling
    _util._MEASURED_MEMO.clear()
    monkeypatch.setattr(llm, "_EVAL_GRAM_BCAST_MAX", 0)
    bare = opt(llm.contamination_ngram_check(spark, SF_DIR))
    assert "strategy=broadcast" not in bare

    _util._MEASURED_MEMO.clear()
    monkeypatch.setattr(llm, "_EVAL_GRAM_BCAST_MAX", 1_000_000)
    hinted = opt(llm.contamination_ngram_check(spark, SF_DIR))
    assert "strategy=broadcast" in hinted


#: Ops whose every lineage cut was deleted after a paired cut / no-cut
#: A/B at sf0.1 and sf1, and that run no measured gate. A local cut
#: runs its upstream jobs while the plan is built; with none left, the
#: whole query runs at its terminal action.
_UNCUT_OPS = (
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
)


def test_uncut_ops_build_without_spark_jobs(spark):
    import __spark_entry__

    queries = __spark_entry__.queries()
    sc = spark.sparkContext
    for name in _UNCUT_OPS:
        group = f"build-{name}"
        sc.setJobGroup(group, group)
        try:
            queries[name](spark, SF_DIR)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
