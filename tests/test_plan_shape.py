"""Physical-plan regression tests: the plans the engine relies on at scale
must not silently degrade (lost pushdown, broadcast -> shuffle join,
Python creeping into the row path).

These tests pin the plan shape of named queries.  The registry-wide
invariants (no CartesianProduct, no row-at-a-time or scalar pandas
Python, MapInPandas only where allowlisted) are checked per query by
``tests/test_registry_sanity.py::test_query_runs_with_sane_schema``,
on the frame it already builds."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def plan_of(spark, sf_dir, name: str) -> str:
    df = entry_mod.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_project_pushes_down_and_prunes(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_project")
    assert "PushedFilters: [" in plan and "IsNotNull" in plan
    # column pruning: the scan must not read all 11 lineitem columns
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_returnflag" not in scan_line and "l_tax" not in scan_line


def test_star_joins_broadcast_dimensions(spark, sf_dir):
    for name in ("join_inner_broadcast", "join_q5_local_supplier"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_band_join_is_broadcast_nested_loop(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_range_band")
    assert "BroadcastNestedLoopJoin" in plan


def test_semi_anti_join_plans(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "join_semi")
    assert "LeftAnti" in plan_of(spark, sf_dir, "join_anti")


def test_global_topk_avoids_full_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_transform_pipeline_has_no_python_and_one_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "etl_transform_flat")
    assert "Exchange" not in plan  # pure map-side pipeline
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan

    from concurrent_etl_go_spark.plans import flagship

    flagship_plan = (
        flagship(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    # exactly the one lane-routing shuffle (the reference's channel fan-in)
    assert flagship_plan.count("Exchange") - flagship_plan.count(
        "BroadcastExchange"
    ) == 1


def test_agg_has_partial_aggregation(spark, sf_dir):
    """Map-side combine: HashAggregate appears both below and above the
    exchange."""
    plan = plan_of(spark, sf_dir, "agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_hash_split_is_shuffle_free_pruned_scan(spark, sf_dir):
    """The dataset-split ops must be pure scans: no exchange at all, and
    the parquet read pruned to the columns actually used."""
    plan = plan_of(spark, sf_dir, "split_train_val_test")
    assert "Exchange" not in plan
    assert "doc_id:bigint" in plan and "text" not in plan.split("ReadSchema:")[1].splitlines()[0]
    sample_plan = plan_of(spark, sf_dir, "sample_stratified_hash")
    assert "Exchange" not in sample_plan


def test_retention_single_scan_two_logical_shuffles(spark, sf_dir):
    """Retention reads events ONCE (window cohort, no self-join) and keeps
    the shuffle count to the window + count-distinct phases."""
    plan = plan_of(spark, sf_dir, "agg_retention_cohort")
    assert plan.count("ReadSchema") == 1
    assert "Join" not in plan


def test_q18_semi_join_prunes_before_star_join(spark, sf_dir):
    """Q18: the HAVING subquery must reach the plan as a LeftSemi join
    and the final top-20 must be TakeOrderedAndProject, not a full sort."""
    plan = plan_of(spark, sf_dir, "join_q18_large_orders")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_stays_equi_join_with_residual_filter(spark, sf_dir):
    """Q19's OR-of-ANDs must NOT degrade the join: the part-key equi-join
    survives (broadcast hash join, no cartesian/BNLJ) with the mixed-side
    disjunction as a post-join filter."""
    plan = plan_of(spark, sf_dir, "filter_q19_disjunctive")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_user_shuffle(spark, sf_dir):
    """Sessionization: both windows and the rollup share the user-id
    partitioning — exactly ONE data shuffle, events read once, no join."""
    plan = plan_of(spark, sf_dir, "sessionize_events")
    assert plan.count("ReadSchema") == 1
    assert "Join" not in plan
    n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_shuffles == 1, f"expected 1 shuffle, plan has {n_shuffles}"


def test_knn_join_broadcasts_queries_and_prunes_per_partition(spark, sf_dir):
    """k-NN join: the query set broadcasts (corpus never shuffles whole),
    and the two-phase top-k means the full scored corpus never feeds the
    final per-query window directly (a partial-window filter sits below)."""
    plan = plan_of(spark, sf_dir, "similarity_knn_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # two window phases: partial (query_id, partition) then final (query_id)
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2


def test_q6_predicates_push_to_scan(spark, sf_dir):
    """Q6: all three filters must reach the parquet scan and the
    projection must prune lineitem to the columns the agg needs."""
    plan = plan_of(spark, sf_dir, "agg_q6_forecast")
    assert "PushedFilters: [" in plan
    for pushed in ("l_shipdate", "l_discount", "l_quantity"):
        assert pushed in plan.split("PushedFilters")[1][:400], pushed
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_returnflag" not in scan_line and "l_partkey" not in scan_line


def test_q4_exists_is_semi_join(spark, sf_dir):
    """Q4's EXISTS must stay a semi join (no row expansion before agg)."""
    plan = plan_of(spark, sf_dir, "join_q4_priority")
    assert "LeftSemi" in plan


def test_q21_quantifiers_stay_semi_anti(spark, sf_dir):
    """Q21: EXISTS(other supplier) -> LeftSemi, NOT EXISTS(other late
    supplier) -> LeftAnti; the top-10 is TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "join_q21_late_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan


def test_q8_dimensions_all_broadcast(spark, sf_dir):
    """Q8's 8-relation join: every dimension side must broadcast — the
    only allowed shuffle joins are between the two fact tables."""
    plan = plan_of(spark, sf_dir, "agg_q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """Q22: NOT EXISTS -> LeftAnti on the date-pruned orders side; the
    scalar average arrives via a broadcast, never a shuffle."""
    plan = plan_of(spark, sf_dir, "agg_q22_idle_customers")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_salted_agg_is_two_phase(spark, sf_dir):
    """agg_salted_skew: two aggregation phases, each with map-side
    partial + final HashAggregate, and the salt visible in the first
    phase's grouping — the reducer-side hot-key fan-out must not be
    collapsed away by the optimizer."""
    plan = plan_of(spark, sf_dir, "agg_salted_skew")
    assert plan.count("HashAggregate") >= 4
    assert "_salt" in plan


def test_salted_join_runs_on_key_and_salt(spark, sf_dir):
    """join_salted_skew: the join condition must include the salt column
    (spreading a hot key over n_salts reducers); no cartesian fallback."""
    plan = plan_of(spark, sf_dir, "join_salted_skew")
    assert "__salt" in plan
    assert "CartesianProduct" not in plan


def test_profile_is_single_scan(spark, sf_dir):
    """profile_table_stats: one scan computes all 4x6 column aggregates —
    profiling cost must not be columns x scans."""
    plan = plan_of(spark, sf_dir, "profile_table_stats")
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_zscore_windows_over_rollup_not_raw_events(spark, sf_dir):
    """agg_daily_zscore: the window must run over the (type, day) rollup
    (HashAggregate below the Window), reading events exactly once."""
    plan = plan_of(spark, sf_dir, "agg_daily_zscore")
    assert plan.count("FileScan") == 1
    assert "Window" in plan
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    # executedPlan prints top-down: the Window node appears before (above)
    # the aggregate that feeds it
    assert -1 < win_pos < plan.rfind("HashAggregate")
    assert agg_pos != -1


def test_embedding_dedup_survivors_via_anti_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    assert "LeftAnti" in plan


def test_boilerplate_ngrams_no_python_in_row_path(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_boilerplate_ngrams")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    # the shingle explode recomputes per consumer BY DESIGN (measured
    # cheaper than caching the corpus-scale exploded relation — see the
    # query docstring); the plan must show the two map-side scan
    # pipelines and no cache
    assert plan.count("FileScan") == 2
    assert "InMemoryTableScan" not in plan


def test_pit_join_broadcasts_dimension_history(spark, sf_dir):
    """join_pit_scd2: the SCD2 history side broadcasts (equi-join on the
    key with the validity interval as residual) — never a nested-loop
    range join."""
    plan = plan_of(spark, sf_dir, "join_pit_scd2")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gap_fill_spine_is_broadcast_nested_loop(spark, sf_dir):
    """window_gap_fill: the tiny types x days spine builds via broadcast
    nested loop, never a shuffled cartesian."""
    plan = plan_of(spark, sf_dir, "window_gap_fill")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_stickiness_dedups_to_day_grain_before_expansion(spark, sf_dir):
    """agg_stickiness: the 7x day-range expansion must run over the
    deduped (day, user) relation — aggregates below the range join."""
    plan = plan_of(spark, sf_dir, "agg_stickiness")
    assert "CartesianProduct" not in plan
    # the day-range join is a broadcast nested loop over the tiny grid
    assert "BroadcastNestedLoopJoin" in plan


def test_bm25_prunes_postings_and_broadcasts_stats(spark, sf_dir):
    """The term IN (...) filter must sit under the tf aggregation (postings
    pruned before any exchange) and the tiny df/avgdl stats must broadcast."""
    plan = plan_of(spark, sf_dir, "text_bm25_search")
    assert "BroadcastHashJoin" in plan
    assert plan.count("term#") > 0 and "hash" in plan  # the IN-list filter
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan


def test_heavy_hitters_partial_aggregates_and_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_heavy_hitters")
    # map-side combine: a partial_count before the exchange, and the
    # global top-k must be TakeOrdered, not a full sort
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_zorder_profile_is_pure_expression_single_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "layout_zorder")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "CartesianProduct"):
        assert marker not in plan
    assert "partial_count" in plan  # map-side combined profile


def test_epoch_shuffle_is_one_exchange_plus_partition_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dataset_epoch_shuffle")
    # one hash exchange on the shard key; the row_number sort stays inside
    # the partition (no global Sort/Exchange pair beyond it)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_incremental_dedup_anti_joins_the_batch(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "corpus_dedup_incremental")
    assert "LeftAnti" in plan


def test_unigram_nll_broadcasts_the_dictionary(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_unigram_nll")
    assert "BroadcastHashJoin" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan


def test_ohlc_windows_and_agg_share_one_exchange(spark, sf_dir):
    """Both row-number windows and the final groupBy run on the same
    (event_type, bar) partitioning — exactly one hash exchange."""
    plan = plan_of(spark, sf_dir, "agg_resample_ohlc")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_constraint_check_scans_each_table_at_most_twice(spark, sf_dir):
    """Row-level checks share one lineitem scan; the FK anti join is the
    only other lineitem read (a union re-using agg branches would scan
    once per constraint)."""
    import re

    plan = plan_of(spark, sf_dir, "profile_constraint_check")
    assert len(re.findall(r"FileScan parquet.*lineitem", plan)) == 2
    assert len(re.findall(r"FileScan parquet.*orders", plan)) == 2


def test_attribution_is_equi_join_not_range_join(spark, sf_dir):
    """The lookback window must ride as a residual predicate on the
    user_id hash join — a BroadcastNestedLoopJoin here would be the
    range-join blowup the design avoids."""
    plan = plan_of(spark, sf_dir, "join_attribution_last_touch")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_window_funnel_stage_joins_are_hash_joins(spark, sf_dir):
    """Every events-to-stage join must be a user_id hash join with the
    time conditions as residual predicates; the only nested-loop joins
    allowed are the two single-row count crossJoins at the very top."""
    plan = plan_of(spark, sf_dir, "agg_window_funnel")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 1-row count combines
    assert plan.count("BroadcastHashJoin") >= 3  # the chained stage joins


def test_url_normalize_is_pure_map(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "scalar_url_normalize")
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_theta_retention_joins_week_sketches_not_raw_events(spark, sf_dir):
    """The retention join must be over the tiny weekly-sketch frames —
    exactly two aggregations of raw events feed it (one per join side of
    the same weekly rollup), never an events-to-events join."""
    import re

    plan = plan_of(spark, sf_dir, "agg_theta_retention")
    assert len(re.findall(r"FileScan parquet.*events", plan)) <= 2


def test_scalable_ntile_has_no_single_partition_stage(spark, sf_dir):
    """The production twin of window_ntile_cume must never funnel the
    table through one task: its window partitions on the deterministic
    range-bucket column (literal quantile boundaries), and there is no
    SinglePartition exchange anywhere (the exact twin has exactly that —
    a global empty-partitionBy window)."""
    plan = plan_of(spark, sf_dir, "window_ntile_cume_scalable")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_pid" in plan  # bucketed window exchange
    exact = plan_of(spark, sf_dir, "window_ntile_cume")
    assert "SinglePartition" in exact  # the twin relationship is real


def test_scalable_power_users_is_selection_not_sorting(spark, sf_dir):
    """The production twin of window_power_users replaces the global
    ORDER BY window with histogram-threshold selection: no window
    operator at all, and the only global stage is the bounded tie-break
    top-k (a LIMIT of at most the boundary-value tie count)."""
    plan = plan_of(spark, sf_dir, "window_power_users_scalable")
    assert "Window" not in plan
    assert "partial_count" in plan  # per-user agg map-side combines


def test_market_basket_has_no_self_join(spark, sf_dir):
    """Pairs come from the in-row expansion of each order's sorted
    basket array — never a lineitem self-join. One hash join (the year
    window), and the basket aggregation keys on the same order key the
    join used."""
    plan = plan_of(spark, sf_dir, "agg_market_basket")
    assert plan.count("Join") <= 1
    assert "collect_set" in plan
    # the pair explosion happens after aggregation, in-row
    assert "Generate explode" in plan


def test_minhash_candidates_band_table_is_cached(spark, sf_dir):
    """The banded self-join must read the persisted band table on both
    sides — re-deriving the signature projection per side re-runs the
    md5/permutation pass 8x (measured ~10x slower at sf0.1)."""
    from concurrent_etl_go_spark.operators.registry import release_caches

    plan = plan_of(spark, sf_dir, "dedup_minhash_candidates")
    release_caches()
    assert plan.count("InMemoryTableScan") >= 2


def test_top_movers_broadcasts_part_and_partitions_by_brand(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "window_top_movers")
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan  # LAG partitions by brand
    assert "TakeOrderedAndProject" in plan  # top-N, not a global sort


def test_customer_rfm_is_one_aggregation_no_window(spark, sf_dir):
    """Fixed-threshold scoring keeps RFM to one hash agg on o_custkey —
    no window, no global rank, no join."""
    plan = plan_of(spark, sf_dir, "agg_customer_rfm")
    assert "Window" not in plan and "Join" not in plan
    assert "partial_count" in plan  # map-side combine on the agg


def test_norm_histogram_is_map_plus_one_exchange(spark, sf_dir):
    """embeddings_norm_histogram: per-row integer norms (no Python, no
    join) into one small hash agg — exactly one shuffle, none broadcast."""
    plan = plan_of(spark, sf_dir, "embeddings_norm_histogram")
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_portable_pq_assign_broadcasts_codebook_sides(spark, sf_dir):
    """embeddings_pq_assign_portable: the centroid/donor cross joins must
    broadcast the tiny codebook side (8 and 4 rows) — a shuffled cross
    join there would move the whole corpus for a constant-sized
    relation.  (The cells<->codes equi-join on vec_id may legitimately
    sort-merge: both sides are corpus-sized.)"""
    plan = plan_of(spark, sf_dir, "embeddings_pq_assign_portable")
    assert plan.count("BroadcastNestedLoopJoin BuildRight, Cross") == 2
    assert "CartesianProduct" not in plan


def test_rollup_revenue_rank_windows_aggregated_output(spark, sf_dir):
    """agg_rollup_revenue_rank: the rank window must consume the ROLLUP
    aggregate (dimension-sized), not the fact scan — Expand (the rollup
    row replication) appears below the Window in the plan tree, and the
    fact table is scanned exactly once."""
    plan = plan_of(spark, sf_dir, "agg_rollup_revenue_rank")
    assert "Expand" in plan and "Window" in plan
    assert plan.index("Window") < plan.index("Expand")  # Window above
    assert plan.count("FileScan parquet") == 1


def test_repeat_purchase_interval_is_one_window_pass(spark, sf_dir):
    """agg_repeat_purchase_intervals: one entity-keyed window shuffle +
    the final 5-bucket agg; no join, no Python."""
    plan = plan_of(spark, sf_dir, "agg_repeat_purchase_intervals")
    assert plan.count("Window") == 1
    assert "Join" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_vocab_growth_first_seen_is_partial_agg(spark, sf_dir):
    """text_vocab_growth: the token first-occurrence aggregation must
    carry map-side partial aggregation (partial_min before the exchange)
    so the token-keyed shuffle moves one row per (partition, token), not
    one per token OCCURRENCE."""
    plan = plan_of(spark, sf_dir, "text_vocab_growth")
    assert "partial_min" in plan


def test_mmr_rerank_lineage_is_truncated(spark, sf_dir):
    """The greedy MMR loop must eager-checkpoint each pick: without it
    the growing selected-set union re-embeds every prior round's plan
    (~240 phantom join nodes at MMR_SELECT=5).  The returned frame must
    be a flat union of materialized one-row picks — no joins, no
    nested-loop anything, single-digit plan size."""
    from concurrent_etl_go_spark.operators.registry import release_caches

    plan = plan_of(spark, sf_dir, "search_mmr_rerank")
    release_caches()
    assert "ExistingRDD" in plan                 # checkpointed picks
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan                    # union + sort only
    assert plan.count("\n") < 20


def test_graph_hits_rounds_are_checkpointed(spark, sf_dir):
    """graph_hits: both final score frames enter the output join as
    materialized RDD leaves (the per-half-round eager localCheckpoint),
    so plan depth is bounded regardless of _HITS_ROUNDS."""
    from concurrent_etl_go_spark.operators.registry import release_caches

    plan = plan_of(spark, sf_dir, "graph_hits")
    release_caches()
    assert plan.count("Scan ExistingRDD") >= 2   # h and a checkpoints


def test_centroid_drift_broadcasts_global_sums(spark, sf_dir):
    """embeddings_centroid_drift: the dim-sized global-sum table joins
    the (label, pos) partials by broadcast — the candidate side never
    shuffles for the attachment — and no sort-merge or nested-loop
    join appears anywhere."""
    plan = plan_of(spark, sf_dir, "embeddings_centroid_drift")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Pandas" not in plan  # all-JVM integer algebra


def test_fk_orphans_all_edges_broadcast_parent_keys(spark, sf_dir):
    """profile_fk_orphans: every one of the seven FK existence probes
    broadcasts the pruned parent key set (each left join's build side
    is a single key column), and each edge folds to counts via partial
    aggregation before anything crosses the network."""
    from concurrent_etl_go_spark.operators.profiling import _FK_EDGES

    plan = plan_of(spark, sf_dir, "profile_fk_orphans")
    assert plan.count("BroadcastHashJoin") == len(_FK_EDGES)
    assert "SortMergeJoin" not in plan
    assert plan.count("partial_") >= len(_FK_EDGES)  # map-side count folds


def test_round9_recommender_plans(spark, sf_dir):
    # anchors/custs are broadcast into the model join; no sort-merge
    # creeps into the dimension joins and no Python enters the row path
    for name in ("rec_item_neighbors", "rec_next_part"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, name


def test_round9_wma_is_hash_join_shaped(spark, sf_dir):
    # the 7-offset rewrite must keep the weighted window an equi join —
    # a band self-join here silently becomes a days x days nested loop
    plan = plan_of(spark, sf_dir, "window_wma")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_round9_retrieval_eval_broadcasts_query_set(spark, sf_dir):
    # Since round 13 the corpus scan runs ONCE inside the memoized
    # harness; the metric query's own plan is local-relation joins.
    # The broadcast property belongs to the harness BUILD: the |Q|-way
    # corpus expansion and every LUT/probe join ride broadcasts (never
    # a shuffle-side cartesian).
    from concurrent_etl_go_spark.llm.retrieval_eval import (
        _int_vectors,
        _query_set,
        _truth,
    )

    iv = _int_vectors(spark, sf_dir)
    build_plan = (
        _truth(iv, _query_set(iv))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in build_plan
    assert "CartesianProduct" not in build_plan
    # the metric query itself: no cartesian, no Python-eval in the plan
    plan = plan_of(spark, sf_dir, "search_eval_recall_at_k")
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_round13_robust_means_scalable_rank_is_bucketed(spark, sf_dir):
    # the scalable robust-mean twins must never sort a whole priority
    # group in one partition: the rank window partitions on
    # (priority, _pid) — the grouped distributed-rank recipe
    for name in ("agg_trimmed_mean_scalable", "agg_winsorized_mean_scalable"):
        plan = plan_of(spark, sf_dir, name)
        spec_lines = [
            l for l in plan.splitlines() if "windowspecdefinition(" in l
        ]
        assert spec_lines, name
        assert all("_pid" in l for l in spec_lines), (
            f"{name}: rank window not bucketed: {spec_lines[:1]}"
        )


def test_round9_survival_grain_collapses_before_window(spark, sf_dir):
    # the at-risk cumulative sum must run AFTER the per-duration hash
    # aggregation (dimension-sized window), not over raw customers
    plan = plan_of(spark, sf_dir, "agg_survival_km")
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("RunningWindowFunction")
    if win_pos == -1:
        win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # executedPlan prints top-down: the window consumes the aggregate,
    # so the aggregate appears BELOW (after) it in the text
    assert win_pos < plan.rfind("HashAggregate")
