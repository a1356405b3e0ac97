"""Physical-plan regression tests: the scale properties SCALE.md
claims are asserted here against `.explain("formatted")` output, so a
refactor that silently loses predicate pushdown, column pruning, or a
broadcast hint fails CI -- not a 100 TB run.
"""

from __future__ import annotations

from hq_master_data_warehouse_spark import registry

registry.load_catalog()

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _plan(spark, "tpch_q5_local_supplier_volume")
    assert "PushedFilters: [" in plan
    # the date-range predicate must be pushed, not post-filtered only
    assert "IsNotNull" in plan or "GreaterThanOrEqual" in plan


def test_column_pruning_narrows_read_schema(spark):
    plan = _plan(spark, "agg_sent_counts_by_segment")
    # the ledger projection reads a narrow schema, not select-*
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert len(line) < 400
            break
    else:
        raise AssertionError("no ReadSchema in plan")


def test_dimension_joins_are_broadcast(spark):
    plan = _plan(spark, "tpch_q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan


def test_anti_join_is_a_join_not_a_collected_list(spark):
    plan = _plan(spark, "anti_join_exclude_sent")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_products_in_headline_plans(spark):
    for name in [
        "flagship_range_counts",
        "capacity_distribution",
        "tpch_q1_pricing_summary",
        "tpch_q9_product_profit",
        "tpch_q21_waiting_orders",
        "skew_salted_join",
    ]:
        assert "CartesianProduct" not in _plan(spark, name), name


def test_whole_stage_codegen_covers_the_flagship(spark):
    # AQE annotates codegen ids only once the plan is final -- execute,
    # then read the final plan
    df = registry.QUERIES["flagship_range_counts"](spark, SF)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "codegen id" in plan


def test_salted_aggregate_is_two_phase(spark):
    plan = _plan(spark, "skew_salted_aggregate")
    # two HashAggregate pairs: (partial+final) per phase
    assert plan.count("HashAggregate") >= 4


def test_partitioned_scan_prunes_directories(spark):
    plan = _plan(spark, "source_partitioned_scan")
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters", 1)[1][:300]


def test_bucketed_join_needs_no_join_shuffle(spark):
    import re

    plan = _plan(spark, "bucketed_colocated_join")
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan
    # the only exchange is the final tiny aggregation, never a join
    # input: both scans feed the join through sorts alone
    detail_exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(detail_exchanges) <= 1, plan


def test_compaction_shrinks_file_count(spark):
    import os

    from hq_master_data_warehouse_spark.operators.layout import (
        FRAGMENT_PARTS,
        _fragmented_orders,
        compact_parquet,
    )

    frag = _fragmented_orders(spark, "/root/testdata/sf0.01")
    n_frag = sum(
        f.endswith(".parquet") for f in os.listdir(frag)
    )
    assert n_frag == FRAGMENT_PARTS
    import tempfile

    dst = tempfile.mkdtemp(prefix="hqmdw_compact_test_")
    n = compact_parquet(spark, frag, dst)
    n_out = sum(f.endswith(".parquet") for f in os.listdir(dst))
    assert n_out == n < FRAGMENT_PARTS


def test_null_safe_join_is_broadcast_hash_not_nested_loop(spark):
    plan = _plan(spark, "join_null_safe")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_plan_shape(spark):
    plan = _plan(spark, "text_tfidf_top_terms")
    # corpus-size side is a broadcast scalar, never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_cosine_vector_joins_carry_no_broadcast_hint(spark):
    """VERDICT r7 item 2: the per-doc vector table is O(n_docs); a
    forced broadcast hint is honored past the auto threshold and OOMs
    at corpus scale.  The only sanctioned hints in this plan are the
    two stop-shingle anti-join guards (tiny HAVING>df aggregates).
    AQE may still CHOOSE broadcast at fixture scale -- that is fine;
    what must not exist is a hint that removes its freedom to degrade
    to a shuffle join."""
    df = registry.QUERIES["dedup_tfidf_cosine_pairs"](
        spark, SF
    )
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    hinted = [
        ln
        for ln in optimized.split("\n")
        if "strategy=broadcast" in ln
    ]
    # any hint that survives to the outer plan must be a stop-shingle
    # anti-join guard, never the doc_a/doc_b vector joins.  (The
    # shingle rows are cached, so the guards' hints usually live
    # INSIDE the InMemoryRelation and this list is empty -- the
    # invariant is the absence of vector-side hints, not a fixed
    # guard count.)
    for ln in hinted:
        assert "LeftAnti" in ln, ln
        assert "doc_a" not in ln and "doc_b" not in ln, ln


def test_incremental_maintenance_reads_once_per_partial(spark):
    plan = _plan(spark, "agg_incremental_maintenance")
    # both partials push their date predicate into the scan
    assert "PushedFilters: [" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_assignment_is_broadcast(spark):
    plan = _plan(spark, "dedup_semantic_clusters")
    # K-centroid assignment must broadcast the centroid side; the
    # pair stage joins on cluster_id, never a corpus cross join.
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_privacy_cascade_requests_are_broadcast_semi_joins(spark):
    plan = _plan(spark, "privacy_cascade_delete")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_small_sides_are_broadcast(spark):
    plan = _plan(spark, "text_bm25_scores")
    # df (per-term doc frequency) and the global stats row broadcast;
    # the postings join must not shuffle the corpus for them.
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_packing_prefix_sum_has_no_single_partition_corpus_window(spark):
    plan = _plan(spark, "pack_documents_nextfit")
    # the per-bucket window must be hash-partitioned on the bucket;
    # only the 16-row bucket-total window runs single-partition.
    assert "hashpartitioning(bucket" in plan


def test_contamination_semi_join_keys_on_gram(spark):
    plan = _plan(spark, "text_contamination_check")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_pagination_is_distributed_topk_not_global_window(spark):
    # offset/limit pagination must compile to TakeOrderedAndProject
    # (per-partition top-k, merged at the driver); the row_number
    # window then runs over <= offset+size rows, never the table.
    plan = _plan(spark, "pagination_offset_limit")
    assert "TakeOrderedAndProject" in plan


def test_rfm_quartiles_have_no_table_sized_global_window(spark):
    # quartiles come from ONE bucketed two-pass grouped rank over the
    # melted (metric, sortval) rows (r14): every window over
    # customer-sized data is partitioned by (m, _b); the only
    # per-metric unpartitioned prefix window runs over the tiny
    # (metric, bucket)-count table.
    import re

    plan = _plan(spark, "orders_rfm_scores")
    assert re.search(r"hashpartitioning\(m#\d+, _b#\d+L?, \d+\)", plan)
    assert "ntile" not in plan.lower()


def test_skyline_prefix_max_is_band_partitioned(spark):
    # the per-price prefix max shuffles on the price band; only the
    # one-row-per-band summary takes an unpartitioned window.
    plan = _plan(spark, "part_skyline_pareto")
    assert "hashpartitioning(band" in plan


def test_round2_ops_have_no_cartesian_and_key_on_hashes(spark):
    # exact-substring dedup: every exchange keys on the span hash
    plan = _plan(spark, "dedup_exact_substring")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(gh" in plan
    # LM surprisal ops: token/bigram equi-joins, no cartesian (the
    # 1-row corpus-total crossJoin is an explicit tiny broadcast)
    for name in ("text_unigram_surprisal", "text_bigram_surprisal"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
    # MAD outlier audit: per-type medians join back as broadcasts
    plan = _plan(spark, "events_value_mad_outliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_distributed_rank_consumers_use_bucketed_windows(spark):
    # curriculum staging and AUC both rank via _global_rank: the only
    # windows over input-sized data must be partitioned on the bucket.
    for name in ("pipeline_quality_curriculum", "ml_auc_rank"):
        plan = _plan(spark, name)
        assert "hashpartitioning(_b" in plan
        assert "ntile" not in plan.lower()
        assert "CartesianProduct" not in plan


def test_q1_money_aggregates_stay_in_long_codegen(spark):
    """r3 split-sum re-plan: q1's partial aggregation must carry LONG
    sum buffers (sum of hi/lo unit columns), not wide-decimal sums --
    the decimal slow path this round removed."""
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert "sum(cast(" not in plan.lower() or "decimal(30,4)" not in plan
    # decimal arithmetic may appear only post-agg (the tiny recombine)
    assert "CartesianProduct" not in plan


def test_embedding_cosine_is_cogrouped_not_cartesian(spark):
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan


def test_lifecycle_windows_partition_on_real_keys(spark):
    plan = _plan(spark, "ingest_cdc_apply")
    assert "hashpartitioning(user_id" in plan
    assert "CartesianProduct" not in plan
    plan = _plan(spark, "agg_weighted_median")
    assert "hashpartitioning(flag" in plan
    assert "CartesianProduct" not in plan


def test_graph_plans_are_equi_join_only(spark):
    for name in (
        "graph_pagerank_copurchase",
        "graph_triangle_count",
        "graph_bfs_hops",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name != "graph_triangle_count":
            # triangle count's only nested-loop joins are the final
            # 1-row x 1-row scalar assembly crossJoins -- harmless;
            # the wedge/close joins themselves are pinned equi by
            # the CartesianProduct assertion above
            assert "BroadcastNestedLoopJoin" not in plan, name
    # iterative state joins must broadcast (map-side, edges static)
    for name in ("graph_pagerank_copurchase", "graph_bfs_hops"):
        assert "BroadcastHashJoin" in _plan(spark, name), name


def test_stats_aggregations_use_partial_aggregation(spark):
    """The statistics family's whole claim is sufficient-statistics
    reduction: the plan must show a partial (map-side) HashAggregate
    before the exchange, and no nested loop anywhere."""
    for name in [
        "ml_ols_daily_trend",
        "ml_ab_test_ztest",
        "orders_dow_seasonality",
        "ml_ols_multivariate",
    ]:
        plan = _plan(spark, name)
        assert "HashAggregate" in plan, name
        # a BroadcastNestedLoopJoin against a 1-row totals aggregate
        # IS the intended broadcast cross join; an unbroadcast
        # cartesian product is the failure mode being pinned
        assert "CartesianProduct" not in plan, name


def test_bootstrap_replicas_join_is_broadcast(spark):
    """The 64-row replica table must broadcast; the Poisson explode
    happens map-side before the single aggregation exchange."""
    plan = _plan(spark, "ml_bootstrap_mean_ci")
    # a broadcast NLJ on the 64-row rep table is acceptable (it IS the
    # broadcast cross join); an unbroadcast cartesian product never is
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_link_prediction_has_no_nested_loop(spark):
    plan = _plan(spark, "graph_link_prediction_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the absent-pair filter is a real anti join
    assert "LeftAnti" in plan


def test_link_prediction_minhash_verify_never_sorts_arrays(spark):
    """The approximate twin's exact-verify joins must keep the
    adjacency-array stream OUT of any sort: join 1 is hinted
    sort-merge (sorts only the skinny candidate side BEFORE arrays
    attach, and emits the a-ordered stream whose identical-array runs
    compress the following exchange ~8x), join 2 is hinted
    shuffled-hash (builds the |V|-sized adj table, streams the
    array-carrying side unsorted -- the sort-merge alternative
    measured 12 GiB of sort spill at sf0.1)."""
    plan = _plan(spark, "graph_link_prediction_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "ShuffledHashJoin" in plan  # join 2: array side never sorts
    # top-k is distributed, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_rrf_rankings_are_take_ordered(spark):
    """Both retriever rankings must cut to top-K via TakeOrdered
    (distributed top-k), never a global Sort of the full corpus."""
    plan = _plan(spark, "similarity_rerank_rrf")
    assert "TakeOrderedAndProject" in plan


def test_cms_and_hll_sketch_plans_are_bounded(spark):
    """Sketch builds end in grouped aggregations over bounded cell
    domains -- no nested loops, no cartesian blowup."""
    for name in ["sketch_cms_heavy_hitters", "sketch_hll_distinct"]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "HashAggregate" in plan, name


def test_cohort_retention_is_join_free_windowed(spark):
    """The r5 re-plan computes the per-user cohort week as a window
    MIN over ONE user_id shuffle -- no groupBy + join-back, so the
    plan must contain a user_id-partitioned Window and no join at all
    (the join formulation needed a broadcastable |users|-row cohort
    table, false at billions of users)."""
    plan = _plan(spark, "events_cohort_retention")
    assert "Window" in plan
    for bad in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert bad not in plan, bad


def test_embedding_cosine_grid_widens_above_par_min(spark):
    """Grid sizing contract (_grid_chunks): one cell below
    EMB_PAR_MIN_ROWS (per-task startup dominates tiny GEMMs); above
    it, enough chunks that the c(c+1)/2 grid cells cover the cluster
    parallelism (a single-task stage serializes the whole pairwise
    pass -- measured bimodal 5.8 s median single-cell vs 1.65 s
    stable multi-cell on the 2k-vector sf0.1 input), capped so no
    chunk shrinks below EMB_ROWS_PER_CHUNK; the per-task memory
    floor always dominates huge inputs."""
    from hq_master_data_warehouse_spark.operators.dedup import (
        EMB_BLOCK_ROWS,
        EMB_PAR_MIN_ROWS,
        _grid_chunks,
    )

    assert _grid_chunks(500, 32) == 1  # sf0.01 gate scale: one cell
    assert _grid_chunks(EMB_PAR_MIN_ROWS, 32) == 2  # 512-row cap
    assert _grid_chunks(2000, 32) == 4  # sf0.1 bench scale: 10 cells
    # enough data: cells >= cores (8 chunks -> 36 cells on 32 cores)
    assert _grid_chunks(8000, 32) == 8
    # 1000-core cluster: 45 chunks -> 1035 cells >= 1000 cores
    assert _grid_chunks(100_000, 1000) == 45
    # memory floor still dominates huge inputs
    assert _grid_chunks(10 * EMB_BLOCK_ROWS, 32) == 10


def test_round4_wave_plans_have_no_cartesian(spark):
    """Batch pin for the stats/dq/window wave: no unbroadcast
    cartesian products anywhere.  (BroadcastNestedLoopJoins present
    in some are the 1-row scalar-totals crossJoins; the
    single-partition windows in seasonal decomposition / rolling OLS
    run over day-level aggregates bounded by the calendar domain,
    never raw rows -- both already-accepted shapes.)"""
    for name in [
        "events_attribution_markov",
        "orders_seasonal_decomposition",
        "window_rolling_median_7day",
        "layout_partition_skew_stats",
        "events_stickiness_dau_wau",
        "dq_control_chart_daily",
        "window_rolling_ols_slope",
        "events_decay_weighted_score",
        "orders_newsvendor_quantile",
        "events_poisson_rate_test",
        "ml_woe_iv",
        "ml_target_encoding",
        "ml_calibration_ece",
        "orders_forecast_holt",
        "dq_freshness_sla_audit",
    ]:
        assert "CartesianProduct" not in _plan(spark, name), name


# -- TPC-H family pins (VERDICT r5 item 5): a Spark upgrade or refactor
#    must not silently regress q1-q22 / flagship into a cartesian or an
#    unbounded nested-loop join.  BNLJ is tolerated ONLY for the two
#    scalar-subquery queries (q11's group-total threshold, q22's avg
#    acctbal) where the broadcast side is a 1-row aggregate -- the one
#    sanctioned cross-join shape in this repo.
_TPCH_BNLJ_OK = {"tpch_q11_important_stock", "tpch_q22_global_sales"}


def _tpch_names():
    registry.load_catalog()
    return sorted(
        n for n in registry.QUERIES if n.startswith("tpch_")
    ) + ["flagship_range_counts"]


def test_tpch_family_has_no_cartesian_or_stray_bnlj(spark):
    for name in _tpch_names():
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in _TPCH_BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_q18_semi_join_reduces_before_multiway_join(spark):
    """q18's HAVING subquery must reach the 3-way join as a semi-join
    reduction (plans/tpch.py:190), not as a post-join filter."""
    plan = _plan(spark, "tpch_q18_large_volume_customer")
    assert "LeftSemi" in plan


def test_q21_self_joins_are_semi_plus_anti(spark):
    """q21's EXISTS / NOT EXISTS pair over lineitem must plan as one
    semi and one anti join -- never a correlated re-scan per row."""
    plan = _plan(spark, "tpch_q21_waiting_orders")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q4_q20_exists_subqueries_plan_as_semi_joins(spark):
    for name in ("tpch_q4_order_priority", "tpch_q20_excess_shipments"):
        assert "LeftSemi" in _plan(spark, name), name


def test_flagship_keeps_semi_join_shape(spark):
    plan = _plan(spark, "flagship_range_counts")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_round6_queries_plan_shapes(spark):
    """Round-6 additions: no cartesian anywhere; the Kafka decode
    parity stays pure-expression (no Python eval in the plan) with
    two-phase aggregation; the recall eval's only nested-loop joins
    are broadcast 1-row scalar aggregates."""
    plan = _plan(spark, "streaming_kafka_decode_parity")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # decode is JVM expressions
    assert "partial" in plan.lower()

    plan = _plan(spark, "layout_delta_export_roundtrip")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    plan = _plan(spark, "similarity_ann_recall_eval")
    assert "CartesianProduct" not in plan
    # the GEMM ground truth runs as the cogrouped Arrow path
    assert "FlatMapCoGroupsInPandas" in plan


def test_continuation_wave_plan_shapes(spark):
    """Round-6 continuation pins: the statistical ops stay
    pure-expression (no Python eval), the resampling family keeps
    its single-scan + broadcast-scalar shape, and the blocked
    pair ops never degrade to a cartesian."""
    # exact-moment statistics: one scan, no Python, partial aggs
    for name in (
        "ml_anova_oneway",
        "ml_levene_brown_forsythe",
        "ml_durbin_watson",
        "ml_wasserstein_distance",
        "ml_cuped_adjustment",
        "agg_winsorized_stats",
        "ml_conformal_interval",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    # resampling: replicate math is compiled aggregates, the only
    # nested loops are broadcast 1-row scalars
    for name in ("ml_permutation_test", "ml_adaboost_stumps"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "partial" in plan.lower(), name
    # blocked pair ops: candidate generation is an equi-join
    for name in (
        "dedup_tfidf_cosine_pairs",
        "geo_haversine_pairs",
        "ml_item_cf_similarity",
        "basket_frequent_triples",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
    # top-k pair ops end in TakeOrdered, not a global sort
    for name in ("geo_haversine_pairs", "ml_item_cf_similarity"):
        assert "TakeOrdered" in _plan(spark, name), name
    # the audio featurizer is the sanctioned Arrow path
    plan = _plan(spark, "multimodal_audio_features")
    assert "MapInPandas" in plan


def _physical_tree(spark, name: str):
    """Yield every node of the pre-AQE physical plan tree."""
    df = registry.QUERIES[name](spark, SF)
    root = df._jdf.queryExecution().sparkPlan()

    def walk(node):
        yield node
        for i in range(node.children().length()):
            yield from walk(node.children().apply(i))

    return list(walk(root))


def test_prefix_rank_windows_run_on_count_tables_only(spark):
    """The two-pass distributed ranks (_global_rank /
    _grouped_global_rank, operators/analytics.py) emit WindowExec
    warnings for their UNBUCKETED prefix windows -- provably cosmetic
    because those windows consume the per-bucket COUNT table (bounded
    by the bucket domain), never the raw input (VERDICT r8 item 5).

    Pin the shape structurally: in both consumer plans, every Window
    node that does NOT partition by the bucket column `_b` must have
    an Aggregate somewhere below it (its input is an aggregated count
    table); the only windows running directly over the scan are the
    `_b`-partitioned local ranks, which parallelize by construction."""
    for name in ("orders_rfm_scores", "dq_tukey_fence_outliers"):
        windows = [
            n
            for n in _physical_tree(spark, name)
            if n.nodeName() == "Window"
        ]
        assert windows, f"{name}: expected Window nodes in the plan"
        seen_unbucketed = 0
        for w in windows:
            part_cols = [
                str(w.partitionSpec().apply(i))
                for i in range(w.partitionSpec().length())
            ]
            if any("_b" in c for c in part_cols):
                continue  # bucketed local rank: parallel by design
            seen_unbucketed += 1
            subtree_names = {
                d.nodeName()
                for d in _physical_tree_from(w)
                if d is not w
            }
            assert any("Aggregate" in s for s in subtree_names), (
                f"{name}: unbucketed Window partitioned by "
                f"{part_cols or 'nothing'} runs on un-aggregated "
                f"input -- the tiny-count-table contract is broken"
            )
        # each helper has at least one prefix window to certify
        assert seen_unbucketed >= 1, name


def _physical_tree_from(node):
    out = [node]
    for i in range(node.children().length()):
        out.extend(_physical_tree_from(node.children().apply(i)))
    return out
