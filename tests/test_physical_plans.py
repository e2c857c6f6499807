"""Physical-plan regressions: the scale properties SURVEY §4 promises.

These assert the *shape* of the executed plan, not results — a refactor
that silently turns a broadcast join into a shuffle join, or drops a
pushed filter back above the scan, fails here even though every value
test still passes.
"""

from __future__ import annotations

import pytest

from bigdata_electricity_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# Guard the distributed plan, not the one-partition plan small tables get.
pytestmark = pytest.mark.usefixtures("distributed_plans")


def plan_of(spark, name: str) -> str:
    return REGISTRY[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_tpch_q1_pushes_filter_and_prunes(spark):
    df = REGISTRY["tpch_q1_pricing_summary"].fn(spark, SF_DIR)
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan
    # Column pruning: the untouched l_comment-ish columns never appear.
    assert "l_orderkey" not in scan.split("ReadSchema")[1][:400]


def test_star_join_broadcasts_dimensions(spark):
    plan = plan_of(spark, "join_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # customer, nation (orders may AQE-broadcast)
    assert "CartesianProduct" not in plan


def test_star_join_preaggregates_below_join(spark):
    # The revenue sum is pushed below lineitem⋈orders as a per-orderkey
    # partial aggregate (map-side combine cuts the fact shuffle ~4×);
    # a refactor that lifts it back above the join fails here.
    plan = plan_of(spark, "join_revenue_by_nation")
    assert "HashAggregate(keys=[l_orderkey" in plan
    assert plan.count("HashAggregate") >= 4  # pre-agg + rollup, each partial+final


def test_tpch_q18_having_filters_below_joins(spark):
    # The >250 HAVING runs on the per-orderkey lineitem aggregate BEFORE
    # any join — only qualifying orderkeys probe orders/customer. A
    # refactor that floats the aggregate back above the joins fails here.
    plan = plan_of(spark, "tpch_q18_large_orders")
    agg_pos = plan.find("HashAggregate(keys=[l_orderkey")
    first_join = min(p for p in (plan.find("BroadcastHashJoin"),
                                 plan.find("SortMergeJoin"),
                                 plan.find("ShuffledHashJoin")) if p != -1)
    # toString prints top-down: deeper (earlier-executing) operators
    # appear LATER, so the pre-agg must print after the joins.
    assert agg_pos != -1 and agg_pos > first_join
    assert plan.count("HashAggregate") == 2  # pre-agg partial+final only


def test_region_rollup_preagg_kills_count_distinct(spark):
    # orders pre-aggregate per custkey below the join; custkeys are then
    # unique, so COUNT(DISTINCT c_custkey) is a plain count — the plan
    # must carry neither an Expand nor a distinct aggregate.
    plan = plan_of(spark, "join_region_rollup")
    assert "HashAggregate(keys=[o_custkey" in plan
    assert "Expand" not in plan
    assert "distinct" not in plan.lower()


def test_tpch_q3_has_no_postjoin_aggregate(spark):
    # (orderdate, priority) are functionally determined by l_orderkey, so
    # the only aggregate is the per-orderkey pre-agg below the join and
    # the only hash exchange is its partial/final boundary; the top-10 is
    # TakeOrderedAndProject, never a global sort.
    plan = plan_of(spark, "tpch_q3_shipping_priority")
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate(keys=[l_orderkey" in plan


def test_topk_plans_as_take_ordered(spark):
    plan = plan_of(spark, "rdd_top5_days")
    assert "TakeOrderedAndProject" in plan


def test_argmax_has_no_sort(spark):
    plan = plan_of(spark, "rdd_hourly_argmax")
    assert "Sort" not in plan  # max_by aggregates; no global sort


def test_aggregates_are_partial_final(spark):
    plan = plan_of(spark, "reduction_hourly_agg")
    assert plan.count("HashAggregate") >= 2  # partial + final around the exchange


def test_dedup_shuffles_hash_not_text(spark):
    # The exchange key for exact dedup is the md5 fingerprint, computed
    # BELOW the first (partial) aggregate — document bodies never shuffle.
    df = REGISTRY["dedup_exact_groups"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    partial_agg_pos = plan.find("HashAggregate")
    exchange_pos = plan.find("Exchange")
    assert partial_agg_pos != -1 and exchange_pos != -1
    assert "md5" in plan


def test_brute_force_topk_broadcasts_query_row(spark):
    plan = plan_of(spark, "sim_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_star_join_survives_broadcast_demotion(spark):
    # At 100 TB no dimension may fit the broadcast threshold; the same
    # declarative plan must fall back to shuffle joins AND produce the
    # same result. (The explicit F.broadcast hint is advisory — with the
    # threshold at -1 AQE may still honor hints, so also check values.)
    baseline = sorted(
        map(tuple, REGISTRY["join_revenue_by_nation"].fn(spark, SF_DIR).collect())
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        demoted = sorted(
            map(tuple, REGISTRY["join_revenue_by_nation"].fn(spark, SF_DIR).collect())
        )
        assert demoted == baseline
        plan = plan_of(spark, "join_revenue_by_nation")
        # lineitem⋈orders must be a shuffle join now (no auto-broadcast).
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:1500]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_sessionization_single_user_shuffle(spark):
    plan = plan_of(spark, "events_sessionization")
    # Both windows and the session aggregate reuse ONE hash exchange on
    # user_id; the only other exchange is the final tiny ORDER BY.
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 3, plan[:2000]


def test_tpch_q3_topk_broadcast_and_pushdown(spark):
    plan = plan_of(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan          # LIMIT 10 = true top-k
    assert plan.count("BroadcastHashJoin") >= 2      # customer + one more
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter at the scan
    assert "GreaterThan(l_shipdate" in plan          # fact filter at the scan


def test_tpch_q6_is_join_free_scan_agg(spark):
    # Q6 is the pushdown showcase: every predicate reaches the scan and
    # the plan is scan → filter → partial agg → exchange → final agg.
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    assert "Join" not in plan
    # (PushedFilters text is truncated in toString — assert the stable prefix
    # and the pruned ReadSchema instead of individual pushed predicates.)
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)" in plan
    assert "struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2


def test_tpch_q17_broadcast_aggregate_is_brand_bounded(spark):
    # The per-part qty cutoff is broadcast — legal ONLY because it is
    # aggregated over the brand-filtered lineitem subset (|brand parts|
    # rows), never over all partkeys (|part| rows — an OOM at 100 TB).
    # The cutoff aggregate prints its subtree after itself, so the brand
    # pushdown filter must appear BELOW (after) the aggregate node.
    plan = plan_of(spark, "tpch_q17_small_quantity_revenue")
    agg_pos = plan.find("output=[avg_partkey")
    assert agg_pos != -1, plan[:2000]
    subtree = plan[agg_pos:]
    assert "EqualTo(p_brand,Brand#3)" in subtree, subtree[:2000]
    # And the cutoff side still broadcasts (the point of the rewrite).
    cutoff_build = plan.rfind("BroadcastExchange", 0, agg_pos)
    assert cutoff_build != -1


def test_packing_prefix_sum_has_no_global_window(spark):
    # The registry entry must run the scalable two-phase prefix sum:
    # every window partitioned by the range-partition id, and no
    # single-partition exchange anywhere (the naive global-order window
    # would plan Exchange SinglePartition -> Window over all rows).
    plan = plan_of(spark, "pack_sequences_chunked")
    assert "windowspecdefinition(__pid" in plan, plan[:2000]
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_approx_binning_has_no_global_window(spark):
    # The scalable binning twin must assign deciles from broadcast cut
    # points — no NTILE, no window at all, so no full-data global sort.
    # (The 1-row percentile aggregate's SinglePartition final agg is the
    # only funnel and carries 9 doubles, not the data.)
    plan = plan_of(spark, "binning_equal_frequency_approx")
    assert "Window" not in plan, plan[:2000]
    assert "ntile(10)" not in plan  # ("percentile" contains "ntile")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_salted_join_entry_joins_on_salt(spark):
    # The skew entry must actually join on (custkey, __salt) with the
    # dimension side exploded — otherwise it silently degenerates to the
    # plain join and the salting demo is a no-op.
    plan = plan_of(spark, "join_skew_salted_segment_revenue")
    assert "__salt" in plan, plan[:2000]
    assert "Generate explode" in plan or "explode" in plan, plan[:2000]


def test_bucketed_join_entry_is_shuffle_free(spark):
    # Under broadcast demotion the co-bucketed join must plan
    # SortMergeJoin with NO exchange in its subtree — the bucketed
    # layout replaces the shuffle. (Exchanges above the join — the
    # rollup and final sort — are expected and cheap.)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "join_bucketed_colocated_priority")
        smj = plan.find("SortMergeJoin")
        assert smj != -1, plan[:2000]
        assert "Exchange" not in plan[smj:], plan[smj : smj + 2000]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        from bigdata_electricity_spark.sources.sinks import run_table
        spark.sql(f"DROP TABLE IF EXISTS {run_table('colo_lineitem_bkt')}")
        spark.sql(f"DROP TABLE IF EXISTS {run_table('colo_orders_bkt')}")


def test_tpch_q5_broadcasts_all_dims(spark):
    # The Q5 join cycle must stay broadcast-heavy: customer, supplier,
    # nation, region all build-side; the c_nationkey = s_nationkey
    # equality is a join key, not a post-join filter (no cartesian).
    plan = plan_of(spark, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q20_cutoff_is_part_family_bounded(spark):
    # Like q17: the qty cutoff broadcast must aggregate over the
    # name-filtered part family only — the widget filter sits below the
    # cutoff aggregate in its printed subtree.
    plan = plan_of(spark, "tpch_q20_excess_shippers")
    agg_pos = plan.find("output=[cutoff_partkey")
    assert agg_pos != -1, plan[:2000]
    assert "Contains(p_name,widget)" in plan[agg_pos:], plan[agg_pos : agg_pos + 2500]


def test_tpch_q21_shuffles_on_orderkey_only(spark):
    # Both the per-order aggregate and the self-join key on l_orderkey;
    # supplier broadcasts. No shuffle on any other fact-side key.
    plan = plan_of(spark, "tpch_q21_sole_late_shipper")
    n_orderkey = plan.count("hashpartitioning(l_orderkey")
    n_all = plan.count("Exchange hashpartitioning")
    assert n_orderkey >= 2, plan[:2000]
    # Remaining hash exchanges may only be the tiny post-agg rollups
    # (suppkey/name grouping after the data has collapsed to per-order
    # rows) — never a second fact-wide key.
    assert n_all - n_orderkey <= 3, plan[:2000]
    assert "CartesianProduct" not in plan


def test_decontamination_broadcasts_eval_grams(spark):
    # The eval-source gram set must broadcast — the training side (the
    # 100 TB side) streams through the join without shuffling.
    plan = plan_of(spark, "decon_ngram_overlap")
    assert "BroadcastHashJoin" in plan


def test_cdc_latest_state_is_one_aggregate_no_window(spark):
    """Changelog compaction must plan as a partial-aggregatable max_by —
    one hash shuffle on the key, no Window (a window formulation would
    shuffle and sort EVERY version instead of one candidate per key per
    partition)."""
    plan = plan_of(spark, "cdc_latest_state")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_keep_best_windows_share_one_exchange(spark):
    """Rank and member-count windows both partition on the fingerprint,
    so they must reuse a single Exchange; only (fp, doc_id, q) shuffles,
    never document bodies."""
    plan = plan_of(spark, "dedup_keep_best_quality")
    assert plan.count("Window") == 2
    assert plan.count("Exchange hashpartitioning") == 1
    hash_ex = plan.split("Exchange hashpartitioning", 1)[1][:80]
    assert "fp#" in hash_ex
    assert "text" not in hash_ex


def test_locf_single_partition_only_for_bounds(spark):
    """The date spine comes from a 1-row bounds aggregate (the only
    SinglePartition allowed); the fact table itself never collapses to
    one partition and the spine reaches the grid via broadcast."""
    plan = plan_of(spark, "events_locf_gap_fill")
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_constraint_audit_is_one_scan_one_aggregate(spark):
    # N rules cost one scan + a 1-row partial/final aggregate — adding a
    # rule must never add a job or a shuffle.
    plan = plan_of(spark, "validate_constraints")
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "SortMergeJoin" not in plan


def test_token_entropy_aggregates_are_partial_final(spark):
    # Two grouped aggregates ((doc_id, tok) then doc_id), each with a
    # map-side partial — and no global single-partition stage.
    plan = plan_of(spark, "text_token_entropy")
    assert plan.count("HashAggregate") >= 4
    assert "SinglePartition" not in plan
    assert "SortMergeJoin" not in plan


def test_lang_temperature_mix_joins_are_broadcast(spark):
    # The fact table joins only against broadcast |languages|-row sides;
    # nothing shuffles the corpus on lang.
    plan = plan_of(spark, "mix_lang_temperature")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_mad_outlier_joins_are_broadcast(spark):
    # Median/MAD per-flag tables are broadcast back; the fact table is
    # never shuffled on anything but l_returnflag aggregates.
    plan = plan_of(spark, "clean_outlier_mad")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_fixed_n_sample_uses_window_group_limit(spark):
    # The rn<=5 filter must push into the sort (partial + final
    # WindowGroupLimit) so per-task state is O(N), not O(|group|).
    plan = plan_of(spark, "sample_fixed_n_per_group")
    assert plan.count("WindowGroupLimit") == 2
    assert "SortMergeJoin" not in plan


def test_bigram_pmi_counts_before_joining(spark):
    # The >=5 support filter runs inside the pair aggregate, before any
    # join; the scalar totals are broadcast, never a shuffle barrier.
    plan = plan_of(spark, "text_bigram_pmi")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 6  # pair, uni, two totals — partial+final


def test_inverted_index_postings_are_capped(spark):
    # collect_list rides ObjectHashAggregate with a partial side; the
    # slice(...) cap keeps the final row bounded.
    plan = plan_of(spark, "text_inverted_index")
    assert plan.count("ObjectHashAggregate") == 2  # partial + final
    assert "SinglePartition" not in plan


def test_fuzzy_pairs_compare_vocab_not_rows(spark):
    # Levenshtein runs on the distinct-name vocabulary (post-distinct,
    # length-banded), never on row pairs; the row-level expansion is
    # broadcast + equi-join only.
    plan = plan_of(spark, "sim_fuzzy_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    # vocabulary dedup (HashAggregate distinct) sits BELOW the distance
    # computation — printed plans list parents first, so levenshtein
    # must appear earlier in the string than the distinct aggregate.
    assert "HashAggregate" in plan
    assert 0 <= plan.find("levenshtein") < plan.find("HashAggregate")


def test_correlation_matrix_is_one_aggregate(spark):
    # Six co-moment accumulators share one scan + one partial/final agg.
    plan = plan_of(spark, "stats_correlation_matrix")
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2


def test_basket_pairs_join_on_order_then_aggregate(spark):
    # Pair generation keys on l_orderkey (per-basket |items|² only);
    # support counting is partial+final on the pair key.
    plan = plan_of(spark, "market_basket_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # distinct + support, each partial+final


def test_rfm_cutoffs_are_broadcast(spark):
    # Median cut-offs are a 3-double broadcast; the customer table is
    # never shuffled to a single partition for scoring.
    plan = plan_of(spark, "rfm_segmentation")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 1  # scalar broadcasts
    assert "SortMergeJoin" not in plan


def test_weighted_sample_uses_window_group_limit(spark):
    plan = plan_of(spark, "sample_weighted_topk")
    assert plan.count("WindowGroupLimit") == 2
    assert "SortMergeJoin" not in plan


def test_rolling_anomaly_frame_is_bounded(spark):
    # One exchange on user_id; the window is a bounded ROWS frame (no
    # unbounded running state), then a grouped rollup.
    plan = plan_of(spark, "events_rolling_anomaly")
    assert plan.count("Exchange hashpartitioning(user_id") >= 1
    assert "SinglePartition" not in plan
    assert "specifiedwindowframe(RowFrame, -20, -1)" in plan


def test_merge_upsert_join_is_keyed_not_broadcast(spark):
    """MERGE must shuffle both sides on the primary key (SMJ/shuffled
    hash) — a broadcast of the change batch would hide the real shape
    and OOM at 100 TB batch sizes; full-outer also cannot broadcast."""
    plan = plan_of(spark, "merge_upsert_orders")
    assert "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_windows_are_entity_keyed(spark):
    """Every window in the SCD2 build partitions by user_id — the only
    SinglePartition exchange allowed is the final presentation sort."""
    plan = plan_of(spark, "scd2_event_intervals")
    body = plan.split("Sort [user_id")[0] if "Sort [user_id" in plan else plan
    assert plan.count("Exchange SinglePartition") <= 1  # rangepartition sort only
    assert "partitionBy" not in body or "user_id" in body


def test_skew_diagnosis_is_two_aggregates(spark):
    """Key profile = grouped agg on the key + global one-row summary;
    the only SinglePartition collapse is the final 1-row aggregate."""
    plan = plan_of(spark, "diagnose_key_skew")
    assert plan.count("Exchange SinglePartition") == 1
    assert "HashAggregate" in plan


def test_transition_matrix_lag_is_user_partitioned(spark):
    plan = plan_of(spark, "events_transition_matrix")
    # the lag's exchange hashes on user_id, not a global sort
    assert "hashpartitioning(user_id" in plan
    # final probability window runs on the 25-row matrix: allowed, but
    # the raw event scan must never collapse to one partition first.
    pre_window = plan.split("ReadSchema")[0]
    assert "Exchange SinglePartition" not in pre_window.split("hashpartitioning(user_id")[0]


def test_zorder_bucket_agg_is_partial_final(spark):
    plan = plan_of(spark, "layout_zorder_buckets")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "SinglePartition" not in plan.split("Sort")[0]


def test_chunking_has_no_shuffle_before_sort(spark):
    """The chunk fan-out (generate/explode) happens in-partition; the
    only exchange is the final presentation sort."""
    plan = plan_of(spark, "chunk_documents_overlap")
    assert "Generate" in plan
    gen_part = plan.split("Generate")[-1]
    assert "Exchange" not in gen_part, "explode must not shuffle its input"


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE proof: a tiny groupBy executed with 32 shuffle partitions
    must coalesce at runtime (AQEShuffleRead) instead of scheduling 32
    near-empty reducers — the runtime re-plan the session enables."""
    from bigdata_electricity_spark.sources.loaders import load_table
    import pyspark.sql.functions as F

    df = load_table(spark, SF_DIR, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:500]


def test_join_strategy_hints_are_honored(spark):
    """Physical join strategy is controllable per-join via hints — the
    manual override lane when AQE/statistics pick wrong at scale."""
    from bigdata_electricity_spark.sources.loaders import load_table
    import pyspark.sql.functions as F

    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")

    def plan(df):
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    shj = plan(orders.join(cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey)
               .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")))
    smj = plan(orders.join(cust.hint("merge"), orders.o_custkey == cust.c_custkey)
               .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")))
    assert "ShuffledHashJoin" in shj and "SortMergeJoin" not in shj
    assert "SortMergeJoin" in smj and "ShuffledHashJoin" not in smj


def test_cache_reuse_shows_inmemory_scan(spark):
    """df.persist() must serve later actions from InMemoryRelation —
    the manual reuse lever for iterative workloads (the CC loop uses
    localCheckpoint for the same reason: cut lineage, reuse bytes)."""
    from bigdata_electricity_spark.sources.loaders import load_table
    import pyspark.sql.functions as F

    df = (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        df.count()  # materialize
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    finally:
        df.unpersist()


def test_topk_windows_get_group_limit_pushdown(spark):
    """rank<=k window filters must compile to WindowGroupLimit —
    per-partition top-k BEFORE the shuffle, which is what keeps the
    ANN serving/verification windows scale-safe (each partition ships
    k rows per query, not its whole score list)."""
    for q in ("quantized_recall_at_k", "sim_topk_batch", "sim_bucketed_nn"):
        assert "WindowGroupLimit" in plan_of(spark, q), q


def test_ivf_probe_broadcasts_index_side(spark):
    # Centroids and the (query x probe) table must broadcast — the big
    # side (inverted lists) streams map-side; a shuffle of the corpus
    # keyed by anything per-query would be the wrong serving shape.
    plan = plan_of(spark, "sim_ivf_probe_topk")
    assert plan.count("BroadcastHashJoin") >= 1     # lists ⋈ probe
    assert "BroadcastNestedLoopJoin" in plan        # tiny crossJoins vs centroids
    assert "CartesianProduct" not in plan


def test_tpch_q2_window_min_is_partkey_partitioned(spark):
    # The decorrelated per-part MIN must run as a partitioned window on
    # the filtered candidate set — never a global sort — and every dim
    # side (part, nation, region, euro suppliers) broadcasts.
    plan = plan_of(spark, "tpch_q2_min_cost_supplier")
    assert "partitionspecification=[p_partkey" in plan.lower().replace(" ", "") or (
        "Window" in plan and "p_partkey" in plan
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # LIMIT 100 never global-sorts


def test_tpch_q11_scalar_cutoff_is_one_row_broadcast(spark):
    # The 1.5*AVG cutoff joins back as a broadcast nested loop over ONE
    # row; the partkey aggregate itself is partial+final and is never
    # broadcast wholesale.
    plan = plan_of(spark, "tpch_q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_pagerank_iterations_broadcast_rank_vector(spark):
    # Power iterations must join the tiny rank vector by broadcast —
    # the fact scan feeds ONE (src,dst) aggregate; no iteration may
    # introduce a sort-merge join or cartesian product.
    plan = plan_of(spark, "graph_pagerank_nations")
    assert plan.count("BroadcastHashJoin") >= 6  # 4 dims + 3 iterations (AQE may add)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_incremental_agg_merges_partial_states(spark):
    # Snapshot agg + batch agg + merge fold: at least three
    # partial+final aggregate pairs, and the union happens on
    # |keys|-sized state (no window, no sort before the fold).
    plan = plan_of(spark, "maintain_incremental_agg")
    assert plan.count("HashAggregate") >= 6
    assert "Window" not in plan


def test_chi_square_windows_run_on_grouped_cells(spark):
    # The margin windows must sit ABOVE the contingency aggregate —
    # raw events are reduced to |types|x7 cells before any window.
    plan = plan_of(spark, "abtest_chi_square_dow")
    first_agg = plan.find("HashAggregate")
    first_window = plan.find("Window")
    assert first_agg != -1 and first_window != -1
    # executedPlan prints top-down: the aggregate appears BELOW the
    # window in tree order, i.e. later in the string.
    assert first_window < plan.rfind("HashAggregate")


def test_random_projection_broadcasts_sign_matrix(spark):
    # The 64x16 Achlioptas matrix must broadcast; the only shuffle keys
    # (vec_id, dim). No sort-merge join of exploded embeddings.
    plan = plan_of(spark, "embedding_random_projection")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_feature_hashing_aggregates_map_side(spark):
    # Hashing-trick counts: partial+final agg on the 64-key bucket —
    # tokens never shuffle raw.
    plan = plan_of(spark, "ml_feature_hash_buckets")
    assert plan.count("HashAggregate") >= 2
    assert "md5" in plan


def test_cascade_delete_broadcasts_tombstones(spark):
    # All six split joins must be broadcast semi/anti — the fact tables
    # never shuffle for a deletion audit.
    plan = plan_of(spark, "maintain_cascade_delete")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_bitmap_membership_is_two_aggregates(spark):
    # Mask build + mask distribution: two partial+final agg pairs, no
    # window, no join.
    plan = plan_of(spark, "segment_bitmap_membership")
    assert plan.count("HashAggregate") >= 4
    assert "Join" not in plan


def test_table_digest_aggregates_map_side(spark):
    # XOR digest must fold map-side (partial+final HashAggregate) and
    # shuffle only |years| keys — never raw rows.
    plan = plan_of(spark, "audit_table_digest")
    assert plan.count("HashAggregate") >= 2
    assert "md5" in plan
    assert "Window" not in plan


def test_replica_diff_joins_digests_not_rows(spark):
    # The reconcile join runs over per-day digest tables (broadcast),
    # not row data: no sort-merge join anywhere.
    plan = plan_of(spark, "audit_replica_diff")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rank_stats_have_no_global_window(spark):
    # MWU/KS run their rank/CDF prefixes over the distinct-value table
    # via the two-phase prefix sum: windows partitioned by __pid only.
    # The only SinglePartition exchanges allowed are the 1-row final
    # statistic aggregates, never a Window input.
    for name in ("abtest_mannwhitney_u", "abtest_ks_distribution"):
        plan = plan_of(spark, name)
        total = plan.count("windowspecdefinition(")
        pid_part = plan.count("windowspecdefinition(__pid")
        assert total >= 1 and total == pid_part, (name, total, pid_part, plan[:2000])


def test_filtered_topk_pushes_label_predicate(spark):
    # Filter-then-search: the metadata predicate must reach the parquet
    # scan so scoring cost follows filtered cardinality.
    plan = plan_of(spark, "sim_filtered_topk")
    assert "PushedFilters: [IsNotNull(vec_id), IsNotNull(label)" in plan
    assert "EqualTo(label,3)" in plan
    assert "TakeOrderedAndProject" in plan


def test_bootstrap_resamples_map_side(spark):
    # Poisson bootstrap: the explode happens on the scan side; the only
    # data shuffle carries B partial aggregates per map task (partial +
    # final HashAggregate), never the exploded rows unaggregated.
    plan = plan_of(spark, "stats_bootstrap_ci_mean")
    assert plan.count("HashAggregate") >= 2
    assert "Generate explode" in plan
    assert "SortMergeJoin" not in plan


def test_gd_rounds_have_no_joins_on_data_path(spark):
    # Each GD round is scan + aggregate against broadcast parameters:
    # no sort-merge join, no window anywhere in the 5-round plan.
    plan = plan_of(spark, "ml_gd_linreg_rounds")
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row parameter broadcast


def test_kcore_peel_no_cartesian(spark):
    plan = plan_of(spark, "graph_kcore_peel")
    assert "CartesianProduct" not in plan


def test_isotonic_quadratic_table_is_broadcast(spark):
    # The O(|x|^2) interval build must be a broadcast non-equi join over
    # the aggregated distinct-x table, never a sort-merge join.
    plan = plan_of(spark, "ml_isotonic_fit")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skyline_is_two_phase(spark):
    # Phase 1 local skylines must be spark_partition_id-partitioned
    # windows (phase 2's global frontier scan then sees only the pruned
    # union). The physical plan aliases the partition-id expression, so
    # assert on the optimized logical plan.
    from bigdata_electricity_spark.plans import REGISTRY

    df = REGISTRY["skyline_customer_frontier"].fn(spark, "/root/testdata/sf0.001")
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "SPARK_PARTITION_ID" in logical
    assert "CartesianProduct" not in plan_of(spark, "skyline_customer_frontier")


# --- broadcast-hint policy sweep (r5 verdict item 1) -----------------------
#
# Explicit F.broadcast hints are NOT demoted by AQE, so a hint on a table
# that scales with SF (customer/part/supplier — tens of GB at the 100 TB
# tier, past Spark's 8 GB broadcast cap) is a planner error at scale. The
# policy (operators/dims.py) keeps unconditional hints only on
# constant-cardinality dims (nation 25 / region 5 rows) and on bounded
# aggregates (1-row cutoffs, O(k) parameter sets). This sweep proves it:
# with autoBroadcastJoinThreshold=-1 (the 100 TB stand-in — nothing
# qualifies for a stats-based broadcast), every star/TPC-H entry must
# (a) produce identical values, and (b) plan any REMAINING BroadcastExchange
# only over constant dims or a global (keys=[]) aggregate — never a raw
# scan of an SF-scaling table.

_SCALING_SCANS = (
    "customer.parquet", "part.parquet", "supplier.parquet",
    "orders.parquet", "lineitem.parquet", "documents.parquet",
    "embeddings.parquet", "events.parquet",
)

_DEMOTION_ENTRIES = sorted(
    n for n in REGISTRY if n.startswith(("tpch_", "join_"))
    # the bucketed entry has its own demotion test (and DDL side effects)
    and n != "join_bucketed_colocated_priority"
) + [
    # other star-join / broadcast-bearing entries de-hinted under the
    # same policy
    "graph_pagerank_nations",
    "maintain_cascade_delete",
    "audit_referential_integrity",
    "text_tfidf_top_term",
    "sim_fuzzy_name_pairs",
]


def _node_depth(line: str) -> int:
    """Marker column of a plan-tree line; -1 for the root line.

    Lines printed WITHOUT a branch marker (e.g. ReusedExchange /
    subquery continuation lines) fall back to their indentation width —
    returning -1 for them would make _broadcast_subtrees truncate a
    BroadcastExchange subtree early and let a forced broadcast of a
    scaling-table scan evade the demotion sweep's assertion.
    """
    for i, ch in enumerate(line):
        if ch not in " :+-":
            marker = max(line.find("+-", 0, i + 2), line.find(":-", 0, i + 2))
            if marker != -1:
                return marker
            return i if i > 0 else -1  # indentation fallback; col-0 = root
    return -1


def _broadcast_subtrees(plan: str) -> list[str]:
    """The printed subtree of every BroadcastExchange node."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = _node_depth(line)
        sub = [line]
        for nxt in lines[i + 1:]:
            if _node_depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


# Grouped broadcasts whose group keys are constant-cardinality BY
# CONSTRUCTION (not merely small in the fixture) — each key below is a
# nation name, so the broadcast side is ≤ 25 rows at every SF even
# though its subtree scans the fact tables.
_BOUNDED_GROUPED_BROADCASTS = {
    "graph_pagerank_nations": ("keys=[dst", "keys=[node"),
}


@pytest.mark.parametrize("name", _DEMOTION_ENTRIES)
def test_no_forced_broadcast_of_scaling_tables(spark, name):
    baseline = sorted(map(tuple, REGISTRY[name].fn(spark, SF_DIR).collect()))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY[name].fn(spark, SF_DIR)
        demoted = sorted(map(tuple, df.collect()))
        assert demoted == baseline, f"{name}: values changed under demotion"
        plan = df._jdf.queryExecution().executedPlan().toString()
        bounded_keys = _BOUNDED_GROUPED_BROADCASTS.get(name, ())
        for sub in _broadcast_subtrees(plan):
            bounded = "keys=[]" in sub  # global aggregate → O(1) rows
            bounded = bounded or any(k in sub for k in bounded_keys)
            constant_dim_only = not any(t in sub for t in _SCALING_SCANS)
            assert bounded or constant_dim_only, (
                f"{name}: forced broadcast of an SF-scaling table:\n{sub[:1500]}"
            )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_containment_join_is_blocked_not_cartesian(spark):
    # The candidate join must key on the block column (equi-join on
    # source) — a CartesianProduct/NestedLoop would mean blocking was
    # lost to a non-equi-only condition.
    plan = plan_of(spark, "dedup_containment_best")
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_zipf_prefix_sum_is_two_phase(spark):
    # Type ranks come from the partitioned prefix-sum helper: windows
    # keyed by __pid only, never a single-partition global window.
    plan = plan_of(spark, "corpus_zipf_slope")
    assert "windowspecdefinition(__pid" in plan, plan[:2000]
    # EVERY window in the plan is a per-__pid window — no global-order one
    assert plan.count("windowspecdefinition(") == plan.count(
        "windowspecdefinition(__pid"
    ), plan[:2000]


def test_mad_windows_are_partitioned_by_event_type(spark):
    # Both counting-median passes must partition their windows by
    # event_type — a global-order window over raw values would single-
    # partition the whole stream.
    plan = plan_of(spark, "events_anomaly_mad")
    assert "Exchange SinglePartition" not in plan.split("windowspecdefinition")[0], plan[:1500]
    assert "windowspecdefinition(event_type" in plan, plan[:2000]


def test_benford_prunes_to_price_column(spark):
    plan = plan_of(spark, "audit_benford_totalprice")
    read = plan.split("ReadSchema")[1][:200]
    assert "o_totalprice" in read
    assert "o_custkey" not in read and "o_orderdate" not in read


def test_aqe_skew_join_splits_planted_hot_key(spark):
    """r8 VERDICT task 3: certify Spark's NATIVE skew handling next to
    the manual salt. Plant a hot key (one key ≈ 6× the rest of the fact
    table), lower the AQE skew thresholds to local-test scale, and
    assert (a) the final adaptive plan carries the skew-split markers
    and (b) the result matches operators/skew.salted_join on the same
    fixture — the two mitigation paths must agree bit-for-bit.

    Payload is md5 (incompressible): skew detection reads COMPRESSED
    shuffle-block sizes, and a repetitive planted payload compresses
    below any realistic threshold — that, not the rule, is why a naive
    fixture never fires (measured while building this test).
    """
    from pyspark.sql import functions as F

    from bigdata_electricity_spark.operators.skew import salted_join

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    hot = spark.range(300000).select(
        F.lit(1).cast("long").alias("k"),
        F.md5(F.col("id").cast("string")).alias("val"),
    )
    cold = spark.range(50000).select(
        (F.pmod(F.col("id"), F.lit(49)) + 2).cast("long").alias("k"),
        F.md5(F.col("id").cast("string")).alias("val"),
    )
    fact = hot.unionAll(cold)
    dim = spark.range(1, 51).select(
        F.col("id").alias("k"),
        F.concat(F.lit("label"), F.col("id").cast("string")).alias("lab"),
    )
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = (
            fact.join(dim.hint("merge"), "k")
            .groupBy("lab")
            .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("val").alias("d"))
        )
        qe = j._jdf.queryExecution()
        aqe_rows = sorted(map(tuple, j.collect()))
        plan = qe.executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan, plan[:2000]  # AQEShuffleRead ... skewed
    finally:
        for k in confs:
            spark.conf.unset(k)
    salted = sorted(
        map(
            tuple,
            salted_join(fact, dim, on="k", salt_buckets=8)
            .groupBy("lab")
            .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("val").alias("d"))
            .collect(),
        )
    )
    assert aqe_rows == salted


def test_doulion_gate_inside_candidate_join(spark):
    """r10: the DOULION edge-sample gate must sit INSIDE the ids-only
    bucket self-join condition (evaluated in codegen before any output
    row exists), and the unit vectors must join back only after it —
    if the gate drifted above the join or the vectors rode the
    candidate stream, the twin would inherit the exact entry's n^1.5
    byte mass."""
    from bigdata_electricity_spark.operators.similarity import (
        pairwise_near_dups_sampled,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        pairwise_near_dups_sampled(emb, threshold=0.3, sample_mod=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    join_lines = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "pmod(xxhash64(" in ln
    ]
    assert join_lines, f"sampling gate not in a join condition:\n{plan}"
    # the gated join is over bucket/id columns only - no unit arrays
    assert "unit" not in join_lines[0]


def test_decon_embedding_plan_prescore_rescore_shape(spark):
    """r13 optimization: the semantic-decontamination queue BLAS-prunes
    the n×m scoring in ONE Arrow stage (the corpus streams through
    mapInPandas once, the eval matrix rides in the closure), then
    exactly re-scores only the pruned candidates — so the plan must
    show the Python stage, a BROADCAST join attaching the eval vectors
    to the candidates (never a shuffle of them), the map-side-combining
    struct-min argmax, and a TakeOrderedAndProject top-k — never a
    BroadcastNestedLoopJoin over all n×m pairs and never a global
    sort."""
    from bigdata_electricity_spark.plans import REGISTRY

    plan = (
        REGISTRY["decon_embedding_topk"].fn(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_min" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # no full sort BY COSINE anywhere (the struct-min SortAggregate
    # sorts locally by vec_id — that one is fine); the only cos
    # ordering is inside TakeOrderedAndProject's bounded heap
    assert "Sort [cos" not in plan, plan


def test_rolling_dedup_single_content_exchange(spark):
    """dedup_substring_rolling (r11 VERDICT task 1): the window-content
    ranking must be the ONLY content-keyed wide exchange — the coverage
    decision and the window stats fold into per-doc passes, so a
    refactor that re-scans the flagged windows (a second w-keyed
    shuffle) fails here."""
    plan = plan_of(spark, "dedup_substring_rolling")
    hash_ex = [
        seg[:80] for seg in plan.split("Exchange hashpartitioning")[1:]
    ]
    content_keyed = [s for s in hash_ex if "w#" in s]
    assert len(content_keyed) == 1, content_keyed
    doc_keyed = [s for s in hash_ex if "doc_id#" in s]
    assert len(doc_keyed) == 1, doc_keyed
