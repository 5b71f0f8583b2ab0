"""Physical-plan audits: the properties that make these queries scale
must be visible in the plan, not assumed (SURVEY.md §4 / task brief:
pushdown reaches the scan, dims broadcast, top-K avoids a global sort,
heavy kernels don't inherit single-file parallelism)."""

from __future__ import annotations

from real_time_streaming_system_with_apache_kafka_spark.operators import (
    joins,
    relational,
)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(relational.p1_equality_filter(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "EqualTo(o_orderstatus,F)" in plan
    # Only the 4 selected columns reach the scan.
    assert "o_orderpriority" not in plan.split("ReadSchema")[1][:300]


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(joins.j1_star_join_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan or "GreaterThanOrEqual(o_orderdate" in plan


def test_q5_broadcasts_all_dims_single_fact_shuffle(spark, sf_dir):
    """TPC-H Q5: supplier/customer/nation/region all broadcast; the
    only exchanges are the fact-fact join and the final agg."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics

    plan = _plan(analytics.q5_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # supp, cust, nation(+region folded)
    # The correlated c_nationkey = s_nationkey must ride a join, not a
    # post-join filter over a cross product.
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q10_take_ordered_no_global_sort(spark, sf_dir):
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics

    plan = _plan(analytics.q10_returned_items(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan and "l_returnflag" in plan  # filter reaches scan


def test_resample_spine_no_cartesian(spark, sf_dir):
    """The time spine must come from per-group sequence+explode, never
    a calendar cross join against the fact table."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import timeseries

    plan = _plan(timeseries.ts_resample_locf(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_deterministic_sample_is_scan_side_filter(spark, sf_dir):
    """The md5-bucket sample is a pure per-row filter — one scan, no
    shuffle, no join."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import sampling

    plan = _plan(sampling.sample_events_deterministic(spark, sf_dir))
    assert "Exchange" not in plan  # no shuffle anywhere
    assert "Join" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(relational.q0_snapshot_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT


def test_projection_prunes_scan(spark, sf_dir):
    plan = _plan(relational.pr1_projection(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema  # unused columns pruned


def test_q6_is_pure_scan_aggregate(spark, sf_dir):
    """Q6 must compile to scan -> partial agg -> single-row final agg:
    no join operator of any kind, and every predicate pushed to the
    parquet reader."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch

    plan = _plan(tpch.q6_forecast_revenue(spark, sf_dir))
    assert "Join" not in plan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan
    assert "LessThan(l_quantity,24" in plan


def test_q14_single_broadcast_join(spark, sf_dir):
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch

    plan = _plan(tpch.q14_promo_effect(spark, sf_dir))
    # Tree form counts each operator once (details repeat the name).
    assert plan.count("BroadcastHashJoin Inner") == 1  # part is the only join
    assert "GreaterThanOrEqual(l_shipdate,1996-09-01" in plan


def test_q15_scalar_subquery_broadcasts(spark, sf_dir):
    """The max-revenue scalar must arrive as a broadcast one-row build
    side, never a nested-loop or cartesian comparison."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch

    plan = _plan(tpch.q15_top_supplier(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # max scalar + supplier dim
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_brand_filter_reaches_both_scans(spark, sf_dir):
    """The decorrelated per-part average must broadcast back, and the
    brand filter must prune the part scan (the lineitem side is pruned
    through the broadcast join, not a scan filter)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch

    plan = _plan(tpch.q17_small_qty_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(p_brand,Brand#23)" in plan


def test_q18_having_then_topk(spark, sf_dir):
    """The HAVING aggregate runs before any join, and the final order/
    limit is TakeOrderedAndProject, not a global sort."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch

    plan = _plan(tpch.q18_large_volume_customer(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_compiles_to_semi_join(spark, sf_dir):
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch

    plan = _plan(tpch.q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # pushed to the lineitem scan


def test_q2_min_cost_rejoin_broadcasts(spark, sf_dir):
    """Q2's correlated-MIN rewrite: every dimension and the per-part
    min-cost aggregate arrive as broadcast build sides; the only big
    shuffle is the supply-view group-by. The part filters must prune
    the part scan."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch_full

    plan = _plan(tpch_full.q2_min_cost_supplier(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(p_type,STANDARD)" in plan
    assert "EqualTo(p_size,15)" in plan
    assert "TakeOrderedAndProject" in plan


def test_q7_nation_pair_broadcasts_twice(spark, sf_dir):
    """Q7: the nation dimension broadcasts on both the supplier and the
    customer side; the ship-window predicate reaches the lineitem scan;
    no cartesian from the symmetric pair disjunction."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch_full

    plan = _plan(tpch_full.q7_volume_shipping(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan
    assert "In(n_name, [NATION_1,NATION_2])" in plan


def test_q8_six_table_star_stays_broadcast(spark, sf_dir):
    """Q8: part/supplier/nation/region all broadcast; the ASIA customer
    probe is a semi join (it contributes no columns); the only fact
    shuffles are the orders join and the year group-by."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch_full

    plan = _plan(tpch_full.q8_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "LeftSemi" in plan
    assert "EqualTo(p_type,ECONOMY)" in plan


def test_q13_zero_bucket_outer_join(spark, sf_dir):
    """Q13 keeps zero-order customers: the customer->orders join must
    stay an outer join (not be rewritten inner by the count), and the
    URGENT exclusion must prune the orders scan."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch_full

    plan = _plan(tpch_full.q13_customer_distribution(spark, sf_dir))
    assert "Outer" in plan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_q19_disjunction_single_join_no_union(spark, sf_dir):
    """Q19's three OR'd bands must evaluate as one broadcast join plus
    a row-side predicate — not three unioned scans — and the common
    quantity upper bound must reach the lineitem scan."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch_full

    plan = _plan(tpch_full.q19_disjunctive_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin Inner") == 1
    assert "Union" not in plan
    assert "LessThanOrEqual(l_quantity,30" in plan
    # Catalyst decomposes the OR into per-side scan filters too:
    assert "EqualTo(p_brand,Brand#13)" in plan


def test_q20_semi_join_chain(spark, sf_dir):
    """Q20: both nested reductions compile to semi joins (parts filter
    into lineitem, qualifying volumes into supplier) — supplier rows
    are never multiplied."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch_full

    plan = _plan(tpch_full.q20_excess_suppliers(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "StartsWith(p_name,small)" in plan


def test_q21_single_orderkey_shuffle(spark, sf_dir):
    """Q21's double-EXISTS rewrite: one aggregation keyed on
    l_orderkey replaces both correlated probes — no nested-loop, no
    cartesian, supplier broadcast, finished-orders probe is a semi
    join."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch_full

    plan = _plan(tpch_full.q21_sole_returning_supplier(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """Q22: "never ordered" must be a left-anti join and the global
    average a broadcast one-row build side; the nation subset prunes
    the customer scan."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import tpch_full

    plan = _plan(tpch_full.q22_global_sales_opportunity(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 1
    assert "In(c_nationkey, [1,11,13,3,5,7,9])" in plan or "In(c_nationkey" in plan


def test_funnel_three_windows_one_exchange(spark, sf_dir):
    """All three funnel stage probes are window-mins over the same
    user_id partition — the plan must carry exactly one shuffle for
    them (plus the tiny per-user/summary aggregates), never a
    self-join per stage."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import (
        pipeline_analytics,
    )

    plan = _plan(pipeline_analytics.funnel_conversion(spark, sf_dir))
    assert "Join" not in plan
    # Exactly 2 exchanges: one user_id partition feeding all three
    # Window ops + the per-user agg, one single-row final combine.
    assert plan.count("- Exchange") == 2
    assert plan.count("- Window") == 3
    assert plan.count("- Sort") == 1  # windows chain without re-sorting


def test_tokens_tf_partial_agg_then_topk(spark, sf_dir):
    """Explode TF: the per-term count must combine map-side (partial
    aggregate below the exchange) and the top-K must be
    TakeOrderedAndProject, not a global sort."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import (
        pipeline_analytics,
    )

    plan = _plan(pipeline_analytics.tokens_top_terms(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_decontaminate_benchmark_side_broadcasts(spark, sf_dir):
    """The benchmark n-gram set is fixed-size (eval sets don't grow
    with the corpus): it must broadcast so the corpus-side inverted
    index never shuffles its gram rows for the contamination probe."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.decontaminate_holdout(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ohlc_single_exchange_partial_combine(spark, sf_dir):
    """OHLC bars are one grouped aggregation: a single exchange with
    map-side partial combine, no join, no extra shuffle. (Spark picks
    sort-based aggregation because min_by's composite ordering key is
    a string — an accepted cost: the sort is per-partition, after the
    partial combine has already shrunk each map output to one row per
    (type, hour).)"""
    from real_time_streaming_system_with_apache_kafka_spark.operators import timeseries

    plan = _plan(timeseries.ts_ohlc_bars(spark, sf_dir))
    assert plan.count("+- Exchange") == 1
    assert "partial_min_by" in plan  # map-side combine before the shuffle
    assert "Join" not in plan


def test_anomaly_stats_broadcast_back(spark, sf_dir):
    """Per-type moment sums are a handful of rows; rejoining them to
    the event stream must broadcast, not shuffle the fact table."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import timeseries

    plan = _plan(timeseries.anomaly_zscore(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_pii_redact_is_scan_only(spark, sf_dir):
    """Regex scrubbing is a pure projection: zero exchanges."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.text_pii_redact(spark, sf_dir))
    assert "Exchange" not in plan


def test_scd2_windows_share_one_shuffle(spark, sf_dir):
    """Change detection (lag) and interval close (lead/row_number) both
    partition on user_id: one exchange serves every window."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import timeseries

    plan = _plan(timeseries.scd2_user_state(spark, sf_dir))
    assert plan.count("+- Exchange") == 1
    assert "Join" not in plan


def test_stratified_sample_counts_broadcast(spark, sf_dir):
    """Stratum sizes must arrive by broadcast: the corpus scan keeps
    its partitioning and the acceptance filter runs map-side."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import sampling

    plan = _plan(sampling.sample_stratified_balanced(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_df_and_count_broadcast(spark, sf_dir):
    """Per-term DF and the corpus count join back as broadcasts; the
    only big shuffles are the two hash aggregations and the per-doc
    top-k window."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.text_tfidf_terms(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    # The single-row corpus count may ride a broadcast nested-loop
    # CROSS join — O(n) with a 1-row build side, the right scalar
    # shape. A non-broadcast cartesian is the failure mode.
    assert "CartesianProduct" not in plan
    # Spark's rank-pushdown prunes per-doc rows before the final sort.
    assert "WindowGroupLimit" in plan


def test_salted_agg_two_phase_shape(spark, sf_dir):
    """The salted aggregation's first exchange keys on (event_type,
    salt) — hot keys fan out — and the merge exchange moves only
    keys x N_SALT rows."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import skew

    plan = _plan(skew.agg_salted_skew(spark, sf_dir))
    assert "salt" in plan and "hashpartitioning" in plan
    # Both branches partial-aggregate map-side before their exchange.
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_global_order_no_global_sort(spark, sf_dir):
    """The two-phase global rank must never range-partition the corpus
    into one global sort: the corpus-side window partitions by the
    hash-prefix bucket; the only single-partition stage is the 256-row
    offsets window."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import sampling

    plan = _plan(sampling.shuffle_global_order(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(b" in plan
    assert "BroadcastHashJoin" in plan  # offsets join back by broadcast


def test_inverted_index_rank_pushdown(spark, sf_dir):
    """The postings sample must prune map-side (WindowGroupLimit): a
    hot term's full posting list never travels the shuffle."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.text_inverted_index(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_rank_family_recovers_window_group_limit(spark, sf_dir):
    """The r3 rewrite derives ntile/percent_rank/cume_dist from
    broadcast counts so the ONLY window is row_number — which Spark
    prunes map-side. Without this the whole partition materializes to
    emit 100 rows."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import extras

    plan = _plan(extras.wf_rank_family(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_domain_cap_prunes_map_side(spark, sf_dir):
    """The per-domain cap must carry a PARTIAL WindowGroupLimit below
    the exchange: a hot domain contributes at most K rows per input
    partition to the shuffle, so domain skew cannot overload a
    reducer."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import sampling

    plan = _plan(sampling.sample_domain_cap(spark, sf_dir))
    # Both phases present: Partial (map-side, pre-shuffle) and Final.
    assert plan.count("WindowGroupLimit") >= 2
    assert "Partial" in plan and "Final" in plan


def test_gopher_gates_scan_only(spark, sf_dir):
    """All six quality rules are per-row column expressions: the plan
    must contain no exchange at all — one scan, zero shuffle."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.quality_gopher_gates(spark, sf_dir))
    assert "Exchange" not in plan


def test_lsh_verified_no_cartesian(spark, sf_dir):
    """The exact-Jaccard verify stage must join shingle sets back to
    the candidate pairs by doc_id (hash joins) — never a cartesian
    re-derivation of the pair space."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import dedup

    plan = _plan(dedup.dedup_lsh_verified(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunker_is_generate_only(spark, sf_dir):
    """The RAG chunker is a per-row generator: one scan, a Generate
    (posexplode) node, zero shuffle, zero joins."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.chunk_documents(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" in plan


def test_weighted_terms_broadcasts_vocabulary(spark, sf_dir):
    """The linear-model vocabulary must broadcast; the only shuffle is
    the per-doc score aggregation (plus the corpus-side join exchange
    for the left join back to the doc spine)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.quality_weighted_terms(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # Partial aggregation collapses each doc map-side before shuffling.
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_knn_join_no_pair_shuffle(spark, sf_dir):
    """The KNN self-join must keep the quadratic score matrix inside
    the Arrow kernel: no join node at all — only the salted-group
    exchange feeding FlatMapGroupsInPandas."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity

    plan = _plan(similarity.sim_knn_join(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_passage_dedup_no_cartesian_single_count_shuffle(spark, sf_dir):
    from real_time_streaming_system_with_apache_kafka_spark.operators import dedup

    plan = _plan(dedup.dedup_passage(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_passage_dedup_single_exchange_no_join(spark, sf_dir):
    """Since the window-count rewrite: ONE exchange on the passage
    digest (shared by the window and reused downstream), no join, no
    checkpointed intermediate."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import dedup

    plan = _plan(dedup.dedup_passage(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" in plan


def test_pq_topk_one_encode_pass_all_broadcast(spark, sf_dir):
    """PQ flat scan: exactly one Arrow encode pass over the corpus;
    query LUTs and query vectors broadcast (no shuffle join of the
    corpus against queries); no cartesian between big sides."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity

    plan = _plan(similarity.sim_pq_topk(spark, sf_dir))
    # Two distinct Arrow operator ids only: the corpus encode pass and
    # the shortlist-sized rerank cosine kernel. The ADC scoring itself
    # is pure codegen. Counting "(id) ArrowEvalPython" node headers in
    # the formatted tree (not raw substring occurrences) stays stable
    # if Spark changes how often the detail section repeats a node.
    import re

    arrow_ids = set(re.findall(r"\((\d+)\)\s+ArrowEvalPython", plan))
    assert len(arrow_ids) == 2, arrow_ids
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_scores_only_probed_cells(spark, sf_dir):
    """IVF+PQ: probed cells and LUTs broadcast into the coded-corpus
    scan; the ADC stage joins on label (hash join against broadcast
    probe rows), never a corpus-wide cartesian."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity

    plan = _plan(similarity.sim_ivfpq_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # label-keyed probe join


def test_zorder_single_scan_broadcast_bounds(spark, sf_dir):
    """Z-order stats: one events scan feeding the keyed agg, bounds as
    a broadcast scalar row, no shuffle beyond the bucket agg."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import layout

    plan = _plan(layout.layout_zorder_events(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan  # pure codegen interleave


def test_reconcile_checksum_scan_only_single_agg(spark, sf_dir):
    """The table fingerprint is a scan plus one tiny hash-agg: no
    joins, no windows, no Python."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import extras

    plan = _plan(extras.reconcile_checksum(spark, sf_dir))
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan
    # Three exchanges only (each appears twice in formatted output):
    # the gated compute rebalance (load_rebalanced — fires on the
    # degenerate single-rowgroup fixture, absent on well-laid-out
    # data), the agg shuffle, and the final tiny range sort.
    assert plan.count("Exchange") <= 6


def test_filtered_ann_predicate_reaches_scan(spark, sf_dir):
    """Pre-filtered vector search: the metadata predicate must push
    into the parquet scan (row groups of ineligible vectors never
    read) — the property that makes pre-filtering cheaper than
    post-filter oversampling."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity

    plan = _plan(similarity.sim_filtered_topk(spark, sf_dir))
    assert "GreaterThanOrEqual(label," in plan  # PushedFilters entry
    assert "CartesianProduct" not in plan


def test_mask_span_plan_zero_shuffle(spark, sf_dir):
    """Span planning is generate-only: one projection + posexplode,
    no Exchange, no Join — the chunk_documents shape."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.mask_span_plan(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_domain_calibration_no_global_sort(spark, sf_dir):
    """Calibration ranks WITHIN source: the window exchange is hash
    partitioning on source, never a rangepartitioning global sort."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.quality_domain_calibrated(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower()


def test_lines_c4_single_line_exchange_no_join(spark, sf_dir):
    """Line dedup attaches first-occurrence in place via an unordered
    window — no join back to the corpus; exchanges are the compute
    rebalance, the line window, and the per-doc agg."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import dedup

    plan = _plan(dedup.dedup_lines_c4(spark, sf_dir))
    assert "Join" not in plan
    # formatted output repeats each node in tree + detail sections
    assert plan.count("Exchange") <= 6


def test_lm_surprise_hash_joins_only(spark, sf_dir):
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.quality_lm_surprise(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hard_negatives_bucket_join_no_cartesian(spark, sf_dir):
    """The candidate generator is the bucket equality join (broadcast
    probe side), never a corpus-wide cartesian."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity

    plan = _plan(similarity.sim_hard_negatives(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_curation_funnel_single_scan_no_join(spark, sf_dir):
    """The funnel must derive all three stages from ONE corpus scan:
    window-based survivor election, no self-join re-deriving flags."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.curation_funnel(spark, sf_dir))
    assert "Join" not in plan
    # formatted output names each node in tree + detail section: one
    # physical scan appears exactly twice.
    assert plan.count("Scan parquet") == 2


def test_bpe_pair_stats_pruned_scan_take_ordered(spark, sf_dir):
    """BPE pair ranking reads only the text column and finishes with
    TakeOrderedAndProject (no global sort of the pair space)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import text

    plan = _plan(text.vocab_bpe_pair_stats(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "struct<text:string>" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_bm25_broadcasts_stats_and_prunes_topk(spark, sf_dir):
    """BM25's model-side inputs (df table, query terms, corpus totals)
    all broadcast — the corpus-side tf stream never shuffles for them —
    and the per-query top-k is a WindowGroupLimit (map-side prune), not
    a global sort of all scored docs."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import retrieval

    plan = _plan(retrieval.search_bm25_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # df_t and qterms
    assert "WindowGroupLimit" in plan


def test_dsir_weight_table_broadcasts(spark, sf_dir):
    """The bucketed feature-weight table is fixed-size (DSIR_BUCKETS
    rows at any corpus size): it must broadcast back onto the exploded
    corpus, never shuffle the gram stream to meet it."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import retrieval

    plan = _plan(retrieval.dsir_importance(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_classifier_eval_sweeps_histogram_not_corpus(spark, sf_dir):
    """The threshold sweep must run over the (score,label) histogram:
    the plan aggregates to the histogram BEFORE the threshold join, so
    the 10-way expansion multiplies histogram rows, not corpus rows."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.quality_classifier_eval(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # Tree prints top-down: the broadcast expansion against the
    # threshold VALUES (BroadcastNestedLoopJoin of a 10-row local
    # relation) must sit ABOVE the corpus score/label join — i.e. the
    # sweep multiplies the already-aggregated histogram, not the
    # corpus.
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" in tree and "SortMergeJoin" in tree
    assert tree.index("BroadcastNestedLoopJoin") < tree.index(
        "SortMergeJoin"
    )


def test_drift_weights_and_totals_broadcast(spark, sf_dir):
    """Both tiny sides of the drift audit (the per-source weight table
    on the sampling filter, the observed-count rollup on the weights
    spine) broadcast; the only O(corpus) work is the sampled scan."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import datamix

    plan = _plan(datamix.mix_drift_chi2(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_compaction_plan_no_join_metadata_window(spark, sf_dir):
    """The planner is aggregation + window only — no join anywhere —
    and the window partitions by day (no global sort of the file
    list)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import layout

    plan = _plan(layout.layout_compaction_plan(spark, sf_dir))
    assert "Join" not in plan
    assert "partition_day" in plan


def test_embed_outliers_moments_broadcast_topk_pruned(spark, sf_dir):
    """The per-(label,pos) moment table (labels x dims rows at any
    corpus size) broadcasts back onto the exploded vectors, and the
    per-label top-k is WindowGroupLimit-pruned."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.embed_outlier_scores(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # moments + label totals
    assert "WindowGroupLimit" in plan


def test_span_lengths_benchmark_side_broadcasts(spark, sf_dir):
    """Same broadcast discipline as decontaminate_holdout: the bench
    gram set is fixed-size; the positional corpus grams are tagged
    map-side."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.decontaminate_span_lengths(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_source_overlap_totals_broadcast_no_cartesian(spark, sf_dir):
    """The pair join runs digest-to-digest on the deduplicated
    (digest, source) table — an equality join, never a source-pair
    cartesian — and the per-source totals broadcast into the ratio."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation

    plan = _plan(curation.profile_source_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_vwap_single_hash_aggregate(spark, sf_dir):
    """VWAP is one hash aggregation with map-side partial combine —
    exactly one exchange, no join, no sort in the aggregation path."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import timeseries

    plan = _plan(timeseries.ts_vwap_bars(spark, sf_dir))
    # Node names appear once in the tree and once in the detail
    # section; "Name (" counts tree nodes only.
    assert plan.count("Exchange (") == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate (") == 2  # partial + final


def test_cms_take_ordered_and_broadcast_cells(spark, sf_dir):
    """Heavy hitters come from distributed TakeOrderedAndProject (no
    global single-partition window over the vocabulary) and the
    WIDTHxDEPTH cell table broadcasts into the probe join."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import sketches

    plan = _plan(sketches.sketch_cms_heavy_hitters(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_set_bits_broadcast(spark, sf_dir):
    """The bloom's set-bit table and the exact bench-gram table are
    both fixed-size broadcasts; the training gram stream is tagged
    map-side, never shuffled for the membership join."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import sketches

    plan = _plan(sketches.sketch_bloom_decontaminate(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_hybrid_rrf_topk_lists_prune_before_fusion(spark, sf_dir):
    """Both retriever lists prune to top-K per query BEFORE the fusion
    join (WindowGroupLimit pushes the rank filter map-side), so the
    full-outer fusion join touches O(queries x K) rows; the exemplar
    query vectors broadcast against the embedding table."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import retrieval

    plan = _plan(retrieval.search_hybrid_rrf(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    # The only nested-loop join is BM25's documented 1-row corpus
    # totals broadcast; a true cartesian never appears.
    assert "CartesianProduct" not in plan


def test_zonemap_stats_single_scan(spark, sf_dir):
    """The per-file stats table (min/max + all probe match counts)
    builds from ONE scan of events — one exchange on file_id — and the
    per-probe rollups aggregate checkpointed metadata, so the corpus
    is never re-read per probe."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import layout

    df = layout.layout_zonemap_skipping(spark, sf_dir)
    plan = _plan(df)
    assert "Scan parquet" not in plan  # inputs are the checkpointed stats
    assert "Join" not in plan


def test_hll_one_corpus_aggregate_registers_broadcast(spark, sf_dir):
    """The HLL register build is ONE grouping-sets hash aggregate over
    the corpus (Expand + partial/final max — map-side combinable);
    the register summary joins the exact-distinct side via broadcast;
    no join ever touches corpus-sized rows."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import sketches

    plan = _plan(sketches.sketch_hll_distinct(spark, sf_dir))
    assert "Expand" in plan  # grouping sets, not a union of two aggs
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # Register build + exact-distinct side: two corpus scans total.
    assert plan.count("Scan parquet  (") <= 2


def test_kmv_sketch_materialized_once_pairs_sketch_sized(spark, sf_dir, monkeypatch):
    """The KMV sketch is materialized ONCE (localCheckpoint — every
    pair operation reads sketch rows, not the corpus); per-pair
    top-K runs through WindowGroupLimit; the only corpus-sized scans
    are the exact-Jaccard audit side (profile_source_overlap's
    accepted shape)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import sketches
    from real_time_streaming_system_with_apache_kafka_spark.functions import checkpoints

    # Inspect the computation plan, not the checkpointed result's
    # `Scan ExistingRDD` (r9: results materialize + release at exit).
    monkeypatch.setattr(checkpoints, "PLAN_INSPECTION_MODE", True)

    plan = _plan(sketches.sketch_kmv_overlap(spark, sf_dir))
    assert "Scan ExistingRDD" in plan  # checkpointed sketch reuse
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    # Exact audit side only: shared(a,b) + per-source totals.
    assert plan.count("Scan parquet  (") <= 4


def test_semantic_decon_bench_broadcasts_probe_fanout(spark, sf_dir):
    """The benchmark slice carries the multi-probe fan-out and
    broadcasts; the training corpus emits one bucket key per table and
    joins map-side — no shuffle of training rows for the candidate
    join, no all-pairs fallback."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity

    plan = _plan(similarity.decontaminate_semantic(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_pca_projection_pass_exchange_free_and_uncheckpointed(spark, sf_dir):
    """r10: embed_pca_power's returned plan is the projection pass
    alone — a plain scan + filter + codegen'd fold with a literal
    direction vector. No Exchange (the rebalance belongs to the Gram
    pass only), no `Scan ExistingRDD` (the centered-matrix
    localCheckpoint is gone), and nothing left persisted (the model
    state lives in the literals, not in pinned blocks)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity

    jsc = spark.sparkContext._jsc.sc()
    pinned_before = jsc.getPersistentRDDs().size()
    df = similarity.embed_pca_power(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Scan ExistingRDD" not in plan
    assert "Scan parquet" in plan
    # Delta, not absolute: other operators' result checkpoints may be
    # legitimately pinned in the shared test session.
    assert jsc.getPersistentRDDs().size() == pinned_before


def test_winnowing_selection_is_array_local(spark, sf_dir, monkeypatch):
    """r10: the winnowing fingerprint selection runs inside the row —
    no Window nodes anywhere in the computation plan (the r9 shape
    shuffled the full gram stream by doc_id for two window passes),
    and the only Generate is the fingerprint explode plus none for
    raw grams (grams never exist as rows)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import dedup
    from real_time_streaming_system_with_apache_kafka_spark.functions import checkpoints

    monkeypatch.setattr(checkpoints, "PLAN_INSPECTION_MODE", True)
    plan = _plan(dedup.dedup_winnowing(spark, sf_dir))
    assert "Window" not in plan
    assert "posexplode" not in plan


def test_sq8_index_path_pure_codegen(spark, sf_dir, monkeypatch):
    """Unlike PQ's argmin encode, the SQ8 INDEX path (normalize,
    quantize, encode, asymmetric score) is JVM codegen — the only
    Python stage in the whole plan is the shared exact-cosine rerank
    kernel on shortlist rows (one distinct ArrowEvalPython node);
    the query side broadcasts; no all-pairs fallback beyond the
    5-query broadcast."""
    import re

    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity
    from real_time_streaming_system_with_apache_kafka_spark.functions import checkpoints

    # Inspect the computation plan, not the checkpointed result's
    # `Scan ExistingRDD` (r9: results materialize + release at exit).
    monkeypatch.setattr(checkpoints, "PLAN_INSPECTION_MODE", True)

    plan = _plan(similarity.sim_sq8_topk(spark, sf_dir))
    arrow_ids = set(re.findall(r"ArrowEvalPython \((\d+)\)", plan))
    assert len(arrow_ids) <= 1  # exact rerank kernel only
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_user_exchange_stacked_windows(spark, sf_dir):
    """The four chained step columns ride ONE hashpartitioning
    exchange on user_id (stacked Window operators), not one join or
    shuffle per step; no self-joins of the event stream."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics

    plan = _plan(analytics.events_funnel_steps(spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") <= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_retention_single_scan_window_denominator(spark, sf_dir):
    """One events scan: the cohort-size denominator comes from a
    window over the tiny cell table, never a second scan or a join
    back to the corpus."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics

    plan = _plan(analytics.events_retention_cohorts(spark, sf_dir))
    assert plan.count("Scan parquet  (") == 1
    assert "Join" not in plan


def test_basket_lift_pairs_explode_per_basket(spark, sf_dir, monkeypatch):
    """Pair generation is a per-basket Generate (bounded by basket
    size), never a corpus self-join of basket rows; the brand
    dimension, supports, and order total all broadcast; the
    corpus-sized tables are scanned EXACTLY ONCE (supports and the
    order total derive from the pattern histogram, r9)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics
    from real_time_streaming_system_with_apache_kafka_spark.functions import checkpoints

    # Inspect the computation plan, not the checkpointed result's
    # `Scan ExistingRDD` (the pattern histogram + result checkpoint).
    monkeypatch.setattr(checkpoints, "PLAN_INSPECTION_MODE", True)

    plan = _plan(analytics.basket_pair_lift(spark, sf_dir))
    assert "Generate" in plan  # per-basket pair explode
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # The only nested-loop is the broadcast of the 1-row order total.
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # NOTE the scan-once property (supports/total fold the pattern
    # histogram instead of rescanning lineitem) is enforced by the
    # eager pattern-histogram checkpoint, which inspection mode
    # bypasses — in this mode every branch re-lists the scan subtree,
    # so it can't be pinned by counting scans here. Executed shape:
    # the returned frame is a self-contained checkpoint (below).
    monkeypatch.setattr(checkpoints, "PLAN_INSPECTION_MODE", False)
    executed = _plan(analytics.basket_pair_lift(spark, sf_dir))
    assert "Scan parquet" not in executed  # result references nothing


def test_rfm_single_customer_shuffle_bounds_broadcast(spark, sf_dir):
    """One shuffle to the customer grain; the reference date and the
    12 quintile bounds are 1-row broadcasts; no sort-merge joins, no
    corpus-sized cartesian (the only nested-loops are the two 1-row
    broadcasts)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics

    plan = _plan(analytics.customer_rfm_segments(spark, sf_dir))
    # Two customer-grain passes (bounds, then scoring) — the standard
    # two-pass quantile shape (feature_quantile_bucketize precedent).
    assert plan.count("hashpartitioning(o_custkey") <= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 6


def test_rolling_actives_contribution_explode_no_self_join(spark, sf_dir):
    """The trailing-window distinct rewrites as contribution explode +
    re-distinct — no per-day self-join of the corpus, no corpus
    cartesian; the date-bound is a 1-row broadcast."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics

    plan = _plan(analytics.events_active_users_rolling(spark, sf_dir))
    assert "Generate" in plan  # sequence explode
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet  (") <= 3  # dau + wau + mau passes


def test_gini_two_phase_rank_no_global_sort(spark, sf_dir, monkeypatch):
    """The spend ranking is the bucketed two-phase rank: within-bucket
    windows partitioned by the value decile, never an unpartitioned
    row_number over the whole customer table (the 10-row decile
    cumulative window is fine — it is decile-sized, not corpus-sized)."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import analytics
    from real_time_streaming_system_with_apache_kafka_spark.functions import checkpoints

    # Inspect the computation plan, not the checkpointed result's
    # `Scan ExistingRDD` (r9: results materialize + release at exit).
    monkeypatch.setattr(checkpoints, "PLAN_INSPECTION_MODE", True)

    plan = _plan(analytics.revenue_concentration_gini(spark, sf_dir))
    assert "[bucket" in plan  # within-bucket rank window partitioned
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_substring_spans_join_free_single_explode(spark, sf_dir):
    """r9 optimization round: the dup-gram tag is two window counts
    over ONE g-clustered exchange (count per g > count per (g, doc_id)
    == appears in another doc), the per-doc total rides the rows as
    size(arr), and the islands fold out of one dup-only doc_id window
    — so the plan holds exactly one corpus explode, one
    hashpartitioning(g) exchange, one hashpartitioning(doc_id)
    exchange, and ZERO joins. The r8 form exploded the corpus three
    times, aggregated the dup-gram set, tag-joined it back twice, and
    re-joined the per-doc branches."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import dedup

    plan = _plan(dedup.dedup_substring_spans(spark, sf_dir))
    assert plan.count("hashpartitioning(doc_id") == 1
    assert plan.count("hashpartitioning(g#") == 1
    # formatted output repeats each node in tree + detail sections
    assert plan.count("Generate") <= 2  # one real explode
    n_joins = sum(
        plan.count(k)
        for k in (
            "SortMergeJoin",
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        )
    )
    assert n_joins == 0


def test_semantic_decon_one_exchange_scores_once_per_pair(spark, sf_dir):
    """r10 optimization round: LSH collisions dedup into a per-train
    candidate SET in the single exchange of the plan (collect_set of
    bench ids + the train embedding once per candidate-bearing train
    vector), the Arrow cosine kernel scores each DISTINCT pair exactly
    once (bench embedding re-attached from a fan-out-free broadcast),
    and the best-pick window reuses the aggregation's partitioning.
    The r9 shape scored every collision and took two exchanges; the
    r8 shape shuffled both vectors twice through a SortAggregate."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import similarity

    plan = _plan(similarity.decontaminate_semantic(spark, sf_dir))
    assert "SortAggregate" not in plan  # set-dedup object-hash-aggregates
    # TWO repartitionings, both keyed train_id: the collision-dedup
    # aggregate (payload: te once per candidate-bearing train vector +
    # the id set) and the best-pick window, whose rows are scalar-only
    # (train_id, n, bench_id, cos) — ArrowEvalPython resets the
    # child's outputPartitioning in Spark 4.1, so the window cannot
    # reuse the aggregate's exchange; what matters is that its payload
    # carries no embedding.
    assert plan.count("hashpartitioning(train_id") == 2
    assert "first(be" not in plan  # bench vectors never aggregated
    # Exactly one cosine kernel evaluation site (scored pairs), plus
    # the two signature sites — no per-collision re-score path.
    assert 1 <= plan.count("qcosine") <= 2  # tree + detail section


def test_lm_surprise_single_tf_subtree_window_model(spark, sf_dir, monkeypatch):
    """r9 optimization round: n1 is a window sum over the bigram
    vocabulary (no groupBy+self-join), and tf checkpoints once — the
    computation plan holds exactly TWO corpus explodes (tf build +
    scoring side; the checkpoint collapses them to one at runtime) and
    ONE join (the model tag-back). The r8 shape exploded the corpus
    three times and joined twice."""
    from real_time_streaming_system_with_apache_kafka_spark.operators import curation
    from real_time_streaming_system_with_apache_kafka_spark.functions import checkpoints

    monkeypatch.setattr(checkpoints, "PLAN_INSPECTION_MODE", True)
    plan = _plan(curation.quality_lm_surprise(spark, sf_dir))
    # formatted output repeats each node in tree + detail sections
    assert plan.count("Generate") <= 4  # two real explodes
    n_joins = sum(
        plan.count(k)
        for k in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_joins <= 2  # one real join: scored = tf x model
    assert "Window" in plan  # n1 = sum(n12) over (partition by w1)
