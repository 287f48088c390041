"""Plan-shape regression tests: the performance claims in docstrings
(pushdown, pruning, broadcast, window-limit) asserted against the actual
executed plans so a refactor cannot silently lose them."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

from .conftest import SF_SMOKE


def _plan(spark, qname: str) -> str:
    return QUERY_REGISTRY[qname].fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()


def test_filter_reaches_parquet_scan(spark):
    plan = _plan(spark, "q03_filter_project")
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "GreaterThanOrEqual" in pushed
    # column pruning: the scan must read a strict subset of the table
    from aws_datalake_platform_spark.catalog import load_table

    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    n_total = len(load_table(spark, SF_SMOKE, "lineitem").columns)
    n_read = read_schema.count(":")  # struct<a:double,b:date,...> field count
    assert 0 < n_read < n_total, read_schema


def test_small_dimension_join_broadcasts(spark):
    assert "BroadcastHashJoin" in _plan(spark, "q44_broadcast_join")


def test_window_topk_gets_group_limit_pushdown(spark):
    assert "WindowGroupLimit" in _plan(spark, "q10_window_topk")


def test_partition_pruning_reads_only_matching_dirs(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}") for i in range(30)], ["id", "date"]
    )
    df.write.partitionBy("date").parquet(path)
    pruned = spark.read.parquet(path).filter(F.col("date") == "2024-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "2024-01-02" in pf  # predicate became a partition filter, not a row filter
    assert pruned.count() == 10  # ids with i % 3 == 1


def test_keep_latest_gets_window_group_limit(spark):
    """q102's rn=1 filter must push a WindowGroupLimit below the shuffle —
    the property that keeps shuffle volume O(keys), not O(events)."""
    assert "WindowGroupLimit" in _plan(spark, "q102_keep_latest")


def test_chunking_plan_has_no_shuffle(spark):
    """q87 chunking must stay a map-side generate — zero exchanges."""
    assert "Exchange" not in _plan(spark, "q87_document_chunks")


def test_mixture_sample_is_scan_level_filter(spark):
    """q88's hash-threshold membership must run as a plain Filter over the
    scan (no shuffle, no sampling operator)."""
    plan = _plan(spark, "q88_stratified_sample")
    assert "Exchange" not in plan and "Sample" not in plan


def test_weighted_sample_uses_take_ordered(spark):
    """q112's global top-k must plan as TakeOrderedAndProject (per-partition
    local top-k + driver merge), never a full global sort."""
    plan = _plan(spark, "q112_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_bloom_prefilter_broadcasts_bitmap(spark):
    """q97's bloom bitmap must reach the fact side via broadcast — the
    fact table must not shuffle before its membership filter."""
    plan = _plan(spark, "q97_bloom_join_prefilter")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_join_strategy_hints_are_respected(spark):
    """The serving surface honors per-join strategy hints: merge ->
    SortMergeJoin, shuffle_hash -> ShuffledHashJoin, broadcast ->
    BroadcastHashJoin — the knobs a 100 TB query author reaches for when
    stats mislead the optimizer."""
    from aws_datalake_platform_spark.catalog import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")

    def plan(j):
        return j._jdf.queryExecution().executedPlan().toString()

    merge = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in plan(merge)
    shash = li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
    assert "ShuffledHashJoin" in plan(shash)
    bcast = li.join(orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey)
    assert "BroadcastHashJoin" in plan(bcast)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Joining a date-partitioned fact to a filtered dim must inject a
    dynamic-pruning subquery on the fact's partition column — at 100 TB
    this is the difference between scanning 3 partitions and 3000."""
    fact_path = str(tmp_path / "fact")
    spark.createDataFrame(
        [(i, f"2024-01-{(i % 5) + 1:02d}", float(i)) for i in range(100)],
        ["id", "date", "v"],
    ).write.partitionBy("date").parquet(fact_path)
    dim = spark.createDataFrame(
        [("2024-01-02", "keep"), ("2024-01-03", "drop")], ["date", "tag"]
    ).filter(F.col("tag") == "keep")  # a filtered dim is what makes DPP kick in

    fact = spark.read.parquet(fact_path)
    joined = fact.join(dim, "date")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() == 20


def test_tpch_q5_dims_broadcast_one_agg_shuffle(spark):
    """q133's supplier/nation/region must broadcast (no dim ever on a
    shuffle) and the revenue rollup must be the plan's only hash
    exchange besides AQE's final combine."""
    plan = _plan(spark, "q133_tpch_q5")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q18_semi_join_is_broadcast(spark):
    """q139's qualifying-order set (HAVING sum(qty) > cap) must reach
    lineitem as a broadcast LeftSemi, never a fact-fact shuffle join."""
    plan = _plan(spark, "q139_tpch_q18")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_tpch_q19_single_side_predicates_push_below_join(spark):
    """q140's OR spans both tables, but Catalyst must still push the
    derived single-side implications into the parquet scans (brand IN
    set on part, quantity range on lineitem)."""
    plan = _plan(spark, "q140_tpch_q19")
    # lineitem scan: the derived quantity bands reach parquet pushdown
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity" in plan, plan
    # part side: the brand/size disjunction filters before the join (the
    # scan's PushedFilters list is elided in toString, so assert the
    # Filter node instead — it sits below the broadcast exchange)
    assert "(p_brand" in plan and "p_size" in plan


def test_scd2_build_uses_single_window_exchange(spark):
    """q142's lag, change filter, and lead all key on user_id with the
    same ordering — the build must plan exactly one hash exchange, not
    one per window."""
    plan = _plan(spark, "q142_scd2_intervals")
    assert plan.count("Exchange hashpartitioning") == 1, plan.count("Exchange hashpartitioning")


def test_cdc_merge_changelog_collapse_prunes_to_rank1(spark):
    """q143's latest-per-key collapse must get WindowGroupLimit so rank>1
    changelog rows die map-side before the shuffle."""
    plan = _plan(spark, "q143_cdc_merge_apply")
    assert "WindowGroupLimit" in plan


def test_countmin_probe_broadcasts_cells(spark):
    """q144's probe joins a <=192-row cell grid — it must broadcast; the
    truth side must not shuffle for the probe."""
    plan = _plan(spark, "q144_countmin_sketch")
    assert "BroadcastHashJoin" in plan


def test_q158_event_scale_window_is_day_partitioned(spark):
    """The sweep-line's event-scale running sum must partition by day;
    the only SinglePartition exchange feeds the tiny day-level offset
    relation — and the sessionize subtree appears ONCE (explode fan-out,
    not a two-branch union)."""
    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q158_concurrency_sweep"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "hashpartitioning(day" in plan
    assert plan.count("hashpartitioning(user_id") == 1, "sessionize subtree duplicated"
    assert df.count() > 0


def test_q156_bitmap_distinct_partial_aggregates(spark):
    """The bitmap formulation must partial-aggregate (map-side combine):
    the plan carries partial_ aggregate modes for the bitmap build, which
    COUNT(DISTINCT <key>) over raw keys cannot do in one pass."""
    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q156_bitmap_distinct"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_bitmap_construct_agg" in plan, plan
    assert df.count() > 0


def test_q167_ohlc_is_single_pass_partial_aggregate(spark):
    """OHLC must be one aggregate pass with map-side combine (partial
    min_by below the single exchange) and NO window — the associative
    min_by/max_by claim. (min_by plans as SortAggregate: the per-group
    sort it needs is per-partition, not a global window sort.)"""
    plan = _plan(spark, "q167_ohlc_downsample")
    assert "Window" not in plan
    assert "partial_min_by" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange") == 1, plan


def test_q168_triangle_plan_mines_edges_once(spark):
    """After the eager localCheckpoint, the 4 edge consumers (threshold +
    e1/e2/e3) must all read the materialized RDD — zero parquet scans of
    the fact tables in the final plan (the q123 lineage lesson)."""
    plan = _plan(spark, "q168_trade_triangles")
    assert "Scan parquet" not in plan
    assert plan.count("Scan ExistingRDD") >= 4


def test_q169_ks_window_sees_distinct_values_not_rows(spark):
    """The ordered ECDF window must sit ABOVE the value-collapsing
    aggregate (exchange->agg->sort->window order), and orders must be
    scanned exactly once (totals ride the same window pass)."""
    plan = _plan(spark, "q169_ks_drift")
    assert plan.count("Scan parquet") == 1, plan
    assert "Window" in plan


def test_q172_span_merge_semi_joins_dup_grams(spark):
    """Duplicate-gram membership must be a semi join (gram set never
    widens the hits relation) feeding a per-doc window."""
    plan = _plan(spark, "q172_dup_span_merge")
    assert "LeftSemi" in plan
    assert "Window" in plan


def test_q173_quality_logreg_is_map_side_only(spark):
    """Model inference is pure column math: no exchange, no UDF eval."""
    plan = _plan(spark, "q173_quality_logreg")
    assert "Exchange" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_q175_centroid_partial_aggregates_before_shuffle(spark):
    """The |rows| x dims explode must partial-aggregate map-side (hash
    aggregate below the first exchange), and the pairwise join must not
    touch the un-aggregated explode output."""
    plan = _plan(spark, "q175_centroid_similarity")
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[:first_exchange] or "HashAggregate" in plan
    assert "Generate" in plan  # posexplode survived as a generate, no UDF


def test_q186_q21_single_lineitem_scan(spark):
    """The one-pass aggregate rewrite must scan lineitem exactly ONCE —
    the classic EXISTS/NOT-EXISTS form scans it three times."""
    plan = _plan(spark, "q186_tpch_q21_adapted")
    assert plan.count("lineitem.parquet") == 1, plan


def test_q182_q2_dims_broadcast_and_window_min(spark):
    """Q2's correlated MIN decorrelates into a per-part window over the
    region-filtered partsupp; all dimension joins broadcast."""
    plan = _plan(spark, "q182_tpch_q2")
    assert "Window" in plan
    assert "SortMergeJoin" not in plan  # everything dimension-sized broadcasts


def test_q188_cusum_window_runs_on_day_grain(spark):
    """The CUSUM windows must sit above the day-grain aggregate — one
    parquet scan, windows over days, not events."""
    plan = _plan(spark, "q188_cusum_changepoint")
    assert plan.count("Scan parquet") == 1
    assert "Window" in plan


def test_q190_sla_single_fact_shuffle(spark):
    """The SLA rollup's only wide operation is the order-key join; dims
    of the aggregate never re-shuffle the fact rows a second time."""
    plan = _plan(spark, "q190_sla_latency")
    assert plan.count("Scan parquet") == 2  # lineitem + orders, once each


def test_q178_winsorize_bounds_broadcast(spark):
    """The 3-row percentile bounds must reach the clamp pass via
    broadcast — the big side never shuffles for the bounds join."""
    plan = _plan(spark, "q178_winsorized_stats")
    assert "BroadcastHashJoin" in plan


def test_q191_incremental_dedup_no_cartesian_no_fullcorpus_fanout(spark):
    """Incremental dedup must stay an equi-join pipeline: no cartesian
    product anywhere, candidates come from the banded bucket equi-join,
    and the corpus/batch feature relations are CHECKPOINTED (the plan's
    leaves are materialized RDD scans, not the Arrow feature UDF) so the
    feature pass runs once per side, not once per consuming branch —
    and, unlike the earlier persist+count, the truncation also holds for
    plans DERIVED from the operator's output (the r7 111 s -> 1.8 s
    finding in incremental_dedup_verdicts' docstring)."""
    plan = _plan(spark, "q191_incremental_dedup")
    assert "CartesianProduct" not in plan
    # checkpointed feature relations: materialized scans in the plan...
    assert "Scan ExistingRDD" in plan
    # ...and no Arrow feature UDF re-evaluation anywhere above them
    assert "ArrowEvalPython" not in plan and "mapInPandas" not in plan
    assert "Window" in plan  # corpus-side hot-bucket stats


def test_q192_gopher_rules_map_only(spark):
    """The rule gate must stay one map-only codegen stage: no exchange,
    no Python (every statistic is a Catalyst HOF fold over the bound
    token array), and the scan pruned to (doc_id, text)."""
    plan = _plan(spark, "q192_gopher_quality_rules")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert read_schema.count(":") == 2  # doc_id + text only


def test_q193_mixture_windows_aggregate_rows_only(spark):
    """Normalization windows run AFTER the per-domain aggregate — the
    window input is |domains| rows, so the plan must show the hash
    aggregate below the window, and the scan reads only (source, text)."""
    plan = _plan(spark, "q193_mixture_weights")
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate")  # window above agg
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert read_schema.count(":") == 2  # source + text only


def test_q194_k_anonymity_single_aggregate(spark):
    """k-anonymity is ONE partial aggregate on the quasi-tuple: a single
    exchange pair (partial agg -> shuffle -> final), no join, no window."""
    plan = _plan(spark, "q194_k_anonymity")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Scan parquet") == 1


def test_q195_overlap_sizes_broadcast(spark):
    """The per-source size relation joins back by BROADCAST — the shared
    shingle relation never re-shuffles for the size lookups — and there
    is no cartesian product anywhere."""
    plan = _plan(spark, "q195_source_overlap_matrix")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # n_a and n_b lookups


def test_q196_inverted_index_no_window(spark):
    """df must come from the re-aggregate join, never a count-over-term
    window (WindowExec would buffer a stop term's whole partition)."""
    plan = _plan(spark, "q196_inverted_index")
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_q197_bm25_filters_terms_before_aggregate(spark):
    """Only query-term postings may shuffle: the isin() filter must sit
    below the tf aggregate, and corpus stats arrive via broadcast."""
    plan = _plan(spark, "q197_bm25_scoring")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the term filter appears in a Filter before any aggregate
    assert "term" in plan.split("HashAggregate", 1)[0] or "IN (" in plan


def test_q198_js_drift_totals_broadcast(spark):
    """The two corpus-total scalars join by broadcast; the only wide ops
    are the two term aggregates and the full-outer term join."""
    plan = _plan(spark, "q198_vocab_js_drift")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross join


def test_q199_containment_no_cartesian(spark):
    """Candidates come from an EQUI-join on the shingle key (AQE picks
    broadcast at tiny SF, shuffle at scale) — never a cartesian."""
    plan = _plan(spark, "q199_shingle_containment")
    assert "CartesianProduct" not in plan
    assert "Join" in plan and "__sh" in plan  # shingle-key equi-join


def test_q200_dataset_card_single_expand_aggregate(spark):
    """CUBE runs as one Expand + one aggregate pair over a single scan —
    never one scan per grain."""
    plan = _plan(spark, "q200_dataset_card")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_q201_semdedup_broadcast_assign_equi_pair_join(spark):
    """Centroid assignment must be map-side (one Arrow UDF against the
    collected K centroids, behind a lineage checkpoint): no cartesian or
    nested-loop join against the centroids and no per-vector window over
    N*K rows. The pair search must be an EQUI-join on the cluster key —
    quadratic work stays bounded per cluster, never a corpus-wide
    cartesian."""
    import re

    plan = _plan(spark, "q201_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not re.search(r"windowspecdefinition\(vec_id", plan)
    assert re.search(r"Join \[cluster#\d+L?\], \[cluster#\d+L?\]", plan), plan


def test_q202_mmr_no_cross_join_after_candidates(spark):
    """Every greedy MMR step must be an equi-join on query_id over the
    bounded candidate set. The candidate-generation crossJoin (the
    documented exact baseline standing in for ANN) is truncated behind
    the eager localCheckpoint, so the returned plan must contain NO
    cartesian/nested-loop join at all — only the checkpoint leaves plus
    hash joins, which is what lets the operator distribute by query key
    for arbitrarily many queries (README many-query scaling note)."""
    plan = _plan(spark, "q202_mmr_rerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # the O(k)-bounding checkpoint leaves


def test_q204_bench_broadcast_no_cartesian(spark):
    """The benchmark side must BROADCAST (one nested-loop join against
    the broadcast relation — the documented small-side shape), never a
    cartesian; the train scan is round-robin repartitioned so per-pair
    HOF work spreads across cores."""
    plan = _plan(spark, "q204_semantic_decontamination")
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "RoundRobinPartitioning" in plan  # the single-split spread


def test_q210_phrase_join_is_hash_equi_join(spark):
    """Phrase adjacency must plan as an equi-join on doc_id over the
    term-filtered postings — postings-sized, never a corpus cartesian."""
    plan = _plan(spark, "q210_phrase_search")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q212_encoding_table_broadcast_join(spark):
    """The category-level encoding join must broadcast (both sides are
    |categories|-sized); no sort-merge shuffle join anywhere."""
    plan = _plan(spark, "q212_target_encoding")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q224_single_exchange_with_group_limit(spark):
    """The EWMA pipeline must plan ONE exchange (window and group-by
    share the user_id partitioning) and push the per-key top-32 down as
    a partial WindowGroupLimit BEFORE the shuffle, so per-group state
    is constant-size on both sides of the exchange."""
    plan = _plan(spark, "q224_ewma_deviation")
    assert plan.count("Exchange") == 1
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("Exchange", 1)[1]  # map-side limit below


def test_q222_top20_is_take_ordered(spark):
    """The skew profiler's top-20 must plan as a TakeOrderedAndProject
    over the per-key counts — never a global sort of the key relation;
    the scalar totals must arrive via broadcast."""
    plan = _plan(spark, "q222_key_skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q221_curve_reuses_q23_join_then_tiny_rollup(spark):
    """The threshold curve must contain NO cartesian product — the
    10-row threshold spine joins the tiny histograms via broadcast
    nested loop (the documented 10x10 shape), and the pair relation is
    the q23 equi-join."""
    plan = _plan(spark, "q221_dedup_threshold_curve")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # two >= spines


def test_q232_df_join_broadcasts_no_cartesian(spark):
    """The memorization score must join gram->df back as a broadcast
    hash join (the df relation is vocabulary-bounded) — never a
    sort-merge of two corpus-sized gram relations, never a cartesian."""
    plan = _plan(spark, "q232_doc_memorization_score")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q233_vocab_is_takeordered_and_broadcast(spark):
    """Curriculum staging must build the top-V vocab as a TakeOrdered
    (never a global sort of the token relation) and broadcast it into
    the corpus scan."""
    plan = _plan(spark, "q233_curriculum_buckets")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q234_scalar_rides_broadcast(spark):
    """Domain reweighting must attach the vocab via broadcast hash join
    and the scalar token total via broadcast nested loop — no cartesian
    product, no corpus-side sort-merge."""
    plan = _plan(spark, "q234_domain_reweight")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q235_rank_filter_pushes_group_limit(spark):
    """The nDCG eval inherits q197's shape: the rank<=10 filter must
    push a WindowGroupLimit below the per-term window so only top-k
    candidates survive each exchange; no cartesian anywhere in the
    composite."""
    plan = _plan(spark, "q235_ndcg_ranking_eval")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_q237_pair_stage_runs_on_sketches_not_corpus(spark):
    """The KMV pair stage must operate on k-row sketches: the only
    nested-loop joins are the tiny broadcast pair spine, and the
    per-source top-k is the salted two-phase rank (two WindowGroupLimit
    passes push the k cutoff below each exchange)."""
    plan = _plan(spark, "q237_kmv_source_overlap")
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 3  # salt rank, final rank, union rank


def test_q238_sweep_reuses_one_assignment(spark):
    """The n_probe sweep must rank candidates via the cluster equi-join
    (broadcast hash) with the config spine broadcast — one corpus
    assignment pass, no per-config cartesian re-scan."""
    plan = _plan(spark, "q238_ivf_nprobe_plan")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q240_auc_window_runs_on_histogram(spark):
    """The rank window must consume the aggregated score histogram —
    HashAggregate(score_u) appears BELOW the Window in the plan, so the
    single-partition window is bounded by score resolution, never
    corpus size."""
    plan = _plan(spark, "q240_roc_auc")
    assert "CartesianProduct" not in plan
    w = plan.find("Window")
    assert w > 0 and "HashAggregate" in plan[w:]


def test_q241_transition_rollup_broadcasts_totals(spark):
    """The per-state totals join must broadcast (|event_types| rows) and
    the sequence window partitions by user."""
    plan = _plan(spark, "q241_transition_entropy")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q253_hit_join_no_cartesian(spark):
    """Snippet windows must come from the doc_id-keyed hit-position
    join (broadcast/shuffled hash, range predicate as a filter), with
    per-doc WindowGroupLimit pushing the best-snippet cut below the
    exchange."""
    plan = _plan(spark, "q253_search_snippets")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_q256_band_join_capped_no_cartesian(spark):
    """The aHash candidate stage must be the banded equi-join (hash
    joins only) — never an all-pairs product of the hash relation."""
    plan = _plan(spark, "q256_media_ahash_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q259_term_join_no_cartesian(spark):
    """TF-IDF cosine pairs must come from the shared-term equi-join;
    the only nested-loop joins are 1-row scalar broadcasts (corpus
    size N)."""
    plan = _plan(spark, "q259_tfidf_cosine_pairs")
    assert "CartesianProduct" not in plan


def test_q326_rake_topk_pushes_limit(spark):
    """RAKE's top-15 must push the rank cutoff below the single-
    partition window — the empty-partition rank becomes a
    TakeOrderedAndProject(limit=15), so each partition forwards at most
    15 candidate phrases to the merge; the word-score join must be a
    broadcast hash join (vocabulary-bounded), and nothing may go
    cartesian."""
    plan = _plan(spark, "q326_rake_keywords")
    assert "TakeOrderedAndProject(limit=15" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q327_kn_model_relations_broadcast(spark):
    """Every KN model relation (bigram counts, history stats,
    continuation counts, the scalar consts) must ride broadcast onto the
    held-out scan — no corpus-side sort-merge join, no cartesian."""
    plan = _plan(spark, "q327_kneser_ney_bigram")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" in plan  # the consts scalar


def test_q328_single_sort_no_join(spark):
    """Sorted-neighborhood must be join-free: one sort feeding the LEAD
    windows, pairs from unions of lead columns — no join operator of any
    kind in the plan."""
    plan = _plan(spark, "q328_sorted_neighborhood")
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, op


def test_q329_projection_is_mapside_until_final_agg(spark):
    """The JL audit's pair relation must form via an equi (hash) join on
    the shifted vec_id — never a nested-loop — and the k spine must ride
    broadcast; projections are pure column math so the plan has no
    window at all."""
    plan = _plan(spark, "q329_jl_projection_audit")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q330_exact_size_never_materializes_join(spark):
    """The cardinality audit must compute exact sizes from per-key
    histograms: every join in the plan is histogram-vs-histogram or a
    scalar broadcast — the plan must contain NO join whose both sides
    are unaggregated table scans (all hash joins sit above
    HashAggregate children)."""
    plan = _plan(spark, "q330_join_size_estimate")
    assert "CartesianProduct" not in plan
    # the fused-count stats rows ride broadcast nested loop; histogram
    # joins are hash joins over aggregated children
    for frag in plan.split("BroadcastHashJoin")[1:]:
        head = frag[:600]
        assert "HashAggregate" in head or "Scan parquet" not in head


def test_q331_shapley_lattice_is_broadcast_sized(spark):
    """Corpus-size work stops at the user-keyed joins (those may
    legitimately sort-merge — both sides scale with users): the subset
    lattice, channel spine and v-relation joins must all ride broadcast
    (hash joins plus the <=16-row nested-loop spines), and nothing may
    go cartesian."""
    plan = _plan(spark, "q331_shapley_attribution")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # bits spine + v lookups
    assert "BroadcastNestedLoopJoin" in plan  # mask|s == s lattice join


def test_q332_grid_rides_broadcast_topk_pushes_limit(spark):
    """The 9-cell grid must ride broadcast over the term-filtered
    posting relation (never a per-cell corpus re-scan: scan count is a
    small constant independent of grid size) and the per-(cell, term)
    top-10 must push WindowGroupLimit below the exchange."""
    plan = _plan(spark, "q332_bm25_tuning_plan")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    # 9 grid cells, constant lineage copies: scans must stay well under
    # one-per-cell
    assert plan.count("FileScan parquet") < 18


def test_q333_single_scan_scalar_cross(spark):
    """Welch reduces to a 2-group integer aggregate; the only join is
    the broadcast cross of two scalar rows."""
    plan = _plan(spark, "q333_welch_t_test")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_q334_mutual_rank_windows_push_limit(spark):
    """Both top-1 rank windows must push WindowGroupLimit; the exact
    pair stage is the documented broadcast nested loop over the two
    bounded samples (never an unfiltered cartesian)."""
    plan = _plan(spark, "q334_mutual_nn_pairs")
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 2
    assert "BroadcastNestedLoopJoin" in plan


def test_q336_user_windows_share_one_exchange(spark):
    """The rn / count / outcome windows all key on user_id with
    compatible ordering — the plan must contain exactly ONE user-keyed
    hash exchange (the q142 discipline), plus the bounded single-
    partition NTILE."""
    plan = _plan(spark, "q336_ipw_effect")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_q337_zone_estimate_joins_only_the_scalar(spark):
    """The skipping estimate must never join data relations: the only
    join in the plan is the broadcast of the single-row matched-count
    scalar onto the 2x256-row zone relation."""
    plan = _plan(spark, "q337_zorder_skip_estimate")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_q338_cuped_scalar_rides_broadcast(spark):
    """CUPED's global moment row must attach to the 2-row arm rollup via
    broadcast nested loop — never a cartesian, never a sort-merge; the
    only corpus-width pass is the per-user aggregate."""
    plan = _plan(spark, "q338_cuped_readout")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_q339_pair_join_runs_on_days_broadcast(spark):
    """The Theil-Sen pair stage must be a broadcast nested loop over the
    bounded DAYS relation (non-equi db > da), plus the broadcast OLS
    scalar — no cartesian, no corpus-sized join input."""
    plan = _plan(spark, "q339_theil_sen_trend")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # pair spine + ols scalar


def test_q340_sgt_fit_joins_broadcast(spark):
    """The SGT output join (ranked count-of-counts x per-lang fit) must
    be a broadcast hash join on lang; no cartesian anywhere."""
    plan = _plan(spark, "q340_good_turing_smoothing")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q341_marginals_broadcast_topk_takeordered(spark):
    """LLR collocations must attach the word marginals as broadcast
    hash joins (vocabulary-bounded re-aggregations of the bigram
    relation), the grand total as a broadcast nested loop, and the
    top-15 as TakeOrdered — never a global sort or cartesian."""
    plan = _plan(spark, "q341_llr_collocations")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q342_shrinkage_joins_cells_broadcast(spark):
    """Both shrinkage joins (cells x segment grand means, cells x
    segment fit) must broadcast the bounded segment relations; customer
    rows are aggregated exactly once."""
    plan = _plan(spark, "q342_shrunk_cell_means")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q343_strata_cross_global_is_broadcast(spark):
    """The aggregate-vs-stratum comparison must broadcast the 1-row
    global onto the 12-row strata relation."""
    plan = _plan(spark, "q343_simpson_paradox")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_q344_pair_stage_on_bounded_metric_relation(spark):
    """Kendall pairs must form on the bounded per-nation metric relation
    via broadcast nested loop (non-equi nb > na); the n_items scalar
    also rides broadcast. No cartesian."""
    plan = _plan(spark, "q344_kendall_tau")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2


def test_q345_fd_audit_is_join_free(spark):
    """The FD audit is pure re-aggregation: per candidate one
    (lhs, rhs) count re-aggregated per lhs — the plan must contain no
    join operator of any kind."""
    plan = _plan(spark, "q345_fd_discovery_audit")
    for op in ("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "ShuffledHashJoin"):
        assert op not in plan


def test_q347_qte_joins_decile_spines(spark):
    """QTE joins two 9-row decile spines — broadcast hash join, no
    cartesian; the quantiles run inside the 2-group aggregate (no
    corpus-wide Window/sort in the plan)."""
    plan = _plan(spark, "q347_quantile_treatment_effect")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q348_decompose_windows_on_days_relation(spark):
    """The decomposition's single-partition window and weekday join run
    on the DAYS relation: the weekday means attach via broadcast hash
    join, never sort-merge, never cartesian."""
    plan = _plan(spark, "q348_seasonal_decompose")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q349_marginals_ride_broadcast(spark):
    """The agreement scorecard's marginal joins (contingency x pa x pb)
    and the final scalar crosses must be broadcast; no cartesian
    anywhere in the composite plan."""
    plan = _plan(spark, "q349_cluster_agreement")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar crosses


def test_q350_journey_windows_share_one_exchange(spark):
    """Journey extraction must reuse ONE user-keyed hash exchange for
    the rn / count / first-purchase windows (the q142/q336 discipline);
    the chain itself is collected, so no join beyond the edge count
    appears upstream of the bounded result."""
    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY
    from .conftest import SF_SMOKE

    df = QUERY_REGISTRY["q350_markov_attribution"].fn(spark, SF_SMOKE)
    # the returned frame is the bounded 4-row attribution relation; the
    # heavy lineage already ran. Pin the EDGE-extraction plan instead:
    from aws_datalake_platform_spark.catalog import load_table
    from pyspark.sql import Window, functions as F

    ev = load_table(spark, SF_SMOKE, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    r1 = ev.select(
        "user_id", "event_type",
        F.row_number().over(wu).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_ev"),
    ).withColumn(
        "mp",
        F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))).over(wp),
    )
    plan = r1._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert df.count() == 4


def test_q352_minimax_runs_on_bucket_relation(spark):
    """The isotonic minimax must run on the checkpointed bucket
    relation: pair/spine joins are broadcast nested loops (range
    conditions over ~20 rows), the iso join back is broadcast hash or
    nested-loop — and NO scan of documents appears above the
    checkpoint (the scorers run exactly once, materialized)."""
    plan = _plan(spark, "q352_isotonic_calibration")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan  # checkpoint
    assert "parquet" not in plan.lower()  # corpus never rescanned


def test_q351_holt_output_is_bounded_relation(spark):
    """Holt smoothing returns the calendar-bounded relation computed
    from the driver-side exact recurrence — the output plan must be a
    local/RDD scan over projected expressions, never a corpus scan."""
    plan = _plan(spark, "q351_holt_linear")
    assert "parquet" not in plan.lower()
    assert "Join" not in plan


def test_q353_logrank_windows_on_grid(spark):
    """The log-rank at-risk windows must run on the distinct-gap grid
    (scalar totals ride broadcast nested loops); no cartesian and no
    corpus-sized sort-merge anywhere."""
    plan = _plan(spark, "q353_logrank_test")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2


def test_q354_capture_scalars_broadcast(spark):
    """Chapman's estimator must cross three 1-row counts via broadcast
    nested loops; the pair intersection is an equi-join, never a
    cartesian."""
    plan = _plan(spark, "q354_dup_capture_recapture")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2


def test_q355_index_join_no_cartesian(spark):
    """The base-month join must be an equi-join on partkey over the
    (part, month) relation — no cartesian; the rollup re-aggregates
    quantized integer terms."""
    plan = _plan(spark, "q355_price_index")
    assert "CartesianProduct" not in plan


def test_q356_rank_transform_on_histogram(spark):
    """Kruskal-Wallis must attach midranks from the value HISTOGRAM via
    broadcast (never a corpus-wide rank window): one broadcast hash
    join, no cartesian, and the single-partition window consumes an
    aggregated relation (HashAggregate below Window)."""
    plan = _plan(spark, "q356_kruskal_wallis")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    w = plan.find("Window")
    assert w > 0 and "HashAggregate" in plan[w:]


def test_q357_universe_scalar_broadcast(spark):
    """The NB fit joins one 1-row user-universe scalar via broadcast
    nested loop; zeros enter arithmetically — the plan must contain no
    generated spine join and no cartesian."""
    plan = _plan(spark, "q357_negbin_overdispersion")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_q358_viterbi_output_is_bounded_relation(spark):
    """The Viterbi DP runs on the driver's calendar-bounded copy — the
    returned plan is a local relation projection, never a corpus scan
    or join (q351 discipline)."""
    plan = _plan(spark, "q358_burst_viterbi")
    assert "parquet" not in plan.lower()
    assert "Join" not in plan


def test_q359_pattern_lattice_no_cartesian(spark):
    """Sequential-pattern expansion joins events to per-user anchors on
    user_id (greedy-earliest grouped mins) — never a cartesian, never a
    per-user event self-join; the copresence join is broadcast."""
    plan = _plan(spark, "q359_sequential_patterns")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q360_variance_algebra_on_strata(spark):
    """The design-effect rollup crosses only broadcast 1-row scalars
    onto the 10-row strata relation; no sort-merge, no cartesian."""
    plan = _plan(spark, "q360_poststrat_design_effect")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_q361_pair_counts_from_histogram(spark):
    """Cliff's delta must come from the merged value histogram via a
    prefix-sum window over an AGGREGATED relation (HashAggregate below
    Window) — never an n_a x n_b pair join; scalar crosses broadcast."""
    plan = _plan(spark, "q361_effect_sizes")
    assert "CartesianProduct" not in plan
    w = plan.find("Window")
    assert w > 0 and "HashAggregate" in plan[w:]
    assert plan.count("BroadcastNestedLoopJoin") == 2


def test_q362_bh_runs_on_nation_relation(spark):
    """The BH step-up must run on the |nations|-row relation: global
    moments and k* ride broadcast nested loops, the p-rank window is
    bounded, and no corpus-sized sort-merge appears."""
    plan = _plan(spark, "q362_bh_fdr")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # global row + kstar


def test_q363_permutation_spine_broadcasts(spark):
    """The permutation layer must multiply USER-relation map work by B
    via a broadcast spine (never a shuffle of B x events), with the
    observed stat and user count riding broadcast."""
    plan = _plan(spark, "q363_permutation_test")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 3  # spine, obs, n


def test_q364_nb_model_relations_broadcast(spark):
    """The NB scoring join must broadcast the vocabulary-bounded model
    relations (likelihoods, defaults, priors) into the test-token scan;
    the candidate fan-out is the broadcast lang spine — no cartesian,
    no corpus-sized sort-merge."""
    plan = _plan(spark, "q364_naive_bayes_langid")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # lang spine


def test_q365_split_finder_single_histogram_pass(spark):
    """Every candidate threshold must come from ONE value-histogram
    prefix sum per feature — the plan has windows over aggregated
    relations and no join at all except the broadcast root-impurity
    scalar."""
    plan = _plan(spark, "q365_decision_stump")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # root gini scalar


def test_q366_pair_folds_on_bounded_samples(spark):
    """All three pair stages must be broadcast nested loops over the
    TakeOrdered per-group samples — constant work regardless of table
    size; no cartesian over the base table."""
    plan = _plan(spark, "q366_energy_distance")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 3


def test_q367_membership_joins_on_pair_keys(spark):
    """Cochran's Q must build the union universe and attach detector
    membership via pair-key equi-joins — no cartesian anywhere in the
    three-detector composite."""
    plan = _plan(spark, "q367_cochran_q")
    assert "CartesianProduct" not in plan


def test_q368_hits_iterations_are_checkpointed(spark):
    """The returned HITS plan must be the bounded checkpointed result —
    not 8 unrolled copies of the edge-mining subtree (the q123
    materialize-before-fanout discipline)."""
    plan = _plan(spark, "q368_hits_hubs_authorities")
    assert "parquet" not in plan.lower()
    assert plan.count("Scan ExistingRDD") <= 1


def test_q369_binseg_candidates_on_prefix_relation(spark):
    """Every candidate split must read two prefix rows — the candidate
    joins run on the checkpointed calendar-bounded relation, never a
    corpus re-scan, and no cartesian beyond broadcast scalars."""
    plan = _plan(spark, "q369_binseg_changepoints")
    assert "CartesianProduct" not in plan
    assert "parquet" not in plan.lower()  # prefix relation checkpointed


def test_q370_raking_output_is_bounded_relation(spark):
    """IPF runs on the taxonomy-bounded cell copy — the returned plan
    is a local relation projection with no join or scan."""
    plan = _plan(spark, "q370_raking_ipf")
    assert "parquet" not in plan.lower()
    assert "Join" not in plan


def test_q371_mediation_single_aggregate(spark):
    """Mediation is one 9-sum aggregate over lineitem — no joins, no
    windows anywhere in the plan."""
    plan = _plan(spark, "q371_mediation_analysis")
    for op in ("Join", "Window"):
        assert op not in plan


def test_q372_alpha_single_aggregate(spark):
    """Cronbach's alpha is one map-only scoring pass into an 8-sum
    aggregate — no joins, no windows."""
    plan = _plan(spark, "q372_cronbach_alpha")
    for op in ("Join", "Window"):
        assert op not in plan


def test_q373_ftest_single_aggregate(spark):
    """The nested-model comparison is one 10-sum aggregate — no joins,
    no windows."""
    plan = _plan(spark, "q373_nested_model_ftest")
    for op in ("Join", "Window"):
        assert op not in plan


def test_q374_residuals_margins_broadcast(spark):
    """Cell residuals attach margins as broadcast re-aggregations of
    the bounded cell relation; no cartesian beyond the 1-row total."""
    plan = _plan(spark, "q374_chi2_cell_residuals")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q375_bp_two_scans_one_scalar_broadcast(spark):
    """Breusch-Pagan is two map-side scans with the 1-row fit broadcast
    between them — one broadcast nested loop, no other join, no
    window."""
    plan = _plan(spark, "q375_breusch_pagan")
    assert "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q376_q377_diagnostics_on_days_relation(spark):
    """DW and Ljung-Box run their windows on the calendar-bounded
    residual relation; the OLS scalars ride one broadcast each."""
    for q in ("q376_durbin_watson", "q377_ljung_box"):
        plan = _plan(spark, q)
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1, q


def test_q378_ad_mirror_join_on_user_relation(spark):
    """The mirrored-rank join runs on the user-bounded ranked relation
    (broadcast); moments ride one broadcast scalar; no cartesian."""
    plan = _plan(spark, "q378_anderson_darling")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q379_cox_outputs_bounded_relation(spark):
    """The Newton loop runs driver-side on the bounded grid; the
    returned plan is a local-relation projection — no scan, no join."""
    plan = _plan(spark, "q379_cox_hazard_newton")
    assert "parquet" not in plan.lower()
    assert "Join" not in plan


def test_q380_q395_recurrences_output_bounded(spark):
    """Holt-Winters and Croston return projections of the bounded
    driver-side recurrence — no corpus scan in the returned plan."""
    for q in ("q380_holt_winters", "q395_croston_intermittent"):
        plan = _plan(spark, q)
        assert "parquet" not in plan.lower(), q
        assert "Join" not in plan, q


def test_q381_textrank_iterations_are_checkpointed(spark):
    """TextRank's returned plan must be the bounded checkpointed top-k —
    not 10 unrolled copies of the tokenize/edge subtree (q368
    discipline)."""
    plan = _plan(spark, "q381_textrank_keywords")
    assert "parquet" not in plan.lower()
    assert plan.count("Scan ExistingRDD") <= 1


def test_q383_t_closeness_spine_broadcasts(spark):
    """The classes x nations spine joins the aggregated relations with
    broadcasts; nothing goes cartesian beyond the 1-row total."""
    plan = _plan(spark, "q383_t_closeness")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q384_rd_two_moment_scans(spark):
    """Each side of the cutoff is one 6-number moment aggregate; the two
    1-row fits meet in a single broadcast nested loop; no window."""
    plan = _plan(spark, "q384_regression_discontinuity")
    assert "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q386_bf_median_join_broadcasts(spark):
    """The 5-row group-median relation must ride back onto orders as a
    broadcast hash join; windows partition by group (never global)."""
    plan = _plan(spark, "q386_brown_forsythe")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q387_fs_background_pairs_equijoin(spark):
    """Background pairs are stride EQUI-joins and attribute attachment
    is hash joins — the m/u learner must never go cartesian."""
    plan = _plan(spark, "q387_fellegi_sunter_weights")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q388_friedman_windows_partition_by_day(spark):
    """Midranks come from day-partitioned windows (never a global
    single-partition sort of the obs relation); the spine join
    broadcasts the 5-row type relation."""
    plan = _plan(spark, "q388_friedman_test")
    assert "CartesianProduct" not in plan
    # the midrank windows partition by day / (day, v) — a global
    # single-partition window over obs would show an empty spec
    assert "windowspecdefinition(day" in plan.lower()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q391_boilerplate_no_cartesian(spark):
    """Boilerplate detection is explode -> df-aggregate -> equi-join
    back on the sentence key — hash joins only."""
    plan = _plan(spark, "q391_boilerplate_detection")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q393_assortativity_degree_joins(spark):
    """Edge-degree attachment is two equi-joins over the distinct-edge
    relation; one 6-number moment aggregate; no cartesian, no window."""
    plan = _plan(spark, "q393_degree_assortativity")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_q394_lpa_iterations_are_checkpointed(spark):
    """LPA's returned plan is the bounded checkpointed community table —
    not 10 unrolled copies of the edge subtree."""
    plan = _plan(spark, "q394_label_propagation")
    assert "parquet" not in plan.lower()
    assert plan.count("Scan ExistingRDD") <= 1


def test_q396_sort_key_zone_join_broadcasts(spark):
    """The containment count joins O(chunks) zone ranges against the
    distinct-key relation as a BROADCAST range join — the range
    predicate must ride a BroadcastNestedLoopJoin, never a cartesian
    product or a key-side shuffle."""
    plan = _plan(spark, "q396_sort_key_plan")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_q396_zone_maps_sort_is_distributed(spark):
    """The per-candidate chunk ranking must never be a single-partition
    total sort (VERDICT r7 item 2): the window is PARTITIONED by the
    frozen range-partition id, so no WindowExec sees the whole table."""
    from aws_datalake_platform_spark.catalog import load_table
    from aws_datalake_platform_spark.plans.training3 import _q396_zone_maps

    li = load_table(spark, SF_SMOKE, "lineitem")
    plan = _q396_zone_maps(li)._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(cand#" in plan, plan
    # every window in the zone-map subtree is (cand, pid)-partitioned
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).startswith("cand#"), m.group(0)


def test_q398_pagerank_exact_checkpointed(spark):
    """Exact PageRank returns the bounded checkpointed score table (the
    q123 materialize-before-fanout discipline)."""
    plan = _plan(spark, "q398_pagerank_exact")
    assert "parquet" not in plan.lower()
    assert plan.count("Scan ExistingRDD") <= 1


def test_q399_cmh_dimension_joins_broadcast(spark):
    """Nation/region ride broadcast; the returned-order relation joins
    on the order key; the 5-row strata algebra never goes cartesian."""
    plan = _plan(spark, "q399_cmh_test")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q400_mk_pairs_on_bounded_days(spark):
    """The sign-pair join runs on the checkpointed calendar-bounded
    daily relation (broadcast), never corpus rows."""
    plan = _plan(spark, "q400_mann_kendall")
    assert "parquet" not in plan.lower()  # daily relation checkpointed
    assert "BroadcastNestedLoopJoin" in plan


def test_q401_gmm_outputs_bounded_relation(spark):
    """EM runs driver-side on the bounded histogram; the returned plan
    is a 2-row local projection — no scan, no join."""
    plan = _plan(spark, "q401_gmm_em")
    assert "parquet" not in plan.lower()
    assert "Join" not in plan


def test_q402_glm_outputs_bounded_relation(spark):
    """IRLS runs driver-side on the daily relation; the returned plan is
    a 1-row local projection — no scan, no join."""
    plan = _plan(spark, "q402_poisson_trend_glm")
    assert "parquet" not in plan.lower()
    assert "Join" not in plan


def test_q403_compaction_two_aggregates(spark):
    """The compaction plan is two chained aggregates plus a rollup —
    no joins, no windows, one events scan."""
    plan = _plan(spark, "q403_compaction_plan")
    for op in ("Join", "Window"):
        assert op not in plan


def test_q404_linkage_no_cartesian(spark):
    """FS scoring: blocked candidates via one sort + LEAD, attribute
    attachment by doc-key equi-joins, the 8-weight row broadcast —
    never a cartesian over candidates."""
    plan = _plan(spark, "q404_fs_linkage_scoring")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row weight relation


def test_q405_xent_matrix_joins_bounded(spark):
    """The cross-entropy matrix joins the vocabulary-bounded tf
    relation against itself on (source, word); totals and vocab ride
    broadcast; no cartesian beyond the bounded source spine."""
    plan = _plan(spark, "q405_source_crossentropy")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q406_cohesion_pair_join_keyed(spark):
    """Adjacent-sentence joins key on (doc_id, sidx) — hash joins only,
    never a cross-doc or cross-sentence product."""
    plan = _plan(spark, "q406_text_cohesion")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_q407_readability_no_joins_beyond_doc_key(spark):
    """Readability is two explodes + rollups with one doc-keyed join —
    no cartesian, no window."""
    plan = _plan(spark, "q407_readability")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_q408_model_relations_broadcast(spark):
    """The bigram model and mode baseline are taxonomy-bounded and must
    broadcast onto the test transitions."""
    plan = _plan(spark, "q408_next_event_accuracy")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row baseline


def test_q409_newsvendor_windows_partition_by_brand(spark):
    """Demand quantile windows partition by brand (never global); the
    part dimension broadcasts."""
    plan = _plan(spark, "q409_newsvendor_plan")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(p_brand" in plan.lower()


def test_q410_granularity_on_bounded_relations(spark):
    """The planner's joins run on checkpointed calendar-bounded
    relations — no corpus re-scan in the returned plan."""
    plan = _plan(spark, "q410_partition_granularity_plan")
    assert "parquet" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_q411_margin_background_equijoin(spark):
    """Background pairs are stride equi-joins; embedding attachment is
    keyed; histogram algebra rides broadcasts — no cartesian over
    pair relations."""
    plan = _plan(spark, "q411_similarity_margin")
    assert "CartesianProduct" not in plan


def test_q412_wedges_on_pair_relation(spark):
    """Transitivity joins run on the checkpointed pair relation — no
    corpus scan in the returned plan, no cartesian."""
    plan = _plan(spark, "q412_dedup_transitivity")
    assert "parquet" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_q413_audit_on_days_relation(spark):
    """The eta-squared algebra runs on the calendar-bounded days
    relation; the weekday-means relation broadcasts; no cartesian."""
    plan = _plan(spark, "q413_deseasonalization_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q414_dsir_broadcasts_bucket_relation(spark):
    """The DSIR LLR table (256 rows) must ride a broadcast hash join
    into the token stream, and the top-k must be a TakeOrdered — never
    a corpus-side sort-merge or a global-sort row_number."""
    plan = _plan(spark, "q414_dsir_importance_weights")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q416_hbos_histograms_broadcast(spark):
    """Both HBOS density histograms (16 rows each) must broadcast into
    the scoring join, and the top-20 must be a TakeOrdered."""
    plan = _plan(spark, "q416_hbos_outliers")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_q417_split_flags_join_no_cartesian(spark):
    """The leakage audit joins the pair relation to per-doc split flags
    as equi-joins; the only nested-loop joins are the broadcast scalar
    stats onto the 2-row scheme spine."""
    plan = _plan(spark, "q417_split_leakage_audit")
    assert "CartesianProduct" not in plan


def test_q419_mixture_vocab_broadcast(spark):
    """The per-word NLL relation (unique vocabulary) must broadcast
    into the token stream; no corpus-side sort-merge joins."""
    plan = _plan(spark, "q419_domain_mixture_plan")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q427_grid_broadcasts_no_cartesian_products(spark):
    """The Wasserstein grid joins the bounded spine/histograms via
    broadcast; the only nested-loop join is the tiny spine expansion —
    nothing corpus-sized crosses."""
    plan = _plan(spark, "q427_wasserstein_source_drift")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q428_weighted_sample_is_takeordered(spark):
    """The k-smallest race keys must be a TakeOrdered (per-partition
    top-k, k-row merge) — never a global sort of the corpus."""
    plan = _plan(spark, "q428_weighted_sample_without_replacement")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q429_scaling_vocab_stays_bounded(spark):
    """The scaling-law fit must keep every join on vocabulary-bounded
    relations: the fraction spine and OLS stats ride broadcasts and
    there is no cartesian product. (A sort-merge join between the two
    VOCABULARY relations — held vocab x fraction counts — is fine:
    both sides are zipf-bounded, never corpus-sized.)"""
    plan = _plan(spark, "q429_scaling_law_fit")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
