"""Physical-plan quality gates — the 100 TB posture, as assertions.

Every check here encodes a scale property: filters must reach the
parquet scan, small dimensions must broadcast, global top-N must plan as
TakeOrdered (no full sort), aggregates must have a map-side partial
phase, and the relational pipeline must stay inside whole-stage codegen.
"""

from __future__ import annotations

import pytest

from mediawiki_to_notion_spark.operators import QUERIES, load_all

load_all()
SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def formatted(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushdown(spark):
    plan = formatted(spark, "scan_project_filter")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: the scan must read only the 4 needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema and "l_comment" not in read_schema


def test_time_range_pushdown(spark):
    """The range predicate must hit the parquet scan on the stored `ts`
    column (a filter on a *computed* ts column would not push down)."""
    plan = formatted(spark, "time_range_scan")
    assert "GreaterThanOrEqual(ts," in plan and "LessThanOrEqual(ts," in plan


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "dim_broadcast_join")
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_dimensions(spark):
    plan = plan_of(spark, "star_join_local_supplier_volume")
    assert "BroadcastHashJoin" in plan


def test_topn_plans_as_take_ordered(spark):
    plan = plan_of(spark, "orderby_limit_topn")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_agg_has_partial_phase(spark):
    plan = plan_of(spark, "agg_pricing_summary")
    # map-side combine: partial_ aggregate functions before the shuffle
    assert "partial_sum" in plan or "partial_count" in plan


def test_agg_runs_in_codegen(spark):
    """The relational pipeline (scan→filter→partial agg→final agg) must
    compile into whole-stage-codegen subtrees."""
    df = QUERIES["agg_pricing_summary"](spark, SF)
    df.collect()  # finalize the adaptive plan in place
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    # "*(n)" prefixes mark whole-stage-codegen stages in the final plan
    assert "*(" in final


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "semi_join_exists")
    assert "LeftSemi" in plan


def test_minhash_no_cartesian(spark):
    """The three band-join queries share one candidate join, an
    equi-join on (band, sig) with the caller's pair rule as an extra
    condition: it must never degenerate into a cartesian product or a
    nested loop."""
    for name in ("dedup_minhash_lsh", "dedup_minhash_incremental",
                 "decontaminate_fuzzy_minhash"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_simhash_bands_are_equi_join(spark):
    """Pigeonhole band blocking: the simhash candidate join must be an
    equi-join on (band, band_value) — never the all-pairs nested loop
    that the quadratic oracle shape uses."""
    plan = plan_of(spark, "dedup_simhash")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


LSH_PAIR_QUERIES = (
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_cosine_lsh_fixedwidth_demo",
    "dedup_embedding_cosine_lsh_multitable",
)


def test_cosine_dedup_is_blocked_not_nested_loop(spark):
    """Exact cosine dedup must run as the tiled block product (equi-join
    routing + Arrow tiles), and the LSH variants as a probe-key equi-join;
    none may plan a nested loop over the corpus.  Every LSH pair query
    joins with the one measured shape, a shuffled hash join: a broadcast
    build side was slower at sf0.01 and sf0.1 and has no size bound."""
    for name in ("dedup_embedding_cosine",) + LSH_PAIR_QUERIES:
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        if name in LSH_PAIR_QUERIES:
            assert "ShuffledHashJoin" in plan, name
            assert "BroadcastHashJoin" not in plan, name


def test_broadcast_query_side_in_similarity(spark):
    plan = plan_of(spark, "similarity_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_range_join_is_banded_equi_join(spark):
    """The banded range join must plan as a hash/sort-merge equi-join on
    (user, bucket) — never a nested-loop over the band predicate, which
    is the O(n·m)-per-user shape that dies at scale."""
    plan = plan_of(spark, "range_join_clicks_before_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_ivf_codebook_broadcasts(spark):
    """IVF assignment must broadcast the (tiny) centroid codebook; a
    shuffle there would move the whole corpus to join 8 rows."""
    plan = plan_of(spark, "similarity_ivf_probe")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pivot_single_aggregation_pass(spark):
    """Pivot with an explicit value list must not add a distinct-values
    job.  The optimal shape is two partial-aggregated shuffles — the
    (priority, status) pre-aggregate, then pivotfirst on priority over
    already-tiny data; anything more means Spark ran the extra
    distinct-values scan."""
    plan = plan_of(spark, "pivot_priority_by_status")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_pivotfirst" in plan


def test_rollup_has_partial_phase(spark):
    plan = plan_of(spark, "time_bucket_rollup")
    assert "partial_sum" in plan or "partial_count" in plan


def test_corpus_funnel_is_shuffle_free(spark):
    """The filter funnel is one narrow pass beside the scan: any
    Exchange in its plan means a gate accidentally became a join/agg."""
    assert "Exchange" not in plan_of(spark, "corpus_filter_funnel")


def test_zorder_key_is_shuffle_free(spark):
    """Z-order key computation is pure per-row bit math — the one range
    shuffle belongs to the eventual clustered write, not the key op."""
    assert "Exchange" not in plan_of(spark, "zorder_cluster_events")


def test_temperature_resample_broadcasts_rates(spark):
    """The 5-row language-rate table must broadcast back onto the
    corpus scan — a shuffle join here would repartition the whole
    corpus by language (5 keys: maximal skew) at 100 TB."""
    plan = plan_of(spark, "lang_temperature_resample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_is_shuffle_free(spark):
    """Context-window chunking is pure per-row array math + explode —
    an Exchange would mean the span table accidentally became a join."""
    assert "Exchange" not in plan_of(spark, "context_window_chunks")


def test_unigram_logprob_broadcasts_vocab(spark):
    """The vocabulary joins back via broadcast — a shuffle join on the
    token column would repartition every exploded token row twice."""
    plan = plan_of(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_probes_before_shuffle_and_takes_ordered(spark):
    """BM25 must filter the token stream to the query terms *before* any
    shuffle (inverted-index probe) and plan the top-k as TakeOrdered."""
    plan = plan_of(spark, "keyword_search_bm25")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_span_dedup_is_equi_join_only(spark):
    """Every exact-span query matches windows (and, for the token-exact
    chain, window pairs) by a hash equi-join on the window hash —
    never a nested-loop pair comparison."""
    for name in ("dedup_duplicate_ngram_spans", "dedup_substring_spans_exact",
                 "dedup_substring_spans_token_exact", "dedup_substring_cut",
                 "dedup_substring_cut_exact", "decontaminate_span_cut"):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_semantic_dedup_broadcasts_codebook_and_blocks_pairs(spark):
    """SemDeDup: codebook assignment broadcasts (map-side); the pair
    join is an equi-join on centroid_id, not all-pairs."""
    plan = plan_of(spark, "semantic_dedup_clustered")
    assert "CartesianProduct" not in plan
    # the vec×vec pair stage must be partitioned by cluster — one Arrow
    # tile per cluster, never an all-pairs join.  The only nested loop
    # allowed is the K-row codebook broadcast.
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(centroid_id" in plan


def test_shard_assignment_single_shuffle(spark):
    """Shard assignment is one hash-partition shuffle (the window's
    partition-by) — no global sort, no extra exchanges."""
    plan = plan_of(spark, "training_shard_assignment")
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_pagerank_iteration_is_equi_join(spark, monkeypatch):
    """Every PageRank round must join rank⋈edges by key and aggregate
    with a partial phase — no nested loops anywhere in the loop.
    (Cap forced to 0 so the DISTRIBUTED loop's plan is inspected, not
    the r10 driver-replay LocalTableScan.)"""
    from mediawiki_to_notion_spark.operators import iter_local as IL

    monkeypatch.setattr(IL, "_DRIVER_CAP", 0)
    plan = plan_of(spark, "pagerank_word_graph")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_broadcasts_centroids_and_partial_aggregates(spark):
    """Every Lloyd round must broadcast the centroids (map-side cross
    join; the K-row build is the only nested loop) and update via a
    keyed partial aggregation — never shuffle the vector table twice.
    (The registered query checkpoints each round eagerly, so the round
    plan is inspected from the round builder, not the final leaf.)"""
    import pyspark.sql.functions as F

    from mediawiki_to_notion_spark.functions import vectors as V
    from mediawiki_to_notion_spark.operators import kmeans as KM
    from mediawiki_to_notion_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", SF)
    cents = e.filter(F.col("vec_id") < KM.KM_K).select(
        F.col("vec_id").alias("cluster_id"),
        V.to_double_array(F.col("embedding")).alias("cent"),
    )
    plan = KM._lloyd_round(e, cents)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan          # codebook broadcasts
    assert "WindowGroupLimit" in plan           # argmax pruned pre-exchange
    assert "partial_" in plan                   # map-side combine on update


def test_kmeans_driver_result_is_a_local_relation(spark):
    """Under the driver cap the refined codebook is built on the driver;
    it must reach the plan as a LocalRelation (Arrow-built, with size
    statistics), not as a Python-RDD scan."""
    plan = QUERIES["kmeans_lloyd_refine"](spark, SF) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan


def test_pq_encode_windowgrouplimit_prunes_argmin(spark):
    plan = plan_of(spark, "similarity_pq_encode")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_funnel_stages_share_user_partitioning(spark):
    """The three funnel stages all key by user_id; Spark must not insert
    a rangepartitioning exchange anywhere, in either query built on
    the shared stages."""
    for name in ("event_funnel_conversion", "events_conversion_funnel"):
        plan = plan_of(spark, name)
        assert "Exchange rangepartitioning" not in plan, name


def test_containment_pairs_from_posting_join(spark):
    """Containment candidates must come from the shared-shingle
    equi-join — never a document-pair nested loop."""
    plan = plan_of(spark, "dedup_containment")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zscore_stats_broadcast_back(spark):
    """The 5-row per-type stats must broadcast onto the event scan."""
    plan = plan_of(spark, "events_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tokenize_vocab_broadcasts(spark):
    """The vocabulary joins the exploded token stream by broadcast; a
    shuffle join would repartition the corpus token stream by token."""
    plan = plan_of(spark, "tokenize_to_ids")
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_prunes_before_exchange(spark):
    plan = plan_of(spark, "stratified_sample_exact")
    assert "WindowGroupLimit" in plan
    assert "Exchange rangepartitioning" not in plan


def test_paragraph_dedup_equi_join_only(spark):
    """First-occurrence resolution must be the chunk equi-join (groupBy
    min + join back on the same key) — never a document/chunk pair
    nested loop, and no range partitioning (reassembly sorts inside the
    doc_id aggregate, not globally)."""
    plan = plan_of(spark, "dedup_paragraph_chunks")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_pii_redaction_shuffle_free(spark):
    """Redaction is a pure per-row rewrite: one codegen'd scan, zero
    exchanges, zero Python workers."""
    plan = plan_of(spark, "text_pii_redaction")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1)" in plan  # the whole query is one codegen stage


def test_novelty_rate_single_key_shuffle(spark):
    """Novelty joins first-occurrence back on the shingle hash — an
    equi-join reusing the groupBy's hash partitioning; no pair blowup."""
    plan = plan_of(spark, "ngram_novelty_rate")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_int8_quantize_broadcasts_ranges(spark):
    """The per-dimension [lo, hi] table (one row per dim) must broadcast
    onto the exploded vector stream — a sort-merge join would shuffle
    the full corpus by dim."""
    plan = plan_of(spark, "embedding_int8_quantize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_robust_calibrate_broadcasts_quartiles(spark):
    """The per-source quartile table (one row per source) must broadcast
    back onto the documents scan."""
    plan = plan_of(spark, "score_robust_calibrate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skew_profile_shuffles_counts_once(spark):
    """The o_custkey counts shuffle — the only data-volume stage — must
    run once (localCheckpoint) even though three aggregates consume it."""
    plan = plan_of(spark, "join_key_skew_profile")
    assert plan.count("hashpartitioning(o_custkey") == 0  # pre-materialized
    assert "Scan ExistingRDD" in plan


def test_dense_ids_no_single_partition_data_pass(spark):
    """Global ids must come from range partitions + per-partition ranks —
    the corpus never funnels through one task.  The only SinglePartition
    exchange allowed is the tiny per-partition-counts offsets window
    (N_ID_PARTITIONS rows)."""
    plan = plan_of(spark, "dense_global_ids")
    # the ranked frame is checkpointed (one execution of the range
    # shuffle + Python rank pass, shared by offsets and the join)
    assert "Scan ExistingRDD" in plan
    assert plan.count("Exchange SinglePartition") <= 1
    # no corpus-wide window rank anywhere downstream; the checkpointed
    # subtree's own shape (rangepartitioning + MapInPandas, never a
    # window) is pinned by the oracle hash-match at two SFs
    assert "row_number" not in plan


def test_triangle_count_no_cartesian_wedges(spark):
    """Triangle closure must be the oriented-wedge equi-join + semi-join
    — never a cartesian over node pairs.  (The two 1-row summary
    crossJoins broadcast trivially and are allowed.)"""
    plan = plan_of(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "Scan ExistingRDD" in plan  # edge list materialized once


def test_bpe_counts_vocabulary_first(spark):
    """Pair explosion must run over the distinct-word table, not the
    corpus: exactly the word groupBy and the pair groupBy shuffles,
    and the top-k as TakeOrdered."""
    plan = plan_of(spark, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in plan


def test_gapfill_no_global_sort(spark):
    """The dense spine is generated and broadcast; the forward-fill
    window partitions by type (hash), never a global range sort."""
    plan = plan_of(spark, "time_gapfill_interpolate")
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_runtime_bloom_filter_injection_available(spark):
    """At 100 TB a selective dimension filter should semi-prune the fact
    shuffle via Catalyst's runtime bloom filter (InjectRuntimeFilter).
    The local tables sit under the size thresholds, so this pins that
    the optimizer DOES inject `might_contain` once the production-scale
    thresholds are met (emulated by lowering them)."""
    from mediawiki_to_notion_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        li = load_table(spark, "lineitem", SF)
        o = load_table(spark, "orders", SF).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey) \
              .groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_sliding_distinct_fanout_then_one_dedup(spark):
    """Sliding COUNT DISTINCT is the bounded 24x fan-out + one
    (window,user) aggregate — a partial-agg shuffle, never a cartesian
    over events x windows."""
    plan = plan_of(spark, "sliding_distinct_users")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_sliding_distinct_hll_fans_out_sketches_not_events(spark):
    """The HLL twin must pay the 24x explode on the per-hour SKETCH
    table (one row per hour), never on events: exactly one partial
    aggregate over events (the hourly sketch build) and the explode
    strictly downstream of it.  Row-parity + accuracy band vs the
    exact twin pin the semantics."""
    from mediawiki_to_notion_spark.operators.analytics_ext import (
        sliding_distinct_users,
        sliding_distinct_users_hll,
    )

    plan = plan_of(spark, "sliding_distinct_users_hll")
    assert "CartesianProduct" not in plan
    # the explode (Generate) runs on the aggregated hourly frame: the
    # plan has a partial hll build BELOW the generate, so the generate's
    # input is hour-sized.  A fan-out on raw events would put Generate
    # directly over the file scan with no aggregate in between.
    gen_pos = plan.find("Generate")
    agg_pos = plan.find("partial_hll_sketch_agg")
    assert gen_pos != -1 and agg_pos != -1 and agg_pos > gen_pos, \
        "hourly sketch aggregate must sit beneath the window explode"

    exact = {
        r.window_end_hour: r.n_distinct_users
        for r in sliding_distinct_users(spark, SF).collect()
    }
    approx = {
        r.window_end_hour: r.n_distinct_users_approx
        for r in sliding_distinct_users_hll(spark, SF).collect()
    }
    assert set(exact) == set(approx)  # same windows, clipped the same
    for h, n in exact.items():
        assert abs(approx[h] - n) <= max(3, 0.05 * n), (h, n, approx[h])


def test_mad_stats_broadcast_back(spark):
    """Median and MAD (tiny per-type rows) must broadcast onto the
    event scan in both passes; a shuffle join would repartition the
    events by 5-key event_type (maximal skew)."""
    plan = plan_of(spark, "events_mad_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_source_overlap_is_posting_equi_join(spark):
    """Source-pair candidates come from the shared-shingle equi-join
    over the distinct (source, shingle) table — never a nested loop
    over source pairs."""
    plan = plan_of(spark, "source_overlap_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_retention_cohort_reuses_user_partitioning(spark):
    """First-seen groupBy and the join back share the user_id key — no
    range partitioning, no nested loop; everything partial-aggregated
    — in both projections of the shared retention cells."""
    for name in ("user_retention_cohorts", "retention_cohort_matrix"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
        assert "partial_min" in plan, name


def test_market_basket_pairs_from_order_equi_join(spark):
    """Pair candidates must come from the l_orderkey equi-join (fan-out
    bounded by lines per order) — never a part-pair nested loop; the
    marginals and order count join after support pruning."""
    plan = plan_of(spark, "market_basket_part_pairs")
    assert "CartesianProduct" not in plan


def test_clustering_coef_equi_joins_only(spark):
    """Per-node triangle counting must stay on the oriented equi-join
    substrate — no cartesian, no nested loop."""
    plan = plan_of(spark, "graph_clustering_coefficient")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # shared checkpointed edge list


def test_transition_matrix_single_user_shuffle(spark):
    """The lead window hash-partitions by user_id (no global sort); the
    row totals broadcast back onto the tiny matrix — in both queries
    built on the shared transition core."""
    for name in ("event_transition_matrix", "events_markov_transitions"):
        plan = plan_of(spark, name)
        assert "Exchange rangepartitioning" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_triplet_mining_stays_on_bucket_probe(spark):
    """Mining composes the SRP bucket probe — no all-pairs join appears
    anywhere in the plan."""
    plan = plan_of(spark, "contrastive_triplet_mining")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_skew_join_split_available(spark):
    """SCALING.md names AQE skew-join as the runtime backstop for hot
    keys.  This pins that a genuinely skewed join (80% of rows on one
    key) is re-planned at runtime with the skewed partition split —
    SortMergeJoin(skew=true) — once the production-scale thresholds
    are met (emulated by lowering them)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200000).select(
            F.when(F.col("id") % 5 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = fact.join(dim, "k").groupBy().count()
        j.collect()  # finalize the adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _iter_subtrees(nodes: list[dict]):
    """Reconstruct the pre-order + num-children JSON plan into (node,
    subtree-nodes) pairs."""
    result = []

    def walk(i: int) -> int:
        node = nodes[i]
        j = i + 1
        start = i
        for _ in range(node.get("num-children", 0)):
            j = walk(j)
        result.append((node, nodes[start:j]))
        return j

    i = 0
    while i < len(nodes):
        i = walk(i)
    return result


@pytest.mark.slow  # r11 tier: registry-wide sweep, opt-in (VERDICT r10 #1)
def test_no_unpartitioned_corpus_window_in_any_registered_query(spark):
    """Blanket gate over the ENTIRE registry (the companion to the
    no-CartesianProduct sweep): no query may plan a Window with an empty
    partitionSpec over table-sized input — the single-task funnel that
    killed pack_sequences_greedy at scale (r2's one red row).

    A global window IS allowed when its input is provably bounded:
    its subtree contains an Aggregate or a Limit (vocabulary ranks,
    per-partition offset windows — group-count-sized), or reads only
    LogicalRDD leaves (explicitly localCheckpoint'd pre-aggregates,
    e.g. lineitem_pareto_abc's per-part rollup — each such checkpoint
    is pinned catalog-sized by its own named gate above)."""
    import json as _json

    bad = []
    for name, fn in sorted(QUERIES.items()):
        plan = fn(spark, SF)._jdf.queryExecution().optimizedPlan()
        nodes = _json.loads(plan.toJSON())
        for node, subtree in _iter_subtrees(nodes):
            if not node["class"].endswith(".Window"):
                continue
            if node.get("partitionSpec"):
                continue
            classes = {n["class"].rsplit(".", 1)[-1] for n in subtree[1:]}
            if classes & {"Aggregate", "GlobalLimit", "LocalLimit"}:
                continue
            leaves = {
                n["class"].rsplit(".", 1)[-1]
                for n in subtree
                if n.get("num-children", 0) == 0
            }
            if leaves <= {"LogicalRDD", "LocalRelation", "OneRowRelation"}:
                continue
            bad.append(name)
            break
    assert not bad, f"unbounded global windows in: {bad}"


@pytest.mark.slow  # r11 tier: registry-wide sweep, opt-in (VERDICT r10 #1)
def test_no_cartesian_product_in_any_registered_query(spark):
    """Blanket gate over the ENTIRE registry: no query may plan a
    CartesianProduct, ever.  (BroadcastNestedLoopJoin is allowed only
    where a 1-row summary frame or an intended broadcast NLJ makes it
    trivially bounded — those are pinned per-query above; an
    unbounded cartesian is never acceptable.)  The same sweep asserts
    no ROW-AT-A-TIME Python UDF anywhere (BatchEvalPython): Python in
    the hot path is sanctioned only as Arrow-batched kernels
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)."""
    cartesian, rowpy = [], []
    for name, fn in sorted(QUERIES.items()):
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            rowpy.append(name)
    assert not cartesian, f"cartesian products in: {cartesian}"
    assert not rowpy, f"row-at-a-time Python UDFs in: {rowpy}"


def test_pack_sequences_two_pass_shape(spark):
    """The r3 rewrite's execution shape, pinned: ONE range exchange
    (the doc_id bucketing) frozen behind a checkpoint, the in-range
    window keyed by pid (hash exchange), the offsets side joined by
    broadcast — and no empty-partitionSpec window over the corpus
    (the r2 scale-killer this replaced)."""
    plan = plan_of(spark, "pack_sequences_greedy")
    assert "Scan ExistingRDD" in plan          # checkpointed ranged frame
    assert "Exchange rangepartitioning" not in plan  # inside the checkpoint
    assert "BroadcastHashJoin" in plan         # offsets broadcast back
    assert plan.count("Exchange SinglePartition") <= 1  # offsets window only


def test_rfm_bounds_broadcast_back(spark):
    """The 1-row quartile-boundary frame broadcasts onto the
    per-customer aggregate — never an ntile window over all customers
    (which would range-partition)."""
    plan = plan_of(spark, "orders_rfm_segmentation")
    assert "Exchange rangepartitioning" not in plan
    assert "Window" not in plan


def test_normalized_dedup_partial_agg(spark):
    plan = plan_of(spark, "dedup_normalized_exact")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_centroid_drift_decimal_partial_agg(spark):
    """Per-(label,half,dim) means and the squared-diff fold are exact
    decimal partial aggregates; the half-vs-half join is an equi-join
    over the tiny means table."""
    plan = plan_of(spark, "embedding_centroid_drift")
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_quality_ensemble_no_rank_window(spark):
    """Ensemble scoring uses broadcast quartile boundaries — never a
    corpus-wide rank window (which would range-partition or single-
    partition the corpus)."""
    plan = plan_of(spark, "quality_signal_ensemble")
    assert "Exchange rangepartitioning" not in plan
    assert "Window" not in plan  # quartiles via broadcast bounds, no rank
    assert "CartesianProduct" not in plan


def test_cusum_windows_over_tiny_frame(spark):
    """CUSUM runs over the hourly pre-aggregate (|types| x |hours|) —
    the event stream collapses before any window; mean rates broadcast."""
    plan = plan_of(spark, "events_cusum_changepoint")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan  # hourly pre-agg has map-side combine
    assert "WindowGroupLimit" in plan  # peak pick prunes pre-exchange


def test_pareto_sorts_catalog_not_facts(spark):
    """The global ordered cumsum — inherent to Pareto semantics — must
    run over the MATERIALIZED per-part aggregate: lineitem shuffles
    once into the checkpoint, and the single-partition window (fine at
    catalog cardinality; dense_global_ids is the swap-in if not)
    consumes the checkpointed frame, never raw lineitem."""
    plan = plan_of(spark, "lineitem_pareto_abc")
    assert "Scan ExistingRDD" in plan            # aggregate materialized once
    assert "hashpartitioning(l_partkey" not in plan  # fact shuffle pre-done
    assert "Window" in plan


def test_q7_broadcasts_all_dimensions(spark):
    """The nation-pair trade matrix has ONE big equi-join (lineitem x
    orders); customer/supplier/nation sides all broadcast."""
    plan = plan_of(spark, "trade_volume_nation_pairs")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_kwic_is_shuffle_free(spark):
    """Concordance is a narrow explode+slice beside the scan."""
    assert "Exchange" not in plan_of(spark, "text_kwic_concordance")


def test_phash_dedup_band_equi_join(spark):
    """Image pHash candidates come from the pigeonhole band equi-join —
    never the all-pairs nested loop the oracle shape uses."""
    plan = plan_of(spark, "multimodal_image_phash_dedup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_keyword_extraction_prunes_topk_pre_exchange(spark):
    """Per-doc top-k must prune via WindowGroupLimit; the vocabulary
    IDF table broadcasts back onto the token stream."""
    plan = plan_of(spark, "doc_keyword_extraction")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_dashboard_widget_takes_ordered(spark):
    """The widget's recency cut must plan as TakeOrdered — never a
    corpus-wide sort or single-partition window over all events."""
    plan = plan_of(spark, "dashboard_status_widget")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_embedding_pca_reduction_tier_is_executor_side(spark):
    """The Gram-partial reduction must happen ON THE EXECUTORS before
    the driver collect: a FlatMapGroupsInPandas (the applyInPandas
    partial-sum keyed on spark_partition_id() % fan-in) must sit
    ABOVE the MapInPandas scan kernel, separated by the tag
    hash-exchange — so the driver only ever ingests <= fan-in rows,
    not one row per Arrow batch."""
    from mediawiki_to_notion_spark.operators.data_prep import (
        pca_gram_reduced,
    )

    plan = pca_gram_reduced(spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    i_reduce = plan.find("FlatMapGroupsInPandas")
    i_scan = plan.find("MapInPandas")
    assert i_reduce != -1 and i_scan != -1
    assert i_reduce < i_scan  # reduce tier sits above the scan kernel
    assert "Exchange hashpartitioning(tag" in plan


def test_embedding_pca_matches_numpy(spark):
    """The distributed Gram/mean computation must reproduce a pure
    numpy PCA of the same vectors: same eigenvalues, |cosine| ~ 1
    between loading vectors, deterministic sign (largest-|loading|
    entry positive)."""
    import numpy as np

    from mediawiki_to_notion_spark.operators.data_prep import (
        PCA_COMPONENTS,
        embedding_pca_power,
    )
    from mediawiki_to_notion_spark.sources.tables import load_table

    rows = embedding_pca_power(spark, SF).collect()
    vecs = np.array([
        r.embedding for r in
        load_table(spark, "embeddings", SF).select("embedding").collect()
        if r.embedding
    ], dtype=np.float64)
    cov = np.cov(vecs, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    d = vecs.shape[1]
    for k in range(PCA_COMPONENTS):
        got = sorted((r for r in rows if r.component == k),
                     key=lambda r: r.dim)
        v_got = np.array([r.loading for r in got])
        lam_got = got[0].eigenvalue
        v_np = evecs[:, -(k + 1)]
        assert len(got) == d
        assert abs(lam_got - evals[-(k + 1)]) < 1e-6 * max(1, abs(lam_got))
        assert abs(abs(v_got @ v_np) - 1.0) < 1e-6
        assert v_got[int(np.argmax(np.abs(v_got)))] > 0
    mu_got = np.array([r.mean for r in sorted(
        (r for r in rows if r.component == 0), key=lambda r: r.dim)])
    np.testing.assert_allclose(mu_got, vecs.mean(axis=0), atol=1e-9)


def test_repetition_rules_is_shuffle_free_arrow_kernel(spark):
    """Per-document repetition statistics never shuffle BY KEY: the
    whole battery is one row-local Arrow kernel over the (doc_id,
    text) scan (the r5 rewrite's defining property — 6.5x over the
    keyed aggregation).  The r10 ensure_parallelism spread is a
    round-robin REPARTITION of the small scan, not a data-dependent
    shuffle, so the assertion pins the partitioning kind."""
    plan = plan_of(spark, "text_gopher_repetition_rules")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "MapInPandas" in plan


def test_repetition_kernel_arrow_batch_size_invariance(spark):
    """The kernel's output must not depend on Arrow batch boundaries:
    force pathologically small batches and require identical rows."""
    from mediawiki_to_notion_spark.operators import QUERIES

    sf = "/root/testdata/sf0.001"
    fn = QUERIES["text_gopher_repetition_rules"]
    baseline = sorted(map(tuple, fn(spark, sf).collect()))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")
        tiny = sorted(map(tuple, fn(spark, sf).collect()))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert tiny == baseline


def test_winnowing_pairs_are_equi_join_only(spark):
    """Winnowing fingerprint pairing must join on the fingerprint hash
    (equi), never all-pairs; the window min runs doc-partitioned.

    r10: the fingerprint table is localCheckpoint'ed before its four
    consumers, so the final plan reads it as an RDD leaf — the Window
    assertion moves to the fingerprint STAGE's own plan (what actually
    executes inside the checkpoint job)."""
    from mediawiki_to_notion_spark.operators.dedup_ext import (
        winnow_fingerprints,
    )
    from mediawiki_to_notion_spark.sources.tables import load_table

    plan = plan_of(spark, "dedup_winnowing_fingerprint")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    stage = winnow_fingerprints(
        load_table(spark, "documents", SF)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" in stage  # per-doc winnowing window, not a driver loop


def test_forecast_customer_join_auto_broadcasts(spark):
    """The forecast queries join orders to a 2-column CUSTOMER
    projection.  Customer is not a bounded dimension (nation/region
    are), so the join carries NO F.broadcast hint — at tested SFs
    Catalyst must still pick a broadcast join from the size estimate
    (autoBroadcastJoinThreshold), and past the threshold it degrades
    to a shuffle join instead of a driver OOM (VERDICT r8 item 7)."""
    for name in ("orders_demand_forecast_holt",
                 "orders_forecast_holt_winters"):
        plan = plan_of(spark, name)
        # >= 2: the HINTED nation join alone must not satisfy this —
        # the un-hinted customer join has to broadcast too (a single
        # occurrence would mean Catalyst chose a sort-merge/shuffle
        # join for customer and the gate would be vacuous)
        assert plan.count("BroadcastHashJoin") >= 2, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_replay_tables_broadcast_at_consumer_joins(spark):
    """r10: the driver-replay cutover tables (createDataFrame local
    relations, cap-bounded by construction) must broadcast at every
    corpus-scale consumer join — without the explicit hint they plan
    as stats-less ExistingRDD scans and the graft/encode joins
    sort-merge (CC: 2 corpus Exchanges) or broadcast the CORPUS side
    (fertility encodes: BuildLeft under the 10 MB estimate)."""
    # CC label graft: left-outer broadcast of the label table, no SMJ
    plan = plan_of(spark, "dedup_connected_components")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan \
        and "BuildRight" in plan
    # fertility encodes: the word/vocab table is the build side
    for name in ("bpe_tokenize_fertility", "wordpiece_tokenize_fertility",
                 "unigram_lm_fertility"):
        plan = plan_of(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "BuildLeft" not in plan, name
        assert "BroadcastHashJoin" in plan, name


@pytest.mark.parametrize("shards", [1, 2])
def test_upload_arrangement_is_one_shuffle(spark, staged_tables, shards):
    """The sink's input (pending blocks sharded and sorted for the upload
    worker) plans one shuffle: the shard exchange also clusters each
    batch for the n_pending/row_number window, whose sort is the shard
    sort.  The only other exchange broadcasts the pages table."""
    from mediawiki_to_notion_spark.streaming.upload import pending_blocks

    df = pending_blocks(spark, staged_tables, max_blocks=50, shards=shards)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan and "Window [" in plan
    assert plan.count("BroadcastExchange ") == 1
    assert plan.count("Exchange ") == 2
    assert plan.count("Sort [") == 1


# RDD methods that run Python functions in a Python-RDD worker pool of
# their own, next to the one that serves the Arrow stages.
PYTHON_RDD_METHODS = {
    "foreach", "foreachPartition", "mapPartitions", "mapPartitionsWithIndex",
    "parallelize", "javaToPython",
}


def test_package_runs_no_python_rdd_pass():
    """Every Python stage of the package is an Arrow stage (mapInPandas,
    pandas UDFs), so one Python worker pool serves the whole pipeline.
    The one allowed use of ``.rdd`` is reading a partition count
    (``ensure_parallelism``), which runs no Python.  ``createDataFrame``
    over a Python list is a ``parallelize`` in disguise, so it may only
    appear inside ``local_frame``, which hands it an Arrow table."""
    import ast
    import pathlib

    import mediawiki_to_notion_spark

    root = pathlib.Path(mediawiki_to_notion_spark.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = {
            id(node.func.value) for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "getNumPartitions"
        }
        if path.relative_to(root).as_posix() == "plans/pipeline.py":
            allowed |= {
                id(node)
                for fn in tree.body
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
                for node in ast.walk(fn)
                if isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
            }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Attribute):
                continue
            if node.attr in PYTHON_RDD_METHODS or (
                node.attr in ("rdd", "createDataFrame")
                and id(node) not in allowed
            ):
                bad.append(f"{path.relative_to(root)}:{node.lineno} .{node.attr}")
    assert not bad, bad


def test_package_docstrings_show_no_format_placeholders():
    """Docstrings are plain strings, so a ``{CONSTANT}`` in one reaches
    the reader verbatim instead of the constant's value; name the
    constant in double backticks instead."""
    import ast
    import pathlib
    import re

    import mediawiki_to_notion_spark

    placeholder = re.compile(r"\{[A-Z][A-Z0-9_]*\}")
    root = pathlib.Path(mediawiki_to_notion_spark.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Module, ast.ClassDef,
                                     ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            doc = ast.get_docstring(node, clean=False) or ""
            bad += [f"{path.relative_to(root)}:{getattr(node, 'name', '')} {m}"
                    for m in placeholder.findall(doc)]
    assert not bad, bad
