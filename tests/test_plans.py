"""Physical-plan assertions: the 100 TB story is only real if the
plans actually have the right shape — filters reaching the parquet
reader, dims broadcast, aggregates partial+final, top-k without a full
sort. These tests pin the shapes so a refactor can't silently regress
them (SURVEY §4.2's verify-via-explain checklist)."""

import io
from contextlib import redirect_stdout

import pytest

from graphsense_datafeed_spark.registry import QUERIES


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark, sf_dir):
    p = plan_of(QUERIES["scan_parquet"](spark, sf_dir))
    assert "PushedFilters: [" in p and "l_quantity" in p.split("PushedFilters")[1].split("]")[0], p
    # column pruning: ReadSchema must NOT include unused wide columns
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema
    assert "l_shipdate" not in read_schema


def test_broadcast_join_for_dims(spark, sf_dir):
    p = plan_of(QUERIES["golden_q5_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    p2 = plan_of(QUERIES["join_inner_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in p2
    assert "SortMergeJoin" not in p2


def test_topk_avoids_global_sort(spark, sf_dir):
    p = plan_of(QUERIES["topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_partial_final_aggregation(spark, sf_dir):
    p = plan_of(QUERIES["agg_groupby"](spark, sf_dir))
    # two HashAggregate nodes around the exchange = map-side combine
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_window_topk_uses_group_limit(spark, sf_dir):
    p = plan_of(QUERIES["win_topk_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_semi_anti_join_shapes(spark, sf_dir):
    p = plan_of(QUERIES["join_left_semi"](spark, sf_dir))
    assert "LeftSemi" in p
    p = plan_of(QUERIES["join_left_anti"](spark, sf_dir))
    assert "LeftAnti" in p


def test_date_filter_pushed_to_scan(spark, sf_dir):
    """golden_q6: both shipdate bounds and the discount band must reach
    the reader as pushed filters (row-group pruning at scale)."""
    p = plan_of(QUERIES["golden_q6_revenue"](spark, sf_dir))
    pushed = p.split("PushedFilters")[1].split("]")[0]
    assert "l_discount" in pushed
    assert "l_quantity" in pushed


def test_no_cartesian_in_interval_join(spark, sf_dir):
    """join_interval must plan as an equi (hash) join on the day bucket
    with a residual range condition — not a nested-loop over all
    (event × window) pairs."""
    p = plan_of(QUERIES["join_interval"](spark, sf_dir))
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "CartesianProduct" not in p


def test_asof_is_single_exchange_window(spark, sf_dir):
    """join_asof composes as one hash exchange + running window — no
    join node at all (the point of the union+window formulation)."""
    p = plan_of(QUERIES["join_asof"](spark, sf_dir))
    assert "Join" not in p
    assert "Window" in p
    assert p.count("hashpartitioning") == 1


def test_theta_join_broadcasts_small_side(spark, sf_dir):
    """Pure non-equi joins have no hash-join strategy; the plan must
    broadcast the small side (BNLJ), never a full CartesianProduct."""
    p = plan_of(QUERIES["join_theta_range"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_q7_broadcasts_both_nation_aliases(spark, sf_dir):
    p = plan_of(QUERIES["golden_q7_trade"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 3  # supplier + nation ×2


def test_whole_stage_codegen_active(spark, sf_dir):
    p = plan_of(QUERIES["golden_q1_pricing"](spark, sf_dir), mode="codegen")
    assert "WholeStageCodegen" in p


def test_q17_decorrelates_to_agg_join(spark, sf_dir):
    """The per-part average threshold must plan as a partial+final
    aggregate joined back to the fact — never a correlated per-row
    re-scan (no nested-loop node anywhere)."""
    p = plan_of(QUERIES["golden_q17_small_qty"](spark, sf_dir))
    assert "HashAggregate" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_lateral_decorrelates_to_agg_join(spark, sf_dir):
    """LATERAL correlated aggregate: Catalyst must rewrite to
    aggregate-then-join (same contract as test_q17)."""
    p = plan_of(QUERIES["join_lateral"](spark, sf_dir))
    assert "HashAggregate" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q8_star_all_hash_joins(spark, sf_dir):
    """The 8-relation star must compose entirely of hash joins (no
    nested loop, no cartesian) with a single aggregate exchange."""
    p = plan_of(QUERIES["golden_q8_market_share"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_skew_salt_reaches_partitioner(spark, sf_dir):
    """With broadcast disabled (the 100 TB case — the dim is too big),
    the salted join must shuffle on (k, salt): the hot key's rows then
    spread over salt-many tasks. Broadcast re-enabled afterwards."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(QUERIES["join_skew_salted"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("k" in x and "salt" in x for x in parts), parts
    assert "BroadcastHashJoin" not in p


def test_skew_conditional_replicates_only_hot_keys(spark, sf_dir):
    """The two-pass conditional skew join must NOT replicate the dim
    side for cold keys: replicated dim rows == |hot keys| * n_salt,
    and the plan's only explode feeds the hot branch."""
    from pyspark.sql import functions as F

    from graphsense_datafeed_spark.operators.joins import load, split_salted_join

    fact = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("label")
    )
    # scale-relative threshold: key 0 funnels ~70% of rows, so 10% of
    # the fact count marks it hot at every SF the suite runs at
    n_salt, threshold = 8, max(1, fact.count() // 10)
    joined, dim_hot = split_salted_join(fact, dim, "k", n_salt, threshold)

    n_hot = fact.groupBy("k").count().filter(F.col("count") > threshold).count()
    hot_in_dim = (
        fact.groupBy("k")
        .count()
        .filter(F.col("count") > threshold)
        .join(dim, "k", "left_semi")
        .count()
    )
    assert n_hot >= 1  # the synthetic funnel makes key 0 hot
    # replication bounded by hot keys, nowhere near |dim| * n_salt
    assert dim_hot.count() == hot_in_dim * n_salt
    assert dim_hot.count() < dim.count() * n_salt
    # exactly one explode in the whole plan — the hot branch; the cold
    # branch joins the dim unreplicated
    p = plan_of(joined, "simple")
    assert p.count("Generate") == 1, p

    # semantics preserved vs the plain join
    plain = (
        fact.join(dim, "k")
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("c"))
    )
    cond = joined.groupBy("label").agg(
        F.count("*").alias("n"), F.sum("cents").alias("c")
    )
    assert sorted(map(tuple, cond.collect())) == sorted(map(tuple, plain.collect()))


def test_chunking_is_narrow(spark, sf_dir):
    """text_chunk must be shuffle-free: sequence+explode+slice are all
    narrow, so chunk rows never leave the doc's partition."""
    p = plan_of(QUERIES["text_chunk"](spark, sf_dir))
    assert "Exchange" not in p, p


def test_q15_scalar_max_is_broadcast(spark, sf_dir):
    """Q15's MAX(total_revenue) must ride as a broadcast (1-row build
    side), never a shuffled join or a driver collect."""
    p = plan_of(QUERIES["golden_q15_top_supplier"](spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_sample_prunes_columns_and_stays_codegen(spark, sf_dir):
    """The md5 sample filter reads exactly its 3 columns (digest keys +
    projection) and evaluates inside whole-stage codegen right after
    the scan — the property that shrinks every downstream stage."""
    p = plan_of(QUERIES["sample_deterministic"](spark, sf_dir))
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice"):
        assert col in read_schema
    assert "l_shipdate" not in read_schema
    assert "* Filter" in p  # '*' prefix = inside WholeStageCodegen


def test_pack_window_partitions_by_shard(spark, sf_dir):
    """Sequence packing must window per source shard (parallel), not
    over one global order (serial bottleneck at scale)."""
    import re

    p = plan_of(QUERIES["text_pack_sequences"](spark, sf_dir))
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("source" in x for x in parts), parts
    assert "SinglePartition" not in p, p


def test_repetition_and_pii_are_narrow(spark, sf_dir):
    """Per-doc quality rules and PII scrubbing must be shuffle-free —
    pure projection over the corpus scan."""
    assert "Exchange" not in plan_of(QUERIES["text_repetition_filter"](spark, sf_dir))
    assert "Exchange" not in plan_of(QUERIES["text_pii_scrub"](spark, sf_dir))


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The eval-set side of the contamination join must broadcast: the
    corpus is never shuffled on the shingle key."""
    p = plan_of(QUERIES["text_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_sessionize_single_exchange(spark, sf_dir):
    """Sessionization must reuse ONE user_id shuffle for the lag
    window, the running-sum window, and the final per-session agg
    (hash-partitioning on user_id satisfies the (user_id, session_id)
    clustering)."""
    p = plan_of(QUERIES["events_sessionize"](spark, sf_dir), "simple")
    assert p.count("Exchange") == 1, p


def test_runtime_bloom_filter_injects(spark, sf_dir):
    """Runtime row-level filtering: joining the fact to a selectively
    filtered build side must inject a bloom_filter_agg semi-filter on
    the fact scan once the size gates are met (forced here by lowering
    the application-side threshold — at 100 TB the default 10 GB gate
    passes naturally). Asserts the engine benefits from Spark's
    runtime filtering at deployment scale."""
    from pyspark.sql import functions as F

    from graphsense_datafeed_spark.sources.tables import load

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    prev_app = spark.conf.get(key)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(key, "0")
    try:
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        pp = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(key, prev_app)
    assert "bloom_filter_agg" in pp, pp[:2000]


def test_q11_reuses_grouped_exchange(spark, sf_dir):
    """The scalar grand total must come from the SAME shuffled partial
    aggregate as the per-part values — a ReusedExchange, not a second
    lineitem scan. AQE materializes the reuse at runtime, so assert on
    the executed plan after an action."""
    df = QUERIES["golden_q11_important_stock"](spark, sf_dir)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p, p


def test_q21_probes_share_orderkey_exchange(spark, sf_dir):
    """All three lineitem appearances shuffle on l_orderkey only; the
    plan must contain the semi and anti probes but no cartesian and no
    broadcast of the fact table."""
    p = plan_of(QUERIES["golden_q21_waiting_orders"](spark, sf_dir))
    assert "LeftSemi" in p and "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p


def test_lsh_pairs_have_no_window_sort(spark, sf_dir):
    """Candidate generation was rebuilt around count-filtered
    collect_list buckets; the plan must carry no Window operator (the
    old shape sorted every band partition) and must still cap via the
    co-partitioned count join."""
    from graphsense_datafeed_spark.operators.llm_dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from graphsense_datafeed_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(500)
    p = plan_of(lsh_candidate_pairs(minhash_signatures(docs)))
    assert "Window" not in p, p
    assert "collect_list" in p, p


def test_profile_is_two_hash_passes(spark, sf_dir):
    """profile_columns (round-15 split): TWO narrow parquet scans —
    one partial-aggregated pass for the non-distinct stats, one
    long-form pass for the distinct counts — with the multi-distinct
    Expand and its SortAggregate chains gone, and the two 5-row
    results joined by broadcast. (Pre-r15 this was a single scan whose
    mixed COUNT(DISTINCT)+string MIN/MAX agg sorted |rows|x6 expanded
    wide rows: 7.6 s vs 1.3 s isolated at sf0.1.) The string-buffer
    MIN/MAX pass still PRINTS as SortAggregate, but with zero grouping
    keys it needs no Sort node below it — that absence is the pin."""
    p = plan_of(QUERIES["profile_columns"](spark, sf_dir))
    assert p.count("Scan parquet") == 4, p  # 2 nodes x (tree + detail)
    assert "Expand" not in p, p
    assert "BroadcastHashJoin" in p, p
    # no Sort node anywhere: the global SortAggregate sorts nothing,
    # and the distinct-count branch is pure HashAggregate
    assert "Sort [" not in p, p


def test_resample_scans_pushed_and_pruned(spark, sf_dir):
    """Both passes over raw events (the rollup and its bounds — reuse
    is defeated by column pruning, see the operator's comment) must
    reach the scan with the user_id filter pushed and only (user_id,
    ts) read; the grid explode must sit above an Aggregate, never on
    raw events."""
    p = plan_of(QUERIES["ts_resample_locf"](spark, sf_dir))
    for seg in p.split("PushedFilters")[1:]:
        assert "user_id" in seg.split("]")[0], p
    for seg in p.split("ReadSchema:")[1:]:
        line = seg.splitlines()[0]
        assert "value" not in line and "props" not in line, p
    assert "Generate" in p, p


def test_partition_pruning_lists_one_directory(spark, sf_dir):
    """The month equality predicate must reach the catalog as a
    partition filter: the scan's partition count is 1 and the data
    filters no longer mention the partition column."""
    df = QUERIES["scan_partition_pruning"](spark, sf_dir)
    p = plan_of(df)
    assert "PartitionFilters" in p, p
    seg = p.split("PartitionFilters:")[1].split("]")[0]
    assert "order_month" in seg, p
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"partitions read: (\d+)", ep)
    if m:  # wording varies by Spark version; partition filter is the gate
        assert m.group(1) == "1", ep


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    """dedup_semantic candidates must come from the (band_id, band_key)
    equi-join — a hash/sort-merge join, never a cartesian/BNLJ pair
    blow-up — and the band-key projection must stay narrow (no
    exchange before the band explode)."""
    p = plan_of(QUERIES["dedup_semantic"](spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_dedup_near_oracle_pipeline_joins_on_buckets(spark, sf_dir):
    """dedup_near (md5-minhash form) must keep the LSH candidate join
    keyed on (band_id, band_key) — no cross product anywhere in the
    MinHash → bucket → verify pipeline."""
    p = plan_of(QUERIES["dedup_near"](spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_round4_ops_plan_shapes(spark, sf_dir):
    """Round-4 operators must plan the shapes their docstrings claim:
    pure projections stay exchange-free, the MAD stats and dedup
    removal set broadcast back onto the detail."""
    from graphsense_datafeed_spark.registry import QUERIES

    # split_train_holdout and embed_quality_gate: narrow — no shuffle
    p = plan_of(QUERIES["split_train_holdout"](spark, sf_dir))
    assert "Exchange" not in p, p
    p = plan_of(QUERIES["embed_quality_gate"](spark, sf_dir))
    assert "Exchange" not in p, p
    # ts_outlier_mad: the (med, mad) table joins back via broadcast;
    # the detail side carries no Exchange below the join
    p = plan_of(QUERIES["ts_outlier_mad"](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    # dedup_apply: the removal set SCALES with dup mass, so it is no
    # longer hint-pinned (round-9 sf1 lesson) — the static plan may be
    # SMJ, but once AQE measures the small side at fixture scale the
    # FINAL plan must still anti-join via broadcast
    df = QUERIES["dedup_apply"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final and "LeftAnti" in final, final
    # join_bloom_prefilter: the bloom bit-test Filter must sit on the
    # fact scan side (pre-join pruning), and both joins broadcast
    p = plan_of(QUERIES["join_bloom_prefilter"](spark, sf_dir))
    assert "might_contain" in p or "shiftleft" in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_round5_batch23_plan_shapes(spark, sf_dir):
    """Round-5 batch-2/3 operators must plan the shapes their
    docstrings claim."""
    from graphsense_datafeed_spark.registry import QUERIES

    # ts_downsample_m4: four window orders + rollup share ONE hash
    # exchange on (user_id, bucket) — count the shuffle exchanges in
    # the pre-AQE plan
    p = plan_of(QUERIES["ts_downsample_m4"](spark, sf_dir))
    tree = p.split("===== Subqueries")[0]
    n_shuffle = sum(
        1
        for line in tree.splitlines()
        if "Exchange" in line and "Broadcast" not in line and "(" in line
    )
    assert n_shuffle <= 2, tree  # 1 window exchange (+1 if agg re-hashes)
    assert tree.count("Window") >= 1
    # histogram_equidepth: the NTILE global sort is a single-partition
    # window (documented local form) feeding a hash agg
    p = plan_of(QUERIES["histogram_equidepth"](spark, sf_dir))
    assert "Window" in p and "HashAggregate" in p
    # agg_decimal_exact: plain partial+final hash agg, no window/join
    p = plan_of(QUERIES["agg_decimal_exact"](spark, sf_dir))
    assert p.count("HashAggregate") >= 2 and "Join" not in p
    # graph_common_neighbors: degree join-backs broadcast; top-20 is
    # TakeOrdered, never a global sort
    p = plan_of(QUERIES["graph_common_neighbors"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # embed_knn_graph: directed top-k is a WindowGroupLimit; the
    # mutualization is a LeftSemi join
    p = plan_of(QUERIES["embed_knn_graph"](spark, sf_dir))
    assert "WindowGroupLimit" in p and "LeftSemi" in p
    # bpe_pair_counts / winnowing selection: pair expansion sits
    # between two aggregations; no join in bpe at all
    p = plan_of(QUERIES["bpe_pair_counts"](spark, sf_dir))
    assert p.count("HashAggregate") >= 4 and "Join" not in p
    assert "TakeOrderedAndProject" in p
    # embedding_pipeline: the removal anti-join broadcasts
    p = plan_of(QUERIES["embedding_pipeline"](spark, sf_dir))
    assert "LeftAnti" in p and "BroadcastHashJoin" in p


def test_round5_batch45_plan_shapes(spark, sf_dir):
    """Batch-4/5 operators must plan their documented shapes."""
    from graphsense_datafeed_spark.registry import QUERIES

    # join_asof_tolerance: the union+window form — ONE shuffle on
    # user_id, a Window node, and NO join node anywhere
    p = plan_of(QUERIES["join_asof_tolerance"](spark, sf_dir))
    assert "Window" in p and "Join" not in p, p
    tree = p.split("===== Subqueries")[0]
    # each node appears twice in "formatted" output (tree + detail)
    n_shuffle = sum(
        1
        for line in tree.splitlines()
        if "Exchange" in line and "Broadcast" not in line and "(" in line
    )
    assert n_shuffle <= 2, tree  # exactly one shuffle exchange
    # agg_itemset_pairs: item dim broadcasts into the basket build;
    # top-20 is TakeOrdered, no cartesian anywhere
    p = plan_of(QUERIES["agg_itemset_pairs"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # multimodal_dedup_exact: digest partial+final agg, no join
    p = plan_of(QUERIES["multimodal_dedup_exact"](spark, sf_dir))
    assert p.count("HashAggregate") >= 2 and "Join" not in p
    # date_spine_fill: the spine side joins back broadcast
    p = plan_of(QUERIES["date_spine_fill"](spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_dynamic_partition_pruning_injects(spark, sf_dir):
    """The fact scan must carry a runtime dynamicpruning partition
    filter injected from the dim side — DPP, not a full-table read."""
    p = plan_of(QUERIES["scan_dynamic_partition_pruning"](spark, sf_dir))
    assert "dynamicpruning" in p.lower(), p


def test_asof_nearest_single_exchange_no_join(spark, sf_dir):
    """Both directional tapes must share ONE user exchange and the
    plan must contain no join node at all."""
    p = plan_of(QUERIES["join_asof_nearest"](spark, sf_dir), mode="simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 1  # both tapes in one window node
    assert "Join" not in p


def test_seasonal_adjust_broadcasts_cells(spark, sf_dir):
    """The 168-cell seasonal profile must broadcast; the detail side
    must never sort-merge."""
    p = plan_of(QUERIES["ts_seasonal_adjust"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_keywords_topk_uses_group_limit_and_broadcast_idf(spark, sf_dir):
    p = plan_of(QUERIES["text_keywords_topk"](spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p


def test_phash_dedup_no_cartesian(spark, sf_dir):
    """Candidate generation must be the block equi-join — never a
    cross/nested-loop product over documents."""
    p = plan_of(QUERIES["multimodal_phash_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_kcore_peel_round_is_semi_joins(spark, sf_dir):
    """One peel round (built un-checkpointed, the way the loop builds
    it) must filter via two semi-joins — no outer materialization, no
    cartesian. The operator itself checkpoints each round, which
    collapses the visible plan, so the round shape is pinned here."""
    import pyspark.sql.functions as F
    from graphsense_datafeed_spark.ingest.graphstats import (
        cooccurrence_edges,
    )

    e = cooccurrence_edges(spark)
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    live = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 3)
        .select("node")
    )
    one_round = sym.join(live, sym.src == live.node, "left_semi").join(
        live.select(F.col("node").alias("dnode")),
        sym.dst == F.col("dnode"),
        "left_semi",
    )
    p = plan_of(one_round)
    assert p.count("LeftSemi") >= 2
    assert "CartesianProduct" not in p


def test_skyline_two_phase_reduction(spark, sf_dir):
    """skyline_2d's single-partition window must consume the phase-1
    partial-skyline output (MapInPandas over a local sort), never the
    raw orders scan — the distributed reduction from VERDICT r5 #2."""
    p = plan_of(QUERIES["skyline_2d"](spark, sf_dir))
    assert "MapInPandas" in p, p
    # exactly one exchange, the single-partition one for phase 2
    assert p.count("SinglePartition") == 1, p
    # phase-1 local sort does not shuffle: no hash exchange anywhere
    assert "hashpartitioning" not in p, p
    # tree prints sink-first: the global Exchange sits ABOVE the
    # phase-1 Arrow fold, i.e. it consumes the pruned set, not the scan
    tree = p.split("\n\n")[0]
    assert tree.index("Exchange") < tree.index("MapInPandas"), tree


def test_recurrence_folds_are_bounded(spark, sf_dir):
    """ts_ewma / ts_holt_linear must stream per-key state through a
    mapInPandas fold — no collect_list of a key's whole series
    (VERDICT r5 #3).  One keyed exchange, a partition-local sort, and
    the Arrow fold; no ObjectHashAggregate / collect_list anywhere."""
    for qid in ("ts_ewma", "ts_holt_linear"):
        p = plan_of(QUERIES[qid](spark, sf_dir))
        assert "MapInPandas" in p, (qid, p)
        assert "collect_list" not in p, (qid, p)
        assert "ObjectHashAggregate" not in p, (qid, p)
        assert p.count("hashpartitioning") == 1, (qid, p)
        assert "SinglePartition" not in p, (qid, p)


def test_pattern_match_var_single_exchange_no_join(spark, sf_dir):
    """A B* C matching must stay one keyed exchange: the row-number
    window and the four carried last_value's share the user_id
    partitioning (exchange reuse), and the variable-length contiguity
    test is a predicate — no self-join, no explode."""
    p = plan_of(QUERIES["win_pattern_match_var"](spark, sf_dir))
    assert p.count("hashpartitioning") == 1, p
    assert "Join" not in p, p
    assert "Generate" not in p, p


def test_round6_ops_plan_shapes(spark, sf_dir):
    # upsample mixture: pure map + bounded explode — ZERO exchanges
    p = plan_of(QUERIES["sample_upsample_mixture"](spark, sf_dir))
    assert "Exchange" not in p, p
    assert "Generate" in p, p  # the explode

    # centroid exemplars: broadcast centroid join + WindowGroupLimit
    p = plan_of(QUERIES["embed_centroid_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p

    # rolling slope: both windows share the event_type exchange
    p = plan_of(QUERIES["win_rolling_slope"](spark, sf_dir))
    assert p.count("hashpartitioning") == 1, p
    assert "SinglePartition" not in p, p

    # interval overlap: spine explode, no join node anywhere
    p = plan_of(QUERIES["interval_overlap_duration"](spark, sf_dir))
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p


def test_range_grid_join_is_hash_not_bnlj(spark, sf_dir):
    """The grid decomposition must keep the range join an equi hash
    join even when nothing broadcasts (the 100 TB case)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(QUERIES["join_range_grid"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_model_auc_histogram_prereduction(spark, sf_dir):
    """text_model_auc must reduce per-document rows to the ≤1e6-row
    e6-score bucket table BEFORE any unpartitioned sort (VERDICT r6
    item 2): the only SinglePartition exchange consumes the keyed
    groupBy output, never the documents scan, and the keyed bucket
    aggregation runs partial+final."""
    p = plan_of(QUERIES["text_model_auc"](spark, sf_dir), mode="simple")
    assert p.count("Exchange SinglePartition") == 1, p
    lines = p.splitlines()
    i = next(n for n, ln in enumerate(lines) if "Exchange SinglePartition" in ln)
    assert "HashAggregate" in lines[i + 1], p  # pre-reduced child
    assert "hashpartitioning" in p, p  # the keyed bucket shuffle exists


def test_mann_whitney_single_ordered_pass_over_atoms(spark, sf_dir):
    """agg_mann_whitney: ONE window (the prefix-count pass over the
    value-atom table) — the r6 form's second OVER () global window for
    n1/n2 is gone (they ride the final aggregate instead), so the
    single-partition stage consumes pre-reduced input only."""
    p = plan_of(QUERIES["agg_mann_whitney"](spark, sf_dir), mode="simple")
    assert p.count("Window") == 1, p
    i = next(
        n for n, ln in enumerate(p.splitlines())
        if "Exchange SinglePartition" in ln
    )
    nxt = "\n".join(p.splitlines()[i + 1 : i + 3])
    assert "HashAggregate" in nxt, p


def test_equidepth_histogram_two_level_ranking(spark, sf_dir):
    """histogram_equidepth must never sort the orders table on one
    task: row numbers come from the two-level decomposition (cell
    prefix counts + within-cell row_number), so the per-row window is
    hashpartitioned by cell and the only SinglePartition stage is the
    tiny ordered pass over the cell TABLE (child = HashAggregate)."""
    p = plan_of(QUERIES["histogram_equidepth"](spark, sf_dir), mode="simple")
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            window_below = any(
                "Scan parquet" in l2 for l2 in lines[i + 1 : i + 3]
            )
            assert not window_below, p
    # the per-row ranking window is keyed
    assert "hashpartitioning(cg" in p, p
    # broadcast of the cell table, not a shuffle of the fact side
    assert "BroadcastHashJoin" in p, p


def test_worker_zip_rejects_planted_content():
    """The content-addressed worker zip in shared /tmp must not be
    trusted on name alone (ADVICE r8): a stale/corrupt/planted file at
    the digest path has to be detected by member re-hash and rebuilt."""
    import os
    import zipfile

    from graphsense_datafeed_spark.session import (
        _package_sources,
        _package_zip,
        _zip_matches,
    )

    sources, hexdigest = _package_sources()
    zip_path = _package_zip()
    assert _zip_matches(zip_path, sources, hexdigest)

    # plant a wrong-content zip at the content-addressed path
    with zipfile.ZipFile(zip_path, "w") as zf:
        for _full, rel in sources:
            zf.writestr(rel, b"# planted\n")
    assert not _zip_matches(zip_path, sources, hexdigest)

    # truncated/corrupt file must also be rejected, not crash
    with open(zip_path, "wb") as fh:
        fh.write(b"not a zip")
    assert not _zip_matches(zip_path, sources, hexdigest)

    # _package_zip must rebuild over the planted file
    rebuilt = _package_zip()
    assert rebuilt == zip_path and _zip_matches(zip_path, sources, hexdigest)

    # wrong member set (extra file) is rejected even if names overlap
    with zipfile.ZipFile(zip_path, "a") as zf:
        zf.writestr("graphsense_datafeed_spark/extra_planted.py", b"")
    assert not _zip_matches(zip_path, sources, hexdigest)
    assert _zip_matches(_package_zip(), sources, hexdigest)
    assert os.path.exists(zip_path)


def test_no_broadcast_hints_on_scaling_frames():
    """Round-9 sf1 lesson: golden_q9 OOM'd a 1 GiB bare driver at sf1
    because `F.broadcast(part)` pinned a build side that SCALES with
    the data (broadcast hints bypass AQE's size check entirely).
    Bounded frames — nation/region, 1-row anchors, value-domain cell
    tables, cap-certified candidate sets — may pin; anything
    fact-proportional must be left to AQE.  This guard greps the
    package for hint-pins on the known scaling frame names."""
    import glob
    import os
    import re

    deny = re.compile(
        r"F\.broadcast\(\s*(part|supp|supplier|cust|customer|orders|"
        r"li|lineitem|ev|events|docs|documents|signups|cohorts|"
        r"removed|blacklist)\s*[,)]"
    )
    pkg = os.path.join(os.path.dirname(__file__), "..", "graphsense_datafeed_spark")
    hits = []
    for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        for i, line in enumerate(open(p), 1):
            if deny.search(line):
                hits.append(f"{p}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)



def test_shared_graph_frames_built_once():
    """The co-purchase bipartite frame, its within-part pair join and
    the co-occurrence tx projection each have one builder
    (graphstats._copurchase_bipartite / _copurchase_pairs,
    facade._tx_addresses).  An inline copy of any of them fails here.
    Adamic–Adar keeps its own weighted pair join, so that predicate may
    appear twice.  Whitespace is ignored, so a re-wrapped copy counts."""
    import glob
    import os

    limits = {
        'F.col("o_custkey").alias("cust"),F.col("l_partkey").alias("part")': 1,
        'F.col("a.part")==F.col("b.part")': 2,
        '.select("tx.tx_hash","tx.inputs","tx.outputs")': 1,
    }
    pkg = os.path.join(os.path.dirname(__file__), "..", "graphsense_datafeed_spark")
    counts = dict.fromkeys(limits, 0)
    for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        text = "".join(open(p).read().split())
        for pattern in limits:
            counts[pattern] += text.count(pattern)
    over = {k: n for k, n in counts.items() if n > limits[k]}
    assert not over, over


def test_hash_to_int_only_in_hex_int():
    """The hash-to-integer format (hex slice, base 16 to 10, bigint
    cast) is written once, in functions.hashing.hex_int; an inline
    ``F.conv(F.substring(`` anywhere else in the package fails here.
    Whitespace is ignored, so a re-wrapped copy counts."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "graphsense_datafeed_spark")
    hits = {}
    for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        n = "".join(open(p).read().split()).count("F.conv(F.substring(")
        if n:
            hits[os.path.relpath(p, pkg)] = n
    assert hits == {os.path.join("functions", "hashing.py"): 1}, hits


def test_materialize_only_in_iterate():
    """Every frame the package materializes goes through
    ingest.iterate (``materialize``/``checkpoint``, ``cache_adjacency``,
    ``persist_memo``); a ``.localCheckpoint(`` or ``.persist(``
    anywhere else in the package fails here.  Whitespace is ignored,
    so a re-wrapped call counts."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "graphsense_datafeed_spark")
    hits = {}
    for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(p, pkg)
        if rel == os.path.join("ingest", "iterate.py"):
            continue
        text = "".join(open(p).read().split())
        for call in (".localCheckpoint(", ".persist("):
            n = text.count(call)
            if n:
                hits[(rel, call)] = n
    assert not hits, hits


def test_streams_start_only_in_drain_stream():
    """Every stream the package runs is started by
    streaming.windows.drain_stream, which scopes the checkpoint manager
    and removes a temporary checkpoint.  A ``.start(``/``.toTable(``
    call in any module that builds a ``writeStream``, outside that
    helper, fails here."""
    import ast
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "graphsense_datafeed_spark")
    helper_calls, stray = 0, []
    for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        src = open(p).read()
        if "writeStream" not in src:
            continue
        tree = ast.parse(src)
        inside = set()
        if p.endswith(os.path.join("streaming", "windows.py")):
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "drain_stream":
                    inside = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("start", "toTable")
            ):
                if id(node) in inside:
                    helper_calls += 1
                else:
                    stray.append(f"{os.path.relpath(p, pkg)}:{node.lineno}")
    assert helper_calls == 1 and not stray, stray


def test_oracles_follow_the_checkout(tmp_path):
    """Every file path in the oracle SQL comes from the path constants
    (sources/scans.py), so an oracle reads the fixtures of the checkout
    it runs from.  The registry is loaded in a subprocess through a
    symlink to this checkout: a path written out in the SQL keeps the
    real root and fails here."""
    import json
    import os
    import re
    import subprocess
    import sys

    root = os.path.realpath(os.path.join(os.path.dirname(__file__), ".."))
    alt = tmp_path / "checkout"
    alt.symlink_to(root)
    dump = tmp_path / "oracles.json"
    code = (
        "import json, sys; sys.path.insert(0, sys.argv[1]); "
        "from graphsense_datafeed_spark import registry; "
        "registry.load_all_operators(); "
        "json.dump(dict(registry.ORACLES), open(sys.argv[2], 'w'))"
    )
    subprocess.run(
        [sys.executable, "-c", code, str(alt), str(dump)],
        cwd=tmp_path, check=True, capture_output=True,
    )
    oracles = json.loads(dump.read_text())
    stray = {
        qid: path
        for qid, sql in oracles.items()
        for path in re.findall(r"'(/[^'/]+/[^']*)'", sql)
        if not path.startswith(str(alt) + os.sep)
    }
    assert len(oracles) > 800 and not stray, stray


def test_round10_allocation_windows_share_one_exchange(spark, sf_dir):
    """join_proportional_allocation's three windows (line sum,
    remainder rank, floor-alloc sum) all partition by l_orderkey — the
    plan must shuffle on that key ONCE, not once per window."""
    p = plan_of(QUERIES["join_proportional_allocation"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("hashpartitioning(l_orderkey") <= 2, p


def test_round10_cliffs_delta_no_pair_join(spark, sf_dir):
    """Cliff's delta is defined over n1*n2 pairs but computed from ONE
    ranking — the plan must contain no join node at all."""
    p = plan_of(QUERIES["agg_cliffs_delta"](spark, sf_dir))
    assert "Join" not in p
    assert "Window" in p


def test_round10_fifo_pairs_never_leave_partition(spark, sf_dir):
    """FIFO attribution joins inputs to outputs WITHIN a tx — the join
    must be keyed (hash/sort-merge on tx_hash), never a cartesian."""
    p = plan_of(QUERIES["ingest_fifo_value_attribution"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "tx_hash" in p


def test_round10_gamma_cell_cross_is_broadcast(spark, sf_dir):
    """gamma/Somers' pair counts come from the <=20-cell contingency
    cross — a broadcast nested loop over a tiny frame, never a
    row-scale cartesian."""
    p = plan_of(QUERIES["agg_goodman_kruskal_gamma"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_round10_reach_is_cumsum_not_running_distinct(spark, sf_dir):
    """Cumulative reach must be first-seen cumsum — exactly one
    row-scale aggregate (the user-keyed min), no distinct-per-day
    expansion."""
    p = plan_of(QUERIES["events_cumulative_reach"](spark, sf_dir))
    assert "Join" not in p
    assert p.lower().count("expand") == 0, p


def test_round11_reset_cumsum_single_exchange(spark, sf_dir):
    """win_reset_cumsum's second window keys on (user, session) — a
    REFINEMENT of the first window's (user) hash partitioning, so
    Spark must satisfy it with an intra-partition re-sort, never a
    second exchange (the docstring's load-bearing scale claim)."""
    import re

    p = plan_of(QUERIES["win_reset_cumsum"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_round11_batch_session_window_no_window_exec(spark, sf_dir):
    """batch_session_window is ONE keyed aggregate with in-aggregation
    session merging — no window-function pass at all (that is the
    whole point vs the manual gaps-islands form)."""
    p = plan_of(QUERIES["batch_session_window"](spark, sf_dir))
    # the manual form needs two Window nodes; the native form none
    assert p.count("\nWindow") == 0, p


def test_round11_domain_cap_one_hash_exchange(spark, sf_dir):
    """sample_domain_cap's rollup keys on the window's partition key
    (source), so the aggregate must reuse the window's hash
    partitioning — exactly one hash exchange (the trailing range
    exchange is the ORDER BY, not a data reshuffle)."""
    import re

    p = plan_of(QUERIES["sample_domain_cap"](spark, sf_dir))
    details = re.findall(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\w+)", p)
    assert details.count("hashpartitioning") == 1, p


def test_round11_cka_no_cartesian(spark, sf_dir):
    """embed_cka_split's three gram joins are vec_id equi-joins —
    never a cartesian/BNLJ over the corpus."""
    p = plan_of(QUERIES["embed_cka_split"](spark, sf_dir))
    assert "CartesianProduct" not in p, p


def test_round11_qerror_ndv_is_spillable_distinct(spark, sf_dir):
    """join_cardinality_qerror's NDV must come from a spillable
    distinct (HashAggregate pair over the key), never an expand-based
    count-distinct whose per-group hash sets OOM at sf10 (measured)."""
    p = plan_of(QUERIES["join_cardinality_qerror"](spark, sf_dir))
    assert "Expand" not in p, p


def test_round11_kmeans_step_broadcast_seeds(spark, sf_dir):
    """embed_spherical_kmeans_step scores against EIGHT broadcast seed
    rows — the corpus side must never shuffle for the join."""
    p = plan_of(QUERIES["embed_spherical_kmeans_step"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
