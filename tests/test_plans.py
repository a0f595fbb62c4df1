"""Physical-plan audits (SURVEY.md §4): the optimizations we rely on
must actually fire. A correct result from a bad plan is a 100 TB bug.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from tests.conftest import SF_ORACLE, SF_SMALL


def _plan(spark, name: str) -> str:
    df = E.queries()[name](spark, SF_ORACLE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def _shuffles(spark, name: str) -> list[tuple[str, list[str], str]]:
    """(partitioning class, hash-key names, child node class) of every
    shuffle exchange in ``name``'s physical plan, found by JVM node
    class the way ``io._eager_node`` walks plans. Formatted explain
    text prints ``Exchange (4)`` with the partitioning on an
    ``Arguments:`` line, so counting ``Exchange hashpartitioning`` in
    it always gives 0."""
    df = E.queries()[name](spark, SF_ORACLE)
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":  # AQE root: walk its current plan
            stack.append(node.executedPlan())
            continue
        if cls == "ShuffleExchangeExec":
            part = node.outputPartitioning()
            kind = part.getClass().getSimpleName()
            keys = []
            if kind == "HashPartitioning":
                exprs = part.expressions()
                keys = [exprs.apply(i).toString().split("#")[0]
                        for i in range(exprs.size())]
            found.append((kind, keys, node.child().getClass().getSimpleName()))
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return found


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "filter_compound")
    assert "PushedFilters: [" in plan
    # the quantity/discount range predicates must reach the scan
    assert re.search(r"PushedFilters:.*l_quantity", plan)


def test_column_pruning(spark):
    plan = _plan(spark, "scan_parquet")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = m.group(1)
    assert "l_returnflag" in cols
    assert "l_comment" not in cols  # untouched wide column is pruned


def test_broadcast_join_fires(spark):
    plan = _plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_flagship_uses_whole_stage_codegen(spark):
    # AQE finalizes the physical plan only at execution time — run the
    # query, then assert the FINAL plan fused stages into codegen spans
    df = E.queries()["flagship_q3"](spark, SF_ORACLE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages render as "*(n) Operator" in plan strings
    assert re.search(r"\*\(\d+\) (HashAggregate|Project|Filter)", final), final
    assert "isFinalPlan=true" in df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))


def test_topk_is_take_ordered(spark):
    # orderBy().limit() must compile to TakeOrderedAndProject —
    # a full sort at 100 TB would be a different (wrong) algorithm
    plan = _plan(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_sim_topk_broadcasts_probes_not_corpus(spark):
    plan = _plan(spark, "sim_topk")
    assert "Broadcast" in plan
    # corpus side must be a plain scan feeding the broadcast join — no
    # shuffle (Exchange) below the join on the embeddings scan side
    join_pos = plan.find("BroadcastNestedLoopJoin")
    if join_pos < 0:
        join_pos = plan.find("BroadcastHashJoin")
    assert join_pos >= 0


def test_partial_aggregation_before_shuffle(spark):
    # hash aggregates must run partial (map-side) then final — the
    # shuffle carries pre-aggregated (key, partial) pairs
    plan = _plan(spark, "agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan and "hashpartitioning" in plan


def test_udfs_use_arrow_eval(spark):
    plan = _plan(spark, "udf_pandas_scalar")
    assert "ArrowEvalPython" in plan  # vectorized, not row-at-a-time Batch


def test_no_cartesian_in_blocked_similarity(spark):
    # label blocking: the BLAS default must be the vectorized
    # grouped-map path over label blocks, never a cartesian
    plan_blas = _plan(spark, "sim_threshold_pairs")
    assert "FlatMapGroupsInPandas" in plan_blas
    assert "CartesianProduct" not in plan_blas


def test_partition_pruned_readback(spark, tmp_path):
    # the partitioned sink's layout must let readers prune partitions:
    # a filter on the partition key shows up as PartitionFilters and
    # non-matching years are never scanned
    from manual_data_ingest_spark.io import load_table

    out = str(tmp_path / "orders_part")
    o = load_table(spark, SF_ORACLE, "orders")
    (o.withColumn("o_year", F.year("o_orderdate"))
     .write.mode("overwrite").partitionBy("o_year").parquet(out))
    back = spark.read.parquet(out).filter(F.col("o_year") == 1995)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = back._jdf.queryExecution().explainString(mode)
    assert re.search(r"PartitionFilters: \[.*o_year.*1995", plan), plan
    n95 = back.count()
    assert n95 == o.filter(F.year("o_orderdate") == 1995).count()


def test_llm_prep_pipeline_single_shuffle(spark):
    # the composed pipeline must stay ONE fused plan: exactly one
    # Exchange (the dedup window shuffle) — if composition introduced
    # extra shuffles, running the pieces separately would be cheaper
    # and the pipeline would be pointless
    plan = _plan(spark, "pipeline_llm_prep")
    n_exchanges = plan.count("+- Exchange") + plan.count("- Exchange ")
    assert "Exchange" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:2000]


def test_pipeline_filters_pushed_below_window(spark):
    # quality-gate predicates reference post-window columns so they sit
    # above the dedup; but the SCAN must still prune to the used columns
    plan = _plan(spark, "pipeline_llm_prep")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" in m.group(1)
    assert "n_chars" not in m.group(1)  # unused column pruned from scan


def test_correlated_subquery_is_decorrelated(spark):
    # the correlated scalar subquery must compile to an aggregate+join,
    # never a per-row subquery (which would be O(n^2) at scale)
    plan = _plan(spark, "subquery_correlated")
    assert "Subquery" not in plan or "SubqueryExec" not in plan
    assert "HashAggregate" in plan and re.search(r"Join", plan)


def test_bucketed_join_has_no_join_exchange(spark):
    # both sides bucketed by the join key → a sort-merge join reads the
    # bucketed scans directly with NO exchange; the only Exchange left
    # is the final aggregate's. At fixture scale Catalyst would rightly
    # broadcast instead (also exchange-free on the probe side), so the
    # broadcast path is disabled to exhibit the big-big regime the
    # bucketing layout exists for.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "sink_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan[:1500]
    assert "Bucketed: true" in plan, plan[:1500]
    exchanges = re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan)
    assert len(exchanges) == 1, plan[:1500]  # only the aggregate's shuffle


def test_cbo_uses_analyzed_statistics(spark, tmp_path):
    # SURVEY §4: CBO join reordering is available when tables carry
    # ANALYZE statistics — verify stats flow into the optimized plan
    from manual_data_ingest_spark.io import load_table

    spark.sql("DROP TABLE IF EXISTS mdis_cbo_orders")
    (load_table(spark, SF_ORACLE, "orders")
     .write.mode("overwrite").option("path", str(tmp_path / "o"))
     .saveAsTable("mdis_cbo_orders"))
    spark.sql("ANALYZE TABLE mdis_cbo_orders COMPUTE STATISTICS")
    old = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        stats = (spark.table("mdis_cbo_orders")
                 ._jdf.queryExecution().optimizedPlan().stats())
        assert stats.rowCount().isDefined()
        assert stats.rowCount().get() == 15000  # sf0.01 orders
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old)


def test_scalable_mint_has_no_full_data_single_partition(spark):
    """ingest_id_mint_scalable's whole point: the documents relation is
    ranked under a hash-partitioned window; the only SinglePartition
    exchange feeds the per-source offsets (rows = bucket count, not data
    size) — i.e. sits above a HashAggregate, never above a raw scan."""
    plan = _plan(spark, "ingest_id_mint_scalable")
    assert re.search(r"hashpartitioning\(source", plan), plan[:2000]
    # formatted explain = tree section + per-node details; map each
    # SinglePartition exchange's node id back to the tree and check its
    # direct child there is an aggregate (per-bucket rows, not the data)
    single_ids = re.findall(r"\((\d+)\) Exchange\n(?:.*\n)*?Arguments: SinglePartition",
                            plan)
    assert single_ids, plan[:2000]  # offsets window does need one
    tree = plan.splitlines()
    for nid in single_ids:
        idx = next(i for i, l in enumerate(tree)
                   if re.search(rf"\+- Exchange \({nid}\)$", l))
        assert re.search(r"(Hash|Sort)Aggregate", tree[idx + 1]), \
            f"SinglePartition over raw data:\n" + "\n".join(tree[:25])


def test_post_entities_is_arrow_map(spark):
    # the service sink must be the vectorized mapInPandas path
    plan = _plan(spark, "ingest_post_entities")
    assert "MapInPandas" in plan, plan[:1500]


def test_sessionize_single_shuffle(spark):
    """win_sessionize: lag-window, numbering-window, and the final
    (user_id, session_no) aggregate all hang off ONE user_id exchange —
    the groupBy key is a superset of the window key, so Catalyst reuses
    the partitioning. Two exchanges would double the job's shuffle IO
    at any scale."""
    plan = _plan(spark, "win_sessionize")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
    # partial + final aggregation, no exchange between them
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan


def test_seq_pack_distributed_running_sum(spark):
    """pipeline_seq_pack (r10): the per-source running sum rides the
    partitioned running-sum primitive — the cum window keys on
    (source, _bkt) so no source's whole stream sits in one task, and
    the broadcast offsets join feeds it (the r1 single-shuffle form
    was one exchange but also one TASK per source at scale)."""
    plan = _plan(spark, "pipeline_seq_pack")
    assert re.search(r"hashpartitioning\(source\S*, _bkt", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_interval_overlap_is_equi_join(spark):
    """join_interval_overlap exists to avoid the nested-loop plan the
    naive theta form produces — the bucketed join must be a hash/merge
    EQUI join, with no cartesian or broadcast-nested-loop stage."""
    plan = _plan(spark, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                     plan), plan


def test_runtime_bloom_filter_injection(spark):
    """Spark's AQE-era runtime filtering: a selective filter on the
    join's build side can be compiled into a bloom filter applied to
    the probe side's SCAN — rows that cannot join are dropped before
    the shuffle. At 100 TB this is the difference between shuffling
    the full fact table and shuffling the ~matching slice. Verifies
    the engine configuration can express it (thresholds sized to the
    big-big SMJ regime the feature targets)."""
    from manual_data_ingest_spark.io import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # big-big regime
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_ORACLE, "lineitem")
        o = (load_table(spark, SF_ORACLE, "orders")
             .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy("o_orderstatus").count())
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:1500]
        assert "might_contain" in plan, plan[:1500]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling must actually fire on a hot key: a join
    where 90% of the left side shares one key is re-planned at runtime
    into split sub-partitions (skew=true on the SortMergeJoin). This is
    the no-code-change complement to `join_skew_salted` — salting is
    the explicit rewrite, AQE is the engine's own mitigation; at 100 TB
    both exist because AQE only splits what it can observe at shuffle
    boundaries."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (spark.range(300_000)
                .select(F.when(F.col("id") < 270_000, 0)
                        .otherwise(F.col("id")).alias("k"),
                        F.col("id").alias("v")))
        right = spark.range(1_000).select(F.col("id").alias("k"),
                                          (F.col("id") * 2).alias("w"))
        # the join must be the terminal stage: a downstream aggregate
        # would re-require hash partitioning and AQE then declines to
        # split (splitting would add a shuffle) unless
        # forceOptimizeSkewedJoin is set — itself a documented behavior
        # keep the incompressible payload column v: pruning it would
        # shrink the hot partition (constant key, RLE) below the skew
        # threshold and nothing would be detected
        j = left.join(right, "k")
        n = len(j.collect())
        assert n == 270_000  # hot key 0 matches once; tail keys ≥ 270k miss
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
        assert "AQEShuffleRead skewed" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_q19_or_predicate_pushdown_both_scans(spark):
    """The OR-of-ANDs bracket must reach BOTH parquet scans as pushed
    disjunctive filters (derived single-table conjuncts), not run only
    post-join."""
    plan = _plan(spark, "flagship_q19_brackets")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("Or(" in p and "p_brand" in p for p in pushed), pushed
    assert any("Or(" in p and "l_quantity" in p for p in pushed), pushed


def test_q22_anti_join_with_scalar_broadcast(spark):
    plan = _plan(spark, "flagship_q22_idle_customers")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row scalar mean
    # the recency filter must reach the orders-side scan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_analyze_stats_feed_cbo(spark, tmp_path):
    """ANALYZE TABLE COMPUTE STATISTICS materializes row counts the
    cost-based optimizer reads: the logical plan's Statistics must show
    the exact analyzed rowCount (not a size-based guess)."""
    from manual_data_ingest_spark.io import load_table

    name = "mdis_cbo_probe"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    n = load_table(spark, SF_ORACLE, "nation")
    n.write.saveAsTable(name)
    try:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        prev = spark.conf.get("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            df = spark.table(name)
            stats = df._jdf.queryExecution().optimizedPlan().stats()
            row_count = stats.rowCount()
            assert row_count.isDefined(), "ANALYZE stats not visible to CBO"
            assert int(str(row_count.get())) == 25
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_dq_suite_single_scan(spark):
    """All five constraints must share ONE aggregation pass (stack
    unpivot over the single metrics row), not one scan per rule."""
    plan = _plan(spark, "ingest_dq_suite")
    assert plan.count("Scan parquet") <= 2  # countDistinct expand caps it


def test_welch_single_scan_conditional_agg(spark):
    """Both groups' moments must come from one conditional-aggregation
    pass (formatted explain prints each physical scan twice — tree +
    detail — so 2 occurrences == 1 scan)."""
    plan = _plan(spark, "agg_ttest_welch")
    assert plan.count("Scan parquet") == 2


def test_unigram_lm_broadcasts_model(spark):
    """The scoring join must broadcast the vocab-sized LM, never
    shuffle the token relation for the lookup."""
    plan = _plan(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") == 2  # one physical corpus scan here


def test_q4_exists_plans_as_semi_join(spark):
    plan = _plan(spark, "flagship_q4_priority_waiting")
    assert "LeftSemi" in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_q16_pushes_both_dim_predicates(spark):
    plan = _plan(spark, "flagship_q16_supplier_variety")
    assert "BroadcastHashJoin" in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_brand" in p and "p_size" in p for p in pushed), pushed


def test_pagerank_iterations_read_checkpoint_not_rejoin(spark):
    """The edge extraction (the only O(data) stage) must be cut out of
    the iteration plan by the localCheckpoint: the final plan contains
    scans of the checkpointed RDD, not five copies of the 4-way fact
    join."""
    plan = _plan(spark, "graph_pagerank")
    assert "Scan ExistingRDD" in plan
    # lineitem appears in the edge build only, which the checkpoint
    # truncated — not once per iteration
    assert plan.count("lineitem") == 0, "fact join leaked into iterations"


def test_rolling_wau_collapses_before_banded_join(spark):
    """(day, user) distinct must run BELOW the banded join: the join's
    inputs are the compact form, never raw events."""
    plan = _plan(spark, "win_rolling_wau")
    assert "HashAggregate" in plan
    # the banded join against the ~30-row day spine broadcasts
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_span_dedup_single_span_shuffle(spark):
    """dedup_span_chunks: exactly one exchange keyed on the span text
    (the window) plus the doc_id regroup — no third shuffle."""
    shuffles = _shuffles(spark, "dedup_span_chunks")
    assert sorted(keys for _, keys, _ in shuffles) == [["chunk"], ["doc_id"]], \
        shuffles


def test_q6_all_predicates_pushed_map_only(spark):
    """Q6 is the purest pushdown test: date range, discount band and
    quantity cap must ALL reach the parquet scan, and the plan must be
    scan→filter→partial-agg→single-exchange→final-agg (map-only + a
    scalar reduce at 100 TB)."""
    plan = _plan(spark, "flagship_q6_forecast_revenue")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in p and "l_discount" in p and "l_quantity" in p
               for p in pushed), pushed
    # no grouping key → zero hash exchanges (only the scalar gather)
    assert "hashpartitioning(" not in plan, plan[:800]


def test_q2_single_fact_shuffle_dims_broadcast(spark):
    """Q2's only fact-sized shuffle is the (l_partkey, l_suppkey)
    link-distinct; part/supplier/nation/region must broadcast."""
    plan = _plan(spark, "flagship_q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 3, plan[:800]
    # link-distinct (partial+final on 2 int cols) + argmin window: the
    # fact table itself is never hash-exchanged on a non-link key
    m = re.search(r"ReadSchema: struct<l_partkey:[^>]*>", plan)
    assert m, "lineitem scan must prune to the two link columns"


def test_q13_join_condition_predicate_pushed_to_orders_scan(spark):
    """The priority exclusion lives in the LEFT JOIN's ON clause; it is
    null-safe to push to the orders (non-preserved) side and MUST reach
    that scan — at 100 TB the excluded priority class never leaves the
    parquet reader."""
    plan = _plan(spark, "flagship_q13_order_distribution")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderpriority" in p for p in pushed), pushed
    assert "LeftOuter" in plan or "BroadcastHashJoin" in plan


def test_q15_scalar_max_broadcast_not_rescan(spark):
    """Q15's MAX threshold must arrive as a one-row broadcast (BNLJ)
    over the aggregated view — not as a second scan of lineitem."""
    plan = _plan(spark, "flagship_q15_top_supplier")
    # the equality against the one-row MAX becomes a broadcast join
    # (Catalyst turns filter-over-cross into an equi BroadcastHashJoin —
    # even better than the BNLJ shape); either way: broadcast, no rescan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # both branches aggregate the SAME quarter slice: the pushed date
    # filter appears on every lineitem scan in the plan
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
              if "l_shipdate" in p]
    assert pushed, "quarter filter must reach the lineitem scan(s)"


def test_q17_threshold_join_reuses_partkey_distribution(spark):
    """Q17's decorrelated per-part AVG joins back to the fact on
    l_partkey; the aggregate's exchange must be reusable by the join
    (same key), and the brand-filtered part dim must broadcast."""
    plan = _plan(spark, "flagship_q17_small_qty_revenue")
    assert "BroadcastHashJoin" in plan, plan[:800]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_brand" in p for p in pushed), pushed
    # every hash exchange in the plan keys on l_partkey — the whole
    # pipeline rides one distribution
    keys = re.findall(r"hashpartitioning\(([a-zA-Z_0-9]+)", plan)
    assert keys and all(k == "l_partkey" for k in keys), keys


def test_q21_pipeline_rides_orderkey_distribution(spark):
    """Q21 chains late-set distinct, participant counts, late counts and
    two joins — every one keyed on l_orderkey. The plan must show hash
    exchanges ONLY on l_orderkey (supplier joins broadcast; the final
    ~100-row supplier aggregate gathers partials)."""
    plan = _plan(spark, "flagship_q21_waiting_supplier")
    assert "BroadcastHashJoin" in plan  # supplier dim
    keys = re.findall(r"hashpartitioning\(([a-zA-Z_0-9]+)", plan)
    fact_keys = [k for k in keys if k != "s_name"]
    assert fact_keys and all(k == "l_orderkey" for k in fact_keys), keys
    assert "TakeOrderedAndProject" in plan  # top-100, not a full sort


def test_feature_store_spine_broadcast_no_cartesian(spark):
    """The 3-row snapshot spine joins the fact via broadcast (non-equi
    ts < snap → BroadcastNestedLoopJoin over the broadcast spine) —
    never a CartesianProduct, and the fact is never shuffled for it."""
    plan = _plan(spark, "pipeline_feature_store")
    assert "CartesianProduct" not in plan, plan[:600]
    assert "BroadcastNestedLoopJoin" in plan


def test_attribution_band_join_is_not_cartesian(spark):
    """Last-touch attribution joins on user_id + time band: the equi
    conjunct must carry the join (hash keys on user ids), with the
    band as residual — a cartesian here explodes at any scale."""
    plan = _plan(spark, "pipeline_attribution")
    assert "CartesianProduct" not in plan, plan[:600]
    # equi conjunct carries the join: either a user-keyed exchange (big
    # touch side) or a broadcast hash join (small side fits) — at
    # sf0.01 the touch table broadcasts, which is the better plan
    keys = re.findall(r"hashpartitioning\(([a-zA-Z_0-9]+)", plan)
    assert ("BroadcastHashJoin" in plan
            or any(k in ("user_id", "t_user") for k in keys)), plan[:800]


def test_markov_sequence_rides_one_user_shuffle(spark):
    """The sequence lag needs exactly one user_id exchange; the pair
    aggregate's partials ride it and only the tiny (prev,next) regroup
    may exchange again."""
    plan = _plan(spark, "agg_markov_transition")
    keys = re.findall(r"hashpartitioning\(([a-zA-Z_0-9]+)", plan)
    assert keys.count("user_id") == 1, keys
    # the row-normalizing window rides the (prev,next) aggregate — no
    # self-join branch that would re-plan the sequence exchange


def test_kmeans_centroids_broadcast_every_iteration(spark):
    """The K·D centroid table must BROADCAST into each distance join —
    a shuffled centroid join would re-exchange the N·D fact per
    iteration."""
    plan = _plan(spark, "ml_kmeans_embeddings")
    # intermediate iterations already ran eagerly (localCheckpoint), so
    # the returned plan shows the FINAL assign — its centroid join must
    # broadcast the K·D table into the N·D fact
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "CartesianProduct" not in plan


def test_logistic_moments_partial_aggregate(spark):
    """Each IRLS step's 9-moment aggregate must partial-aggregate
    before the scalar gather (map-side combine on the fact scan)."""
    plan = _plan(spark, "ml_logistic_newton")
    assert "partial" in plan.lower() or "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    # the scalar β rows ride broadcast joins, never shuffled joins
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """At 100 TB, Spark's runtime bloom-filter injection
    (InjectRuntimeFilter) builds a bloom filter from the selective dim
    side of a shuffle join and applies `might_contain` on the fact side
    BEFORE its shuffle — cutting shuffle volume by the dim selectivity.
    The trigger thresholds (creation side ≤ 10 MB, application side scan
    ≥ 10 GB by default) are sized for exactly that regime, so fixture
    scans never trip them naturally; this audit lowers the application
    threshold to prove the engine's session config leaves the feature
    armed and the plan shape is the one we rely on at scale."""
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    from manual_data_ingest_spark.io import load_table

    thr_key = ("spark.sql.optimizer.runtime.bloomFilter."
               "applicationSideScanSizeThreshold")
    bc_key = "spark.sql.autoBroadcastJoinThreshold"
    old_thr, old_bc = spark.conf.get(thr_key), spark.conf.get(bc_key)
    # broadcast disabled so the join shuffles (the bloom filter's whole
    # point); note a join-strategy HINT would suppress injection — a
    # real gotcha found here: hinted joins skip InjectRuntimeFilter
    spark.conf.set(thr_key, "1KB")
    spark.conf.set(bc_key, "-1")
    try:
        li = load_table(spark, SF_ORACLE, "lineitem")
        part = load_table(spark, SF_ORACLE, "part").filter(
            F.col("p_brand") == "Brand#13")
        j = (li.join(part, li.l_partkey == part.p_partkey)
             .groupBy("p_brand").agg(F.count("*").alias("n")))
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
        plan = j._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set(thr_key, old_thr)
        spark.conf.set(bc_key, old_bc)
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan


def test_interval_coalesce_single_shuffle(spark):
    """win_interval_coalesce: the supplier-key shuffle must serve both
    windows AND the final (sk, island_id) aggregate — the group key
    contains the partition key, so clustering is already satisfied and
    a second exchange would be a planner regression."""
    plan = _plan(spark, "win_interval_coalesce")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_cbo_join_reorder_rewrites_bad_order(spark, tmp_path):
    """The DP join-reorderer must actually CHANGE a bad join order when
    column statistics say so — beyond merely reading row counts.

    Query text joins (lineitem JOIN orders) JOIN customer with a
    selective customer predicate: left-deep as written, the huge l⋈o
    intermediate comes first. With cbo + joinReorder + ANALYZE FOR ALL
    COLUMNS stats, the optimizer should start from the small filtered
    side instead — observable as a different relation order in the
    optimized logical plan (left-deep trees print leaf relations in
    join order, and the suffix tags each leaf's catalog table)."""
    import uuid

    tag = uuid.uuid4().hex[:10]
    names = {}
    for t in ("lineitem", "orders", "customer"):
        from manual_data_ingest_spark.io import load_table

        names[t] = f"mdis_cbo_{t}_{tag}"
        load_table(spark, SF_ORACLE, t).write.saveAsTable(names[t])
        spark.sql(f"ANALYZE TABLE {names[t]} COMPUTE STATISTICS FOR ALL COLUMNS")
    sql = f"""
        SELECT c.c_name, sum(l.l_extendedprice) AS rev
        FROM {names['lineitem']} l
        JOIN {names['orders']} o ON l.l_orderkey = o.o_orderkey
        JOIN {names['customer']} c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 9000
        GROUP BY c.c_name
    """

    def leaf_order(plan_str: str) -> list[str]:
        hits = [(plan_str.index(names[t]), t) for t in names
                if names[t] in plan_str]
        return [t for _, t in sorted(hits)]

    prev = {k: spark.conf.get(k, None) for k in
            ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")}
    try:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        off = str(spark.sql(sql)._jdf.queryExecution().optimizedPlan())
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        on = str(spark.sql(sql)._jdf.queryExecution().optimizedPlan())
        assert leaf_order(off) == ["lineitem", "orders", "customer"], leaf_order(off)
        # reordered: the selective customer side must move off the tail —
        # lineitem (the giant) must no longer be the leading leaf
        assert leaf_order(on) != leaf_order(off), (
            "join reorder did not change the plan:\n" + on)
        assert leaf_order(on)[0] != "lineitem", leaf_order(on)
        # same answer either way (reorder changes float-sum ORDER, so
        # compare with an epsilon; keys must match exactly)
        rows_on = sorted(map(tuple, spark.sql(sql).collect()))
        spark.conf.set("spark.sql.cbo.enabled", "false")
        rows_off = sorted(map(tuple, spark.sql(sql).collect()))
        assert [r[0] for r in rows_on] == [r[0] for r in rows_off]
        assert all(abs(a[1] - b[1]) < 1e-4 * max(1.0, abs(b[1]))
                   for a, b in zip(rows_on, rows_off))
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_probe_derivation_uses_window_group_limit(spark):
    """The sim_* probe stage (rn = 1 over label) must compile to a
    partial WindowGroupLimit — a map-side top-1 per label before the
    shuffle — NOT a full window sort. This is why the window form beats
    the min_by-agg rewrite on array payloads (module header note)."""
    for name in ("sim_topk", "sim_ann_ivf"):
        plan = _plan(spark, name)
        assert "WindowGroupLimit" in plan, name
        assert "Partial" in plan.split("WindowGroupLimit")[0][-200:] or \
            plan.count("WindowGroupLimit") >= 2, name  # partial + final pair
    # sim_ann_lsh caches its probes as part of the index artifact (r5),
    # so the registered plan shows the checkpointed RDD — assert the
    # BUILD plan instead via the derivation helper
    from manual_data_ingest_spark.io import load_table
    from manual_data_ingest_spark.operators.similarity import (
        _LSH_BUCKET_SPARK, _lsh_probe_derivation)

    b = (load_table(spark, SF_ORACLE, "embeddings")
         .withColumn("bucket", F.expr(_LSH_BUCKET_SPARK)))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = (_lsh_probe_derivation(b)
            ._jdf.queryExecution().explainString(mode))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan.split("WindowGroupLimit")[0][-200:] or \
        plan.count("WindowGroupLimit") >= 2, plan


# ----------------------------------------------------------------- r3 batch

def test_naive_bayes_model_broadcasts_corpus_never_shuffles(spark):
    """Training state (class counts / totals / priors / vocab) must ship
    to the corpus as broadcasts; the token stream's only exchanges are
    the per-doc score aggregation and the argmax window."""
    plan = _plan(spark, "ml_naive_bayes")
    assert plan.count("BroadcastExchange") >= 4  # cls, tot, vocab, priors(+langs)
    # the scoring join on (cand, token) is a broadcast join, not SMJ:
    assert "SortMergeJoin" not in plan


def test_sparse_tfidf_probes_broadcast(spark):
    """The probe posting list broadcasts; the corpus side of the
    token join must not be re-shuffled for the join itself."""
    plan = _plan(spark, "sim_sparse_tfidf_topk")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the 1-row scalar broadcasts (corpus
    # size N — it appears once per self-join branch since the tf-idf
    # weight pipeline is computed on both sides); the token join itself
    # must be a broadcast HASH join
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 4


def test_phash_dedup_shuffles_signatures_not_media(spark):
    """The exchange after the mapInPandas stage must carry only
    (doc_id, phash) — never the binary payload."""
    plan = _plan(spark, "multimodal_phash_dedup")
    # formatted mode puts exchange args in the detail section
    m = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert m, plan
    assert all("media" not in g for g in m), m
    assert "MapInPandas" in plan
    # partial aggregation fires BEFORE the exchange (map-side combine)
    assert plan.index("partial_count") < plan.index("hashpartitioning(")


def test_ohlc_is_one_window_free_aggregate(spark):
    """r11: open/close are min_by/max_by over the (ts, event_id)
    struct — the whole bar is ONE hash aggregate with map-side
    partials (the old shape ran two row_number windows first, one
    task per (type, day) over that day's raw events)."""
    plan = _plan(spark, "agg_ohlc_bars")
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "Window" not in plan, plan
    assert "partial_min_by" in plan, plan


def test_freshness_slo_single_scan_branch_broadcast(spark):
    """The global-max anchor is a 1-row broadcast, never a shuffle of
    the fact table to one partition: the only shuffles are the
    per-source partial aggregate on event_type and the global max's
    partial aggregate to one partition."""
    assert "BroadcastExchange" in _plan(spark, "ingest_freshness_slo")
    shuffles = _shuffles(spark, "ingest_freshness_slo")
    assert sorted(shuffles) == [
        ("HashPartitioning", ["event_type"], "HashAggregateExec"),
        ("SinglePartition$", [], "HashAggregateExec")], shuffles


def test_group_holdout_assignment_is_map_side(spark):
    """Split assignment must not introduce an exchange before the
    report aggregation: every shuffle is a hash exchange keyed first on
    `split`, fed by an aggregate. count(DISTINCT user_id) makes two:
    (split, user_id), then (split)."""
    shuffles = _shuffles(spark, "sample_group_holdout")
    assert shuffles, shuffles
    for part, keys, child in shuffles:
        assert part == "HashPartitioning" and keys[0] == "split", shuffles
        assert child == "HashAggregateExec", shuffles


def test_knn_graph_broadcasts_queries_not_corpus(spark):
    """Brute kNN graph: the query side must broadcast; the corpus side
    must never feed a shuffle exchange for the scoring join."""
    plan = _plan(spark, "sim_knn_graph")
    assert "BroadcastNestedLoopJoin" in plan  # non-equi (!=) + broadcast
    assert "CartesianProduct" not in plan


def test_knn_graph_blocked_is_equi_join(spark):
    """The blocked twin must join on the bucket key (shuffle or
    broadcast HASH join) — never a nested-loop over all pairs."""
    plan = _plan(spark, "sim_knn_graph_blocked")
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # bucket equi-join


def test_bfs_frontier_no_cartesian(spark):
    plan = _plan(spark, "graph_bfs_levels")
    assert "CartesianProduct" not in plan


def test_filter_funnel_single_scan(spark):
    """The funnel's share denominator is a window over grouped rows —
    re-scanning documents for the total is the rejected plan."""
    df = E.queries()["pipeline_filter_funnel"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_reconcile_is_integer_compare(spark):
    """No float subtraction reaches the verdict: the diff is computed
    on BIGINT unit columns (floor-rescaled), asserted via the plan's
    cast chain."""
    df = E.queries()["ingest_reconcile_totals"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # one rollup exchange + one join; the left join preserves orders
    assert plan.count("Scan parquet") == 2  # lineitem + orders, once each


def test_balanced_label_broadcast_scalar(spark):
    """min-class-count must arrive as a broadcast, not drag the rank
    rows through a single-partition window."""
    plan = _plan(spark, "sample_balanced_label")
    assert "BroadcastNestedLoopJoin" in plan
    # the rank window partitions by label — no SinglePartition exchange
    # on the full rowset (only the 1-row scalar reduces globally)


def test_hamming_blocked_is_equi_join(spark):
    """The pigeonhole twin must generate candidates via a (ci, cv)
    HASH equi-join — never a nested-loop/cartesian over all pairs —
    and shuffle only 8-byte fingerprints, not text."""
    plan = _plan(spark, "sim_hamming_topk_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_centroid_classify_broadcasts_model(spark):
    """ml_centroid_classify must broadcast the 10-row centroid table —
    the corpus never shuffles for scoring (the `ml_naive_bayes`
    broadcast-model topology)."""
    plan = _plan(spark, "ml_centroid_classify")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_checksum_manifest_single_scan_single_agg(spark):
    """The transfer manifest is ONE commutative hash aggregate over ONE
    scan — a second scan or a sort would break the order-independence
    story at 100 TB."""
    df = E.queries()["ingest_checksum_manifest"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Sort" not in plan


def test_band_tune_no_cartesian(spark):
    """All three tuning configs generate candidates via posting-list
    expansion over (band, bucket) groups — never an all-pairs join."""
    plan = _plan(spark, "dedup_minhash_band_tune")
    assert "CartesianProduct" not in plan


def test_late_arriving_dims_broadcasts_dim(spark):
    plan = _plan(spark, "ingest_late_arriving_dims")
    assert "BroadcastHashJoin" in plan


def test_bootstrap_fanout_is_generator_not_join(spark):
    """The B=100 replicate fan-out must be a Generate (explode of a
    literal sequence) — a join against a replicate table would shuffle
    the facts; partial aggregation then collapses each partition to B
    rows before the one exchange."""
    plan = _plan(spark, "ml_bootstrap_ci")
    assert "Generate" in plan
    assert "CartesianProduct" not in plan

# ---------------------------------------------------------------------------
# No fact-table keyset may be hint-forced into a broadcast (the
# registry-wide audit is tools/plan_audit.py's forced_fact_broadcast)
# ---------------------------------------------------------------------------

def test_forced_fact_broadcast_detector_positive_control(spark):
    """The detector must actually fire on the shape it polices: a raw
    orders keyset hint-forced into a broadcast against lineitem (the
    exact pre-r5 ingest_validate shape, VERDICT.md r4 'What's wrong' #1).
    tools/plan_audit.py runs the detector over every registered op."""
    from manual_data_ingest_spark.io import load_table
    from tools.plan_audit import forced_fact_broadcasts

    orders = load_table(spark, SF_SMALL, "orders")
    lineitem = load_table(spark, SF_SMALL, "lineitem")
    ok = orders.select("o_orderkey")
    j = (lineitem.select("l_orderkey")
         .join(F.broadcast(ok), lineitem.l_orderkey == ok.o_orderkey,
               "left_anti"))
    bad = forced_fact_broadcasts(j._jdf.queryExecution().optimizedPlan())
    assert bad, "detector failed to flag a forced raw-fact broadcast"
    # and an aggregated derivative of the same table must NOT fire
    small = orders.groupBy("o_orderpriority").count()
    j2 = lineitem.join(F.broadcast(small), F.lit(True), "left")
    ok2 = forced_fact_broadcasts(j2._jdf.queryExecution().optimizedPlan())
    assert not ok2, ok2


def test_decontaminate_shuffled_never_broadcasts(spark):
    """dedup_decontaminate: the n-gram overlap join must NOT be a
    broadcast at any eval-set size — a forced broadcast of the eval
    n-grams only works while the eval set is a fixed benchmark, and
    here it grows with the corpus."""
    df = E.queries()["dedup_decontaminate"](spark, SF_ORACLE)
    # simple-mode physical tree keeps join keys inline on the node line
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the n-gram join is the g = g equi-join; the final doc_id flag
    # join may do what AQE likes. Find the g-join and pin its strategy.
    g_joins = [ln for ln in plan.splitlines()
               if "Join" in ln and "g#" in ln]
    assert g_joins, plan
    assert not any("Broadcast" in ln for ln in g_joins), g_joins
    assert any("ShuffledHashJoin" in ln or "SortMergeJoin" in ln
               for ln in g_joins), g_joins


def test_band_bucketed_is_equi_join(spark):
    """join_band_bucketed exists because a KEYLESS band predicate
    otherwise executes as broadcast-nested-loop over the full build
    side — the bucketed form must be a hash/merge EQUI join on the
    value-grid bucket, with no nested-loop or cartesian stage."""
    plan = _plan(spark, "join_band_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                     plan), plan


def test_minhash_estimate_error_no_cartesian(spark):
    """Candidate pairs come from the banded (bi, bh) equi self-join
    and the exact arm joins shingles only for candidate docs — no
    all-pairs stage anywhere."""
    plan = _plan(spark, "dedup_minhash_estimate_error")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_quality_ablation_single_scan(spark):
    """All 8 filter-subset counts are conditional aggregates over ONE
    documents scan — the ablation must never re-scan per subset."""
    plan = _plan(spark, "pipeline_quality_filter_ablation")
    assert plan.count("documents.parquet") <= 1, plan


def test_bloom_prefilter_runs_below_the_exact_semi_join(spark):
    """join_bloom_prefilter: the bloom membership test (the BNLJ against
    the one-row bitmap) must sit BELOW the exact LeftSemi join — i.e.
    fact rows are bloom-tested BEFORE they enter the semi join's
    build/probe. Unguarded, PushDownLeftSemiAntiJoin rewrites the semi
    join underneath the bloom stage and the prefilter never prefilters;
    the when(bit0, l_orderkey) join-key anchor prevents that."""
    plan = _plan(spark, "join_bloom_prefilter")
    semi_at = plan.find("Join type: LeftSemi")
    assert semi_at != -1, plan[:2000]
    # in EXPLAIN FORMATTED the operator tree is printed top-down: the
    # semi join node must appear ABOVE (before) the BNLJ node it consumes
    tree = plan[:plan.find("(1) ")]
    semi_line = next(i for i, l in enumerate(tree.splitlines())
                     if "LeftSemi" in l)
    bnlj_line = next(i for i, l in enumerate(tree.splitlines())
                     if "BroadcastNestedLoopJoin" in l)
    assert semi_line < bnlj_line, tree
    # and the bitmap side stays a genuine broadcast (fixed-size state)
    assert "BroadcastNestedLoopJoin" in plan


def test_spearman_grid_single_scan_windows_after_agg(spark):
    """agg_spearman_grid's whole point: the fact contributes ONE scan
    feeding a map-side-combinable cell count; the rank window sorts run
    over the tiny (flag, bin) cell table AFTER the aggregate, never over
    lineitem rows (the exact op's shape). Plan law: one lineitem scan,
    a partial HashAggregate below the first exchange, and every Window
    node above the aggregate."""
    plan = _plan(spark, "agg_spearman_grid")
    assert plan.count("lineitem.parquet") == 1, plan
    tree = plan[:plan.find("(1) ")]
    lines = tree.splitlines()
    win_lines = [i for i, l in enumerate(lines) if "Window" in l]
    agg_lines = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    assert win_lines and agg_lines
    # top-down tree: Window nodes (consumers of the cell table) print
    # ABOVE the cell-building HashAggregate they read from
    assert max(agg_lines) > max(win_lines), tree


def test_training_mix_decontamination_adaptive_broadcast(spark):
    """pipeline_training_mix's decontamination join is UNHINTED (r5
    verdict note 5): no broadcast hint may appear in the logical plan
    (a corpus-fraction eval split must be free to shuffle), yet at
    fixture scale AQE must still pick a broadcast for the MB-scale
    eval n-gram side — the hint's removal costs nothing where the
    broadcast is right."""
    df = E.queries()["pipeline_training_mix"](spark, SF_ORACLE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical and "hints=" not in logical, logical
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final


def test_overlap_minhash_single_scan_no_user_selfjoin(spark):
    """agg_overlap_minhash's whole point: the fact is scanned ONCE into
    a map-side-combinable groupBy (min is idempotent over duplicates —
    no distinct pass), the 5-row signature table is materialized
    (localCheckpoint), and the pair join runs over signatures, never
    users. Plan law: the final plan reads the checkpointed signatures
    (zero parquet scans — the single fact pass happened at build), and
    the one join is the dim-sized signature cross-compare."""
    plan = _plan(spark, "agg_overlap_minhash")
    assert plan.count("events.parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    tree = plan[:plan.find("(1) ")]
    assert len(re.findall(r"Join", tree)) == 1, tree


def test_item_cooccurrence_probe_bounded(spark):
    """sim_item_cooccurrence: probe selection must compile to
    TakeOrderedAndProject (top-10, never a global sort), every join is
    an equi-join (no cartesian pair expansion), and the basket relation
    stays three cheap pruned scans (un-checkpointed — the A/B in the
    operator docstring)."""
    plan = _plan(spark, "sim_item_cooccurrence")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # four pushdown-pruned scans (n is consumed by probes AND neighbor
    # normalization), NOT a checkpointed materialization — the
    # checkpoint variant was measured 2.7x slower at 64x (docstring)
    assert plan.count("lineitem.parquet") == 4, plan
    assert re.search(r"ReadSchema:[^\n]*l_orderkey", plan), plan


def test_dpp_fires_on_partitioned_scan(spark):
    """scan_dpp_pruned's reason to exist: the year predicate reaches
    the partitioned fact scan ONLY through the join, so the scan's
    PartitionFilters must carry a dynamicpruning subquery (and after
    execution, the scan reads ~1/7 of the partitions — asserted via
    the final plan's 'partitions read' having pruned)."""
    df = E.queries()["scan_dpp_pruned"](spark, SF_ORACLE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "dynamicpruning" in plan.lower(), plan


def test_dpp_tie_break_matches_oracle(spark, tmp_path):
    """On a max-count TIE between years, both engines must pick the
    same single year (count DESC, year ASC — the oracle's ORDER BY).
    The pre-r7 dim build kept EVERY tied year (cnt == max(cnt)), so a
    tied fixture joined multiple years and the month totals diverged
    from the oracle (r6 advisor, medium). Synthetic fixture: 1994 and
    1995 tied at 4 orders each, different month/price mixes so a wrong
    pick (or a both-years union) cannot hash-collide into a pass."""
    import shutil

    from tests.oracle_check import compare, duckdb_connect

    src = SF_SMALL
    dst = str(tmp_path / "dpp_tie")
    shutil.copytree(src, dst)
    rows = [
        ("1994-01-10", 101.00), ("1994-01-20", 202.00),
        ("1994-02-05", 303.00), ("1994-03-15", 404.00),
        ("1995-01-10", 111.00), ("1995-02-20", 222.00),
        ("1995-02-25", 333.00), ("1995-04-01", 444.00),
    ]
    o = spark.createDataFrame(
        [(i + 1, d, p) for i, (d, p) in enumerate(rows)],
        "o_orderkey long, o_orderdate string, o_totalprice double",
    ).select("o_orderkey", F.col("o_orderdate").cast("date"),
             "o_totalprice")
    o.toPandas().to_parquet(f"{dst}/orders.parquet", index=False)
    res = compare("scan_dpp_pruned",
                  E.queries()["scan_dpp_pruned"](spark, dst),
                  duckdb_connect(dst),
                  E.oracle_sql()["scan_dpp_pruned"])
    assert res.ok, res
    # and the winner is 1994 (smaller year on the tie): 3 month rows
    assert res.spark_rows == 3, res


def test_sql_udf_inlines_into_codegen(spark):
    """udf_sql_function's reason to exist: the analyzer INLINES the SQL
    function body, so the plan has NO Python eval node and the CASE
    expression runs inside WholeStageCodegen — the opposite of
    udf_python_scalar's BatchEvalPython round trip."""
    plan = _plan(spark, "udf_sql_function")
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "CASE WHEN" in plan, plan
    # formatted mode marks codegen stages with '* Op' + '[codegen id : n]'
    assert "[codegen id :" in plan, plan


def test_nested_schema_pruning_reaches_scan(spark):
    """scan_nested_pruned: the parquet ReadSchema must carry ONLY the
    two touched leaves (meta.status, money.price_cents) — reading the
    full structs would mean nested pruning broke."""
    plan = _plan(spark, "scan_nested_pruned")
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    schema = m.group(1)
    assert "status" in schema and "price_cents" in schema, schema
    assert "priority" not in schema, schema
    assert "tax_cents" not in schema, schema


def test_skew_join_split_fires(spark):
    """join_skew_aqe: the executed plan must show OptimizeSkewedJoin's
    work — SortMergeJoin(skew=true) over an 'AQEShuffleRead skewed'.
    The test derives the plan itself from the demo helper's return
    value (r7 advisor: no session-attribute side-channel), and the
    helper runs on an isolated newSession so its demo confs cannot
    leak into concurrently executing operators."""
    from manual_data_ingest_spark.operators.joins import _skew_aqe_demo

    out, plan = _skew_aqe_demo(spark, SF_ORACLE)
    out.collect()
    assert "skew=true" in plan, plan
    assert "AQEShuffleRead skewed" in plan, plan


def test_recursive_cte_runs_engine_side(spark):
    """graph_reach_recursive executes via Spark's recursive-CTE
    operator (UnionLoop), not a Python driver loop — the plan carries
    the loop node; the heavy edge aggregation sits below it."""
    df = E.queries()["graph_reach_recursive"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan or "Recursion" in plan, plan


def test_register_writes_one_file_per_bucket(spark, tmp_path,
                                            monkeypatch):
    """pipeline_ingest_register: each ``bucket=`` dir of the written
    manifest holds ONE parquet file even when the corpus arrives as
    several part files (without the rebalance every scan task writes a
    file into every bucket), and the summary still equals the oracle."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from manual_data_ingest_spark.sources import scans
    from tests.oracle_check import compare, duckdb_connect

    dst = str(tmp_path / "parts")
    shutil.copytree(SF_ORACLE, dst)
    docs = pq.read_table(f"{dst}/documents.parquet")
    os.remove(f"{dst}/documents.parquet")
    os.makedirs(f"{dst}/documents.parquet")
    step = -(-docs.num_rows // 4)
    for i in range(4):
        pq.write_table(docs.slice(i * step, step),
                       f"{dst}/documents.parquet/part-{i}.parquet")
    outs: list[str] = []
    mkdtemp = scans._tmpdir

    def tmpdir(prefix: str) -> str:
        outs.append(mkdtemp(prefix))
        return outs[-1]

    monkeypatch.setattr(scans, "_tmpdir", tmpdir)
    name = "pipeline_ingest_register"
    res = compare(name, E.queries()[name](spark, dst), duckdb_connect(dst),
                  E.oracle_sql()[name])
    assert res.ok, res
    (out,) = outs
    buckets = [d for d in os.listdir(out) if d.startswith("bucket=")]
    assert len(buckets) == 16
    for b in buckets:
        files = [f for f in os.listdir(f"{out}/{b}")
                 if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)


def test_stream_static_join_is_stateless(spark):
    """stream_static_enrich: the stream-static join must plan WITHOUT
    a stream-stream join state store — only the downstream aggregation
    carries state (one StateStoreSave), and the static side appears as
    a batch parquet relation inside the streaming plan."""
    from manual_data_ingest_spark.streaming.ops import read_events_stream

    ev = read_events_stream(spark, SF_ORACLE)
    c = (spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
         .select("c_custkey", "c_mktsegment"))
    agg = (ev.join(c, ev.user_id == c.c_custkey)
           .groupBy("c_mktsegment", "event_type")
           .agg(F.count("*").alias("cnt")))
    plan = agg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"))
    assert "StreamingSymmetricHashJoin" not in plan, plan
    assert "customer.parquet" in plan, plan


def test_gap_islands_has_no_global_key_window(spark):
    """ingest_id_gap_islands' claim: adjacency over the KEYS runs in
    per-bucket windows (partitioned by b), never one global ordered
    window — the only SinglePartition stages are the dim-sized bucket
    window and final 1-row aggregates."""
    plan = _plan(spark, "ingest_id_gap_islands")
    # the lead-over-keys window is partitioned by the range bucket
    assert re.search(r"windowspecdefinition\(b#\d+L?, k#", plan), plan
    # and no window orders the raw key stream globally
    assert not re.search(r"windowspecdefinition\(k#\d+L? ASC", plan), plan


def test_benford_is_one_partial_agg_shuffle(spark):
    """agg_benford_test: digit extraction rides the scan; the only
    fact-sized shuffle is the (priority, digit) partial agg; the
    9-digit grid joins broadcast."""
    plan = _plan(spark, "agg_benford_test")
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "BroadcastExchange" in plan, plan


def test_conformal_selection_has_no_global_residual_window(spark):
    """ml_conformal_interval's k-th-smallest must run the two-phase
    binned selection: every ordered window is either the dim-sized bin
    cumulative or partitioned by the target bin — never a global rank
    over the calibration rows."""
    plan = _plan(spark, "ml_conformal_interval")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for sp in specs:
        assert sp.startswith("bin#") or sp.startswith("tbin#"), sp


def test_runtime_bloom_filter_injected(spark):
    """join_runtime_bloom: Spark's InjectRuntimeFilter must plant a
    bloom_filter_agg subquery over the filtered dim keys AND rewrite
    the fact side with might_contain — both on the EXECUTED plan (the
    demo helper returns it; confs live on an isolated newSession)."""
    from manual_data_ingest_spark.operators.joins import _runtime_bloom_demo

    out, plan = _runtime_bloom_demo(spark, SF_ORACLE)
    out.collect()
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan


def test_parquet_aggregate_pushdown_fires(spark):
    """scan_agg_pushdown: the v2 ParquetScan must carry the pushed
    MIN/MAX/COUNT — the scan answers from footer stats, no data pages."""
    from manual_data_ingest_spark.sources.scans import _agg_pushdown_demo

    out, plan = _agg_pushdown_demo(spark, SF_ORACLE)
    out.collect()
    assert "PushedAggregation" in plan, plan
    assert re.search(r"PushedAggregation:[^\n]*MIN\(l_quantity\)", plan), plan
    assert re.search(r"PushedAggregation:[^\n]*COUNT\(\*\)", plan), plan


def test_exchange_reuse_fires(spark):
    """agg_exchange_reuse: the second consumer of the year aggregate
    must plan as ReusedExchange — one fact pass, not two."""
    df = E.queries()["agg_exchange_reuse"](spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_checkpoint_resume_offset_recovery(spark):
    """stream_checkpoint_resume: the restarted query must process ONLY
    the newly arrived file (offset-log recovery — a from-scratch rerun
    would read half_a + half_b) and its batch id must advance past the
    first run's. State recovery is pinned by the oracle (the complete
    aggregate equals the full-table batch answer)."""
    from manual_data_ingest_spark.streaming.ops import (
        _checkpoint_resume_demo)

    _out, ev = _checkpoint_resume_demo(spark, SF_ORACLE)
    assert ev["run2_batch_id"] > ev["run1_batch_id"], ev
    assert ev["run2_rows"] == ev["half_b_rows"], ev
    assert ev["run1_rows"] + ev["run2_rows"] > ev["half_b_rows"], ev


def test_rebalance_write_fires(spark):
    """sink_rebalance_write: the write stage must plan a
    REBALANCE_PARTITIONS exchange, and the written file count must land
    below the shuffle partition count (AQE coalesced) but above one."""
    from manual_data_ingest_spark.sources.scans import _rebalance_write_demo

    _res, (plan, n_files) = _rebalance_write_demo(spark, SF_ORACLE)
    assert "REBALANCE_PARTITIONS" in plan, plan
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 1 <= n_files < shuffle_n, (n_files, shuffle_n)


def test_metadata_columns_prune_free(spark):
    """scan_metadata_columns: selecting `_metadata` must not widen the
    data ReadSchema — the provenance struct is served from the reader
    context, not decoded from data pages."""
    plan = _plan(spark, "scan_metadata_columns")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert "o_totalprice" not in m.group(1), m.group(1)


def test_parameterized_args_push_down(spark):
    """sql_parameterized: the named-parameter bindings must reach the
    parquet scan as ordinary literal PushedFilters — parameter markers
    are plan literals, not opaque runtime values that block pushdown."""
    plan = _plan(spark, "sql_parameterized")
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate,"
                     r"1996-01-01", plan), plan
    assert re.search(r"PushedFilters:.*LessThan\(o_orderdate,1997-01-01",
                     plan), plan


def test_grouping_id_expand_node(spark):
    """agg_grouping_id: the rollup plans ONE Expand node feeding a
    single aggregate — not one scan per grouping set."""
    plan = _plan(spark, "agg_grouping_id")
    assert re.search(r"\(\d+\) Expand", plan), plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


@pytest.mark.parametrize("name", ["ml_calibration_bins_scalable",
                                  "pipeline_curriculum_order_scalable",
                                  "ml_lift_chart", "ml_threshold_sweep",
                                  "ml_auc_roc", "ml_isotonic_calibration",
                                  "agg_rfm_segments", "sort_multi_null",
                                  "multimodal_shard_assign"])
def test_scalable_rank_has_no_full_data_single_partition(spark, name):
    """The global-rank family's scale swap (r8 verdict, Perf): the
    scalable twins AND the five rewritten default paths (r9) must rank
    under PARTITIONED windows only — every SinglePartition exchange in
    their plans feeds the tiny per-bucket offsets window (rows = bucket
    count), a dim-sized decile table, or a scalar count, i.e. sits
    above an aggregate, never above the scored relation itself."""
    plan = _plan(spark, name)
    assert re.search(r"hashpartitioning\(_bkt", plan), plan[:2000]
    # (?:[^\n]+\n)*? cannot cross the blank line ending a node's detail
    # block — the mint test's (?:.*\n)*? variant can leak into a LATER
    # node's Arguments and misattribute its SinglePartition
    single_ids = re.findall(
        r"\((\d+)\) Exchange\n(?:[^\n]+\n)*?Arguments: SinglePartition", plan)
    assert single_ids, plan[:2000]  # the offsets window does need one
    tree = plan.splitlines()
    for nid in single_ids:
        idx = next(i for i, l in enumerate(tree)
                   if re.search(rf"\+- Exchange \({nid}\)$", l))
        assert re.search(r"(Hash|Sort|Object.*)Aggregate", tree[idx + 1]), \
            f"SinglePartition over raw data:\n" + "\n".join(tree[:30])


@pytest.mark.parametrize("name", ["win_pareto_share",
                                  "agg_abc_classification",
                                  "agg_ks_test", "agg_lorenz_curve"])
def test_r10_entity_window_rewrites_audit_clean(spark, name):
    """The last four entity-scale single-partition windows (r9 verdict
    task 1), migrated onto the distributed rank/running-sum primitives
    (or, for the pareto top-k, onto TakeOrderedAndProject): the fleet
    audit's tightened rule — a SinglePartition above an aggregate
    KEYED ON AN ENTITY COLUMN is still a scale killer — must pass,
    and the expected distributed shape must be in the plan."""
    from tools.plan_audit import audit_plan

    plan = _plan(spark, name)
    assert audit_plan(plan) == set(), plan[:3000]
    if name == "win_pareto_share":
        # top-k plans as per-partition heads + bounded merge
        assert "TakeOrderedAndProject" in plan, plan[:2000]
    elif name == "agg_lorenz_curve":
        # per-(segment, bucket) local windows — never one task per
        # segment's whole customer population
        assert re.search(r"hashpartitioning\(segment\S*, _bkt", plan), \
            plan[:3000]
    else:
        assert re.search(r"hashpartitioning\(_bkt", plan), plan[:3000]


def test_plan_audit_rules_on_synthetic_plans():
    """Unit-pin the audit_plan classifier (pure function over formatted
    plan text): the r10 entity-agg rule fires only when a
    SinglePartition's exempting aggregate is keyed on an entity column,
    and a global limit is bounded regardless of what sits below it."""
    from tools.plan_audit import audit_plan

    def plan(child, detail=""):
        return (
            "== Physical Plan ==\n"
            "Window (3)\n"
            f"+- Exchange (2)\n"
            f"   +- {child}\n"
            "\n"
            "(2) Exchange\n"
            "Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
            + detail)

    # dim-keyed aggregate under the exchange: exempt
    assert audit_plan(plan(
        "HashAggregate (1)",
        "\n(1) HashAggregate [codegen id : 1]\n"
        "Input [2]: [segment#1, n#2]\n"
        "Keys [1]: [segment#1]\n")) == set()
    # entity-keyed aggregate: flagged by the r10 rule
    assert audit_plan(plan(
        "HashAggregate (1)",
        "\n(1) HashAggregate [codegen id : 1]\n"
        "Input [2]: [o_custkey#1, cents#2]\n"
        "Keys [1]: [o_custkey#1]\n")) == {"single_partition_entity_agg"}
    # raw value measure counts as entity-scale too
    assert audit_plan(plan(
        "HashAggregate (1)",
        "\n(1) HashAggregate [codegen id : 1]\n"
        "Keys [1]: [knownfloatingpointnormalized(normalizenanandzero("
        "value#9))]\n")) == {"single_partition_entity_agg"}
    # global limit below the gather: bounded, never flagged
    assert audit_plan(plan("TakeOrderedAndProject (1)")) == set()
    # raw data below the gather: flagged as before
    assert audit_plan(plan("Scan parquet (1)")) == {"single_partition_raw"}


@pytest.mark.parametrize("name,probe", [
    ("pipeline_seq_pack", r"hashpartitioning\(source\S*, _bkt"),
    ("pipeline_training_mix", r"hashpartitioning\(lang\S*, _bkt"),
    ("pipeline_token_shard", r"hashpartitioning\(source\S*, _bkt"),
    ("pipeline_preference_pairs", r"WindowGroupLimit"),
    ("agg_gini", r"hashpartitioning\(event_type\S*, _bkt"),
    # join-form moments: no Window node over the event stream at all
    ("win_zscore_outliers", r"BroadcastHashJoin"),
    # rolling family rides the halo blocks: the FRAME window keys on
    # (event_type, _fbkt), one task per block not per type
    ("win_rolling_median", r"hashpartitioning\(event_type\S*, _fbkt"),
    ("win_rolling_mad", r"hashpartitioning\(event_type\S*, _fbkt"),
    ("win_gap_distribution", r"hashpartitioning\(event_type\S*, _fbkt"),
    ("win_twap", r"hashpartitioning\(event_type\S*, _fbkt"),
    ("win_ntile_firstlast", r"hashpartitioning\(c_nationkey\S*, _bkt"),
    ("win_dist_ranks", r"hashpartitioning\(c_nationkey\S*, _bkt"),
    ("sample_stratified", r"hashpartitioning\(lang\S*, _bkt"),
    ("sample_balanced_label", r"hashpartitioning\(label\S*, _bkt"),
    ("ingest_late_data_report",
     r"hashpartitioning\(event_type\S*, _bkt"),
])
def test_r10_pipeline_window_rewrites_scale_shape(spark, name, probe):
    """The bounded-partition window class (r10): a handful of
    source/lang partitions over an entity-scale corpus must not ride
    one window task per partition. seq_pack/training_mix/token_shard
    ride the partitioned rank/running-sum primitives (per-(partition,
    bucket) windows); preference_pairs' fixed top-3 filters must keep
    the group-limit pushdown (partial limits BEFORE the lang shuffle).
    All four must also pass the fleet audit rules."""
    from tools.plan_audit import audit_plan

    if name == "win_rolling_mad":
        # r12: the op ends in a rank-pass materialization barrier (the
        # filter would otherwise re-expand the med/mad chain — see the
        # operator docstring), which truncates the visible plan at a
        # Scan ExistingRDD. Extract the pin evidence with the designed
        # lineage knob so the frame-window shape stays asserted.
        spark.conf.set("spark.mdis.rank.materialize", "none")
        try:
            plan = _plan(spark, name)
        finally:
            spark.conf.unset("spark.mdis.rank.materialize")
    else:
        plan = _plan(spark, name)
    assert re.search(probe, plan), plan[:3000]
    assert audit_plan(plan) == set(), plan[:3000]
    if name == "pipeline_preference_pairs":
        # partial group-limits on both directions, pre- and post-shuffle
        assert plan.count("WindowGroupLimit (") >= 4, plan[:3000]


def test_text_ngrams_splits_once(spark):
    """r12: the bigram generator must reference the PROJECTED token
    array, never re-split the text per lambda element (the old inline
    form re-split the whole document for every element access —
    O(L²)/doc, measured 3.5 s warm vs 0.5 s fixed at sf0.1)."""
    plan = _plan(spark, "text_ngrams")
    assert plan.count("split(text") == 1, plan[:3000]


def test_udf_grouped_agg_python_boundary_width(spark):
    """r12: a pandas UDAF has no partial aggregation — the Python
    stage's width IS the exchange's partition count, so the exchange
    must carry at least the session's task slots (at real scale
    shuffle partitions ≥ slots and the repartition degenerates to the
    groupBy's own exchange — exactly one Exchange either way)."""
    plan = _plan(spark, "udf_grouped_agg")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:3000]
    m = re.search(r"hashpartitioning\(l_partkey#\d+L?, (\d+)\)", plan)
    assert m, plan[:3000]
    assert int(m.group(1)) >= spark.sparkContext.defaultParallelism


def test_scan_footer_stats_avoids_local_relation(spark):
    """r12: the one-row-per-file relation must come from range() (pure
    JVM), not createDataFrame over a Python list — first use of the
    Python-local-data path builds the whole Python⇄JVM serializer
    pipeline (measured 5.0 s on a fresh session)."""
    plan = _plan(spark, "scan_footer_stats")
    assert "Range" in plan, plan[:2000]
    assert "Scan ExistingRDD" not in plan, plan[:2000]


def _splits_in_lambdas(plan) -> int:
    """``split`` calls inside a lambda in any expression of the JVM
    logical ``plan``, its children and subqueries."""
    def walk(e, in_lambda: bool) -> int:
        cls = e.getClass().getSimpleName()
        hit = int(in_lambda and cls == "StringSplit")
        kids = e.children()
        return hit + sum(walk(kids.apply(i), in_lambda or
                              cls == "LambdaFunction")
                         for i in range(kids.size()))

    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        exprs = node.expressions()
        for i in range(exprs.size()):
            e = exprs.apply(i)
            if "lambdafunction(" in e.toString():  # walk only HOF trees
                n += walk(e, False)
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return n


@pytest.mark.parametrize("name", [
    "dedup_near_jaccard", "dedup_near_jaccard_capped", "dedup_containment",
    "dedup_decontaminate", "pipeline_training_mix"])
def test_ngram_kernels_split_text_once(spark, monkeypatch, name):
    """The n-gram kernels split each document once, outside the window
    lambda: HOFs are interpreted, so a split inside it runs once per
    window (O(tokens²) per document). Checked on the optimized plans, so
    CollapseProject cannot inline the split back, of the result and of
    every DataFrame the call materializes on the way."""
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    dfs = []
    for method in ("localCheckpoint", "checkpoint", "persist"):
        def recording(self, *args, _real=getattr(cls, method), **kwargs):
            dfs.append(self)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(cls, method, recording)
    dfs.append(E.queries()[name](spark, SF_SMALL))
    assert sum(_splits_in_lambdas(df._jdf.queryExecution().optimizedPlan())
               for df in dfs) == 0
