"""Plan-shape assertions (SURVEY §5.3): the physical plan, not just the
result, must be the one a 100 TB deployment needs — broadcasts where
intended, partial aggregation before shuffles, predicate/projection
pushdown into the parquet scan, and top-k without a global sort."""

from __future__ import annotations

import os

import pytest

import pymapreduce_spark  # noqa: F401
from pymapreduce_spark.registry import QUERIES


def plan_of(name: str, spark, sf_dir: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_audit_module():
    """tools/plan_audit.py, whose plan heuristics these tests pin."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(__file__), "..", "tools", "plan_audit.py"),
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)
    return pa


def formatted_plan_of(name: str, spark, sf_dir: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = plan_of("join_broadcast", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_flagship_uses_broadcast_for_customer(spark, sf_dir):
    plan = plan_of("q3_shipping_priority", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_combiner_partial_aggregation(spark, sf_dir):
    """The MR combiner: map-side partial aggregate before the exchange."""
    plan = formatted_plan_of("mr_combine", spark, sf_dir)
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    plan = formatted_plan_of("mr_filter", spark, sf_dir)
    assert "PushedFilters:" in plan, plan
    assert "EqualTo(event_type,purchase)" in plan, plan


def test_projection_pruned_at_scan(spark, sf_dir):
    """proj_select reads 3 of orders' 6 columns — ReadSchema must show
    only those."""
    plan = formatted_plan_of("proj_select", spark, sf_dir)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    schema_line = read[0]
    assert "o_orderkey" in schema_line
    assert "o_orderdate" not in schema_line
    assert "o_custkey" not in schema_line


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of("topk_global", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_whole_stage_codegen_on_q1(spark, sf_dir):
    """AQE finalizes the plan only on execution — run, then inspect."""
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(n)" stage marker in this format
    assert "*(1)" in plan or "*(2)" in plan or "WholeStageCodegen" in plan, plan


def test_semi_join_planned_as_semi(spark, sf_dir):
    plan = plan_of("join_semi", spark, sf_dir)
    assert "LeftSemi" in plan, plan


def test_anti_join_planned_as_anti(spark, sf_dir):
    plan = plan_of("join_anti", spark, sf_dir)
    assert "LeftAnti" in plan, plan


def test_theta_band_join_broadcasts_band_table(spark, sf_dir):
    plan = plan_of("join_theta_range", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_bucketed_join_has_no_join_side_shuffle(spark, sf_dir):
    """Both sides bucketed+sorted on the join key: the sort-merge join
    must read buckets directly — the only exchange in the plan is the
    final small aggregation, never on o_orderkey/l_orderkey."""
    df = QUERIES["join_bucketed"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    import re

    join_key_exchanges = re.findall(
        r"Exchange hashpartitioning\((?:o_orderkey|l_orderkey)", final
    )
    assert not join_key_exchanges, final
    assert "SelectedBucketsCount" in final or "Bucketed: true" in final, final


def test_partitioned_sink_enables_partition_pruning(spark, sf_dir):
    """Reading one l_returnflag from the partitionBy'd sink must prune
    to that partition directory (PartitionFilters, not a data filter)."""
    from urllib.parse import unquote, urlparse

    sink = QUERIES["sink_parquet"](spark, sf_dir)  # materializes the sink
    part = unquote(urlparse(sink.inputFiles()[0]).path)
    path = os.path.dirname(os.path.dirname(part))  # above l_returnflag=X/
    df = spark.read.parquet(path).where("l_returnflag = 'A'")
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan, plan
    line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "l_returnflag" in line, plan


def test_aqe_splits_skewed_join(spark, sf_dir):
    """Skew posture: with a heavily skewed join key, AQE's skew-join
    optimization must split the oversized partition (plan shows the
    skew marker). Thresholds are lowered to make test-scale data
    register as skewed; production uses the defaults."""
    from pymapreduce_spark.io import load_table
    from pyspark.sql import functions as F

    # load BEFORE lowering: load_table's per-query self-heal
    # (ensure_runtime_configs, unconditional since the round-8 clock
    # fix) re-pins the engine's advisory partition size — thresholds
    # tweaked for this test must be set after the last load_table call
    ev = load_table(spark, sf_dir, "events")
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in lowered.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        # ~99% of rows share key 0 → one oversized shuffle partition.
        # (A literal key won't do: Catalyst constant-folds it into a
        # cartesian product and no shuffle exists to split. And the
        # input must span multiple map tasks — skew splitting works at
        # per-mapper-block granularity, so a single-mapper shuffle can
        # never be split.)
        skewed_key = F.when(F.col("event_id") % 100 < 99, 0).otherwise(
            (F.col("event_id") % 4 + 1).cast("int")
        )
        left = ev.repartition(16).select(
            skewed_key.alias("k"), "event_id", "value", "props"
        )
        right = spark.range(0, 5).select(
            F.col("id").cast("int").alias("k"), F.col("id").alias("payload")
        )
        joined = left.hint("merge").join(right, "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cache_reuse_across_actions(spark, sf_dir):
    """Caching a shared intermediate: the second consumer must read
    InMemoryTableScan, not re-scan parquet."""
    from pymapreduce_spark.io import load_table

    base = (
        load_table(spark, sf_dir, "lineitem")
        .where("l_quantity > 25")
        .select("l_orderkey", "l_extendedprice")
        .cache()
    )
    try:
        base.count()  # materialize
        agg = base.groupBy().sum("l_extendedprice")
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    finally:
        base.unpersist()


def test_q8_market_share_broadcasts_all_dims(spark, sf_dir):
    """The 8-table star join must broadcast every dimension (part,
    customer, supplier, nation×2, region) — only the lineitem–orders
    fact–fact join may shuffle."""
    plan = plan_of("q8_market_share", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 5, plan


def test_q22_plans_anti_join(spark, sf_dir):
    """NOT EXISTS must stay an anti join (never a count-based rewrite)."""
    plan = plan_of("q22_sales_opportunity", spark, sf_dir)
    assert "LeftAnti" in plan, plan


def test_q13_plans_outer_join_with_on_clause_filter(spark, sf_dir):
    """The priority exclusion lives in the join ON clause, so it must
    NOT be pushed as a filter on the customer (preserved) side."""
    plan = plan_of("q13_customer_distribution", spark, sf_dir)
    assert "LeftOuter" in plan, plan


def test_q17_decorrelated_avg_is_single_pass_agg(spark, sf_dir):
    """The qty < 0.2·avg subquery is decorrelated into one per-part
    aggregate joined back — partial aggregation must appear (map-side
    combine before the shuffle on l_partkey)."""
    plan = formatted_plan_of("q17_small_quantity", spark, sf_dir)
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the filtered part dim


def test_q15_max_revenue_is_broadcast_not_collect(spark, sf_dir):
    """The scalar max joins back via broadcast — the whole query is one
    DAG, no driver-side materialization of the aggregate."""
    plan = plan_of("q15_top_supplier", spark, sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_multimodal_ops_prune_payload_scan(spark, sf_dir):
    """The payload pipeline reads only (doc_id, text) — at 100 TB the
    scan is the dominant cost and must not drag lang/source/n_chars."""
    for op in ("llm_frame_sample", "llm_pii_mask"):
        plan = plan_of(op, spark, sf_dir)
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, op


def test_pack_sequences_single_window_shuffle(spark, sf_dir):
    """Sequence packing is one per-shard window: exactly one exchange,
    partitioned by source — no global sort."""
    plan = plan_of("llm_pack_sequences", spark, sf_dir)
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()


def test_q4_exists_becomes_semi_join(spark, sf_dir):
    """The EXISTS subquery shape must plan as a semi join, not a
    distinct-then-inner-join (which would add a shuffle)."""
    plan = plan_of("q4_order_priority", spark, sf_dir)
    assert "LeftSemi" in plan, plan


def test_q16_not_in_is_broadcast_anti(spark, sf_dir):
    """The NOT IN exclusion is a tiny supplier subset — it must ship as
    a broadcast anti join, never a shuffle."""
    plan = plan_of("q16_supplier_part_count", spark, sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_q21_decorrelation_scans_lineitem_once(spark, sf_dir):
    """The EXISTS/NOT-EXISTS pair is decorrelated into ONE per-order
    aggregate that also carries (fail_supp, n_fail_rows): lineitem
    appears exactly once in the plan, not three times as the literal
    self-join form would."""
    plan = plan_of("q21_suppliers_kept_waiting", spark, sf_dir)
    assert plan.count("lineitem.parquet") == 1, plan


def test_range_binned_join_is_hash_not_nested_loop(spark, sf_dir):
    """The keyless 60s-proximity pair count must run as a hash join on
    the time bin — never the O(N^2) nested-loop Catalyst plans for a
    bare range predicate."""
    plan = plan_of("join_range_binned", spark, sf_dir)
    keyed = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    assert any(j in plan for j in keyed), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_forward_fill_is_single_exchange_no_join(spark, sf_dir):
    """LOCF must be one window over user_id — one exchange, zero joins
    (the naive formulation is a self as-of join)."""
    plan = plan_of("ts_forward_fill", spark, sf_dir)
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


@pytest.mark.parametrize(
    "name", ["join_asof", "join_asof_forward", "join_asof_nearest"]
)
def test_asof_join_is_two_keyed_exchanges_no_join(name, spark, sf_dir):
    """An as-of join is a union carried by one window, not a join: one
    exchange for the per-(user, time) view aggregate and one for the
    carry window on user_id."""
    import re

    plan = plan_of(name, spark, sf_dir)
    assert plan.count("Exchange") == 2, plan
    keys = sorted(
        re.sub(r"#\d+L?", "", k).split(", ")
        for k in re.findall(r"Exchange hashpartitioning\((.*), \d+\)", plan)
    )
    assert len(keys) == 2, plan
    assert keys[0] == ["user_id"], plan
    assert len(keys[1]) == 2 and keys[1][0] == "user_id", plan
    assert "Join" not in plan, plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle table is the small side and must broadcast —
    the training corpus streams through without shuffling."""
    plan = plan_of("llm_decontaminate", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_topk_ngrams_uses_take_ordered(spark, sf_dir):
    """Top-100 bigrams must plan TakeOrderedAndProject — never a global
    sort of the full bigram distribution."""
    plan = plan_of("llm_topk_ngrams", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_fixed_k_sample_is_take_ordered(spark, sf_dir):
    """Hash-ordered exactly-k sampling must plan TakeOrderedAndProject
    (per-partition local top-k), never a global sort."""
    plan = plan_of("sample_fixed_k", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_ohlc_single_shuffle_partial_agg(spark, sf_dir):
    """OHLC bars must be ONE map-side-combined aggregation: exactly one
    exchange, with partial min/max of the ordering struct before it."""
    plan = plan_of("ts_resample_ohlc", spark, sf_dir)
    assert plan.count("Exchange") == 1, plan
    fplan = formatted_plan_of("ts_resample_ohlc", spark, sf_dir)
    assert "partial_min" in fplan and "partial_max" in fplan, fplan


def test_centroid_assignment_broadcasts(spark, sf_dir):
    """k-means step: the k×dim centroid table broadcasts; the corpus
    never re-shuffles for the assignment join."""
    plan = plan_of("llm_embed_centroid", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_unigram_lm_broadcasts_vocabulary(spark, sf_dir):
    """The unigram-LM probability join must broadcast the aggregated
    vocabulary, not shuffle the corpus against it."""
    plan = plan_of("llm_unigram_logprob", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_chunking_is_map_only(spark, sf_dir):
    """Document chunking is explode+substring — embarrassingly parallel,
    so the plan must contain NO exchange at all."""
    plan = plan_of("llm_chunk_documents", spark, sf_dir)
    assert "Exchange" not in plan, plan


def test_token_count_is_map_only(spark, sf_dir):
    plan = plan_of("llm_token_count", spark, sf_dir)
    assert "Exchange" not in plan, plan


def test_ewma_single_window_no_self_join(spark, sf_dir):
    """Trailing EWMA: one window over one sort — no join anywhere."""
    plan = plan_of("ts_ewma", spark, sf_dir)
    assert "Join" not in plan, plan
    assert plan.count("Window") == 1, plan


def test_bloom_prefilter_before_semi_join(spark, sf_dir):
    """join_bloom: the literal-bitmap probe (element_at & mask) must sit
    in a Filter BELOW the left-semi join — only probable matches reach
    the join — and the probe filter must prune most of lineitem."""
    plan = plan_of("join_bloom", spark, sf_dir)
    assert "LeftSemi" in plan, plan
    semi = plan.index("LeftSemi")
    probe = plan.index("element_at")
    assert probe > semi, "bloom probe filter must be under the semi join"
    from pymapreduce_spark.io import load_table
    from pymapreduce_spark.registry import QUERIES

    total = load_table(spark, sf_dir, "lineitem").count()
    kept = QUERIES["join_bloom"](spark, sf_dir).agg({"n_items": "sum"}).collect()[0][0]
    assert kept < 0.12 * total, (kept, total)


def test_bloom_bitmap_literal_round_trips_every_word(spark):
    """The one-call bitmap literal carries any 64-bit word exactly:
    bit 63 alone (Long.MIN_VALUE), all bits (-1), none (0) and
    Long.MAX_VALUE."""
    from pymapreduce_spark.operators.scale import bigint_array_sql

    words = [-(2**63), -1, 0, 2**63 - 1, 1]
    got = spark.range(1).selectExpr(f"{bigint_array_sql(words)} AS a").first()["a"]
    assert got == words


def test_bloom_bitmap_is_a_folded_literal(spark, sf_dir):
    """The bitmap reaches the optimized plan as ONE constant array
    (1024 words) in each probe, not as a split of a string or an array
    constructor evaluated per row."""
    import re

    df = QUERIES["join_bloom"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in plan and "array(" not in plan, plan[:2000]
    folded = re.findall(r"element_at\(\[(?:-?\d+,){1023}-?\d+\]", plan)
    assert len(folded) >= 3, plan[:2000]


def test_bloom_empty_dimension_matches_oracle(spark, sf_dir, tmp_path):
    """No urgent 1997 order: the bitmap is all zeros, every lineitem row
    fails the probe, and the result is the oracle's empty one."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pymapreduce_spark.io import TABLES, table_path
    from pymapreduce_spark.registry import ORACLES
    from pymapreduce_spark.testing import compare_frames, make_duckdb

    for name in TABLES:
        if name != "orders":
            os.symlink(table_path(sf_dir, name), table_path(str(tmp_path), name))
    orders = pq.read_table(table_path(sf_dir, "orders"))
    i = orders.schema.get_field_index("o_orderpriority")
    prio = pc.replace_substring(orders["o_orderpriority"], "1-URGENT", "2-HIGH")
    pq.write_table(
        orders.set_column(i, "o_orderpriority", prio),
        table_path(str(tmp_path), "orders"),
    )
    df = QUERIES["join_bloom"](spark, str(tmp_path))
    assert df.count() == 0
    duck = make_duckdb(str(tmp_path))
    try:
        compare_frames("join_bloom", df, duck, ORACLES["join_bloom"], min_rows=0)
    finally:
        duck.close()


def test_sketch_quantiles_single_scan_one_exchange(spark, sf_dir):
    """KLL sketch and the self-evidencing exact median are two
    aggregates of ONE partial+merge ObjectHashAggregate (r14 verdict
    #7, guide §6 read-once): one FileScan, one exchange, no join, no
    sort — this path used to scan lineitem twice and broadcast-join
    the arms (4 exchanges)."""
    plan = plan_of("agg_sketch_quantiles", spark, sf_dir)
    assert "kll_sketch_agg_bigint" in plan, plan
    assert "partial_kll_sketch_agg_bigint" in plan, plan
    assert "partial_percentile" in plan, plan  # median plans as percentile(0.5)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 0, plan
    assert "Join" not in plan, plan
    assert "Sort" not in plan, plan


def test_regression_is_one_partial_aggregable_shuffle(spark, sf_dir):
    """The five sufficient statistics sum map-side: one exchange, with
    partial_sum below it."""
    plan = plan_of("agg_regression", spark, sf_dir)
    assert "partial_sum" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_gopher_quality_is_map_only(spark, sf_dir):
    """Per-doc HOF metrics: no exchange anywhere — filter at scan speed."""
    plan = plan_of("llm_gopher_quality", spark, sf_dir)
    assert "Exchange" not in plan, plan


def test_interpolate_broadcasts_observations(spark, sf_dir):
    """The dense grid build must broadcast the aggregated observation
    side onto the generated grid (aggregate-then-broadcast) — the raw
    events table itself must never shuffle onto the grid."""
    plan = plan_of("ts_interpolate_linear", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_anomaly_zscore_single_window_over_series_key(spark, sf_dir):
    """All three rolling moments (count, Σn, Σn²) must evaluate in ONE
    Window node over one partitioning — three windows would triple the
    sort."""
    plan = plan_of("ts_anomaly_zscore", spark, sf_dir)
    assert plan.count("RunningWindowFunction") + plan.count("Window") <= 2, (
        plan
    )


def test_fk_integrity_anti_joins_broadcast_parents(spark, sf_dir):
    """Every parent side (dims or keyed aggregates) is small — all five
    orphan checks must plan as broadcast anti joins, never
    shuffle-exchange the fact side for the existence test."""
    plan = plan_of("etl_fk_integrity", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "LeftAnti" in plan, plan


def test_data_profile_is_single_scan(spark, sf_dir):
    """Six columns profile from ONE scan of orders — per-column scans
    (the oracle's spelling) would read the table six times at 100 TB."""
    plan = plan_of("etl_data_profile", spark, sf_dir)
    assert plan.count("FileScan parquet") == 1, plan


def test_cluster_topics_broadcasts_centroids(spark, sf_dir):
    """Centroid assignment must ride a broadcast of the k×dim centroid
    table; the corpus-side scan must not shuffle for the assignment."""
    plan = plan_of("llm_cluster_topics", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan
    )


def test_dq_rules_one_scan_per_table(spark, sf_dir):
    """All rules on a table must share one conditional aggregate over
    one scan — three scans total (orders, events, documents), never one
    per rule."""
    plan = plan_of("etl_dq_rules", spark, sf_dir)
    assert plan.count("FileScan parquet") == 3, plan


def test_curation_pipeline_single_scan_single_shuffle(spark, sf_dir):
    """The four-stage funnel must read documents ONCE and shuffle once
    (the dedup window on text) — per-stage scans would read the corpus
    four times at 100 TB."""
    plan = plan_of("llm_curation_pipeline", spark, sf_dir)
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_bm25_broadcasts_dfreq_no_doclen_join(spark, sf_dir):
    """BM25's only joins are the broadcast vocab aggregate and the
    scalar (N, Σdl) — doc length must ride the tf group key, never a
    corpus-sized join side."""
    plan = plan_of("llm_bm25", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        plan
    )


def test_quality_classifier_is_map_only(spark, sf_dir):
    """The logistic scorer is one scan + projection: no shuffle, no
    Python in the row path."""
    plan = plan_of("llm_quality_classifier", spark, sf_dir)
    assert "Exchange" not in plan, plan
    assert "FileScan parquet" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_skew_report_two_phase_aggregate(spark, sf_dir):
    """Key histogram then global stats: the only wide ops are the key
    shuffle and the 1-row final aggregate — no window, no join."""
    plan = plan_of("etl_skew_report", spark, sf_dir)
    assert "HashAggregate" in plan, plan
    assert "Join" not in plan, plan


def test_compact_plan_window_over_summary_only(spark, sf_dir):
    """The global-ordered running sum must run over the per-partition
    summary AFTER the count aggregate — the partial_count before the
    exchange proves data-scale rows never reach the single-partition
    window."""
    plan = formatted_plan_of("etl_compact_plan", spark, sf_dir)
    assert "partial_count" in plan, plan
    assert "Window" in plan, plan


def test_rolling_corr_single_window_partitioned(spark, sf_dir):
    """All five running sums must evaluate in Window nodes partitioned
    by the series key — no 'No Partition Defined' global window."""
    plan = plan_of("ts_rolling_corr", spark, sf_dir)
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_bigram_lm_broadcasts_vocab_sides(spark, sf_dir):
    """Only the bigram-count shuffle scales with data; the c(w1,·) and
    vocab-size sides must join as broadcasts."""
    plan = plan_of("llm_bigram_lm", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        plan
    )


def test_secondary_sort_single_shuffle(spark, sf_dir):
    """The sorted reducer is one exchange on user_id feeding one
    FlatMapGroupsInPandas — the MR shuffle+sort+reduce in one stage
    pair."""
    plan = plan_of("api_secondary_sort", spark, sf_dir)
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_partition_pruned_join_has_both_prune_mechanisms(spark, sf_dir):
    """The partitioned-layout join must plan static PartitionFilters
    (constraint propagation through the equi-join) AND a DPP subquery
    (dynamicpruning) — directories, not rows, get skipped."""
    plan = plan_of("join_partition_pruned", spark, sf_dir)
    assert "PartitionFilters: [" in plan, plan
    assert "dynamicpruning" in plan.lower(), plan


def test_semdedup_assignment_is_map_only(spark, sf_dir):
    """Centroid assignment must be a MAP-ONLY scalar expression over
    the corpus scan (the 8 driver-collected seed vectors inlined as a
    single least(struct(-cos, seed)) fold) — no join of any kind for
    the assignment, and the pair kernel rides a groupBy(cluster)
    exchange into FlatMapGroupsInPandas. The earlier shape paid a
    BroadcastNestedLoopJoin fan-out plus a groupBy(vec_id) shuffle for
    what is a per-row fold."""
    plan = plan_of("llm_semdedup", spark, sf_dir)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sql_frontend_gets_same_optimizations(spark, sf_dir):
    """Ad-hoc SQL must ride the identical Catalyst pipeline as the
    DataFrame operators: dims broadcast, the date predicate pushed into
    the orders scan, partial aggregation before the exchange."""
    plan = formatted_plan_of("sql_frontend", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "PushedFilters: [" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_sample_weighted_no_shuffle_before_topk(spark, sf_dir):
    """A-ES keys are a map-only projection; the only wide op is the
    per-stratum rank window."""
    plan = plan_of("sample_weighted", spark, sf_dir)
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_gini_two_exchange_shape(spark, sf_dir):
    """Ranked statistic: one exchange for the rank window, one for the
    final group aggregate — nothing else wide."""
    plan = plan_of("agg_gini", spark, sf_dir)
    assert plan.count("Exchange") <= 2, plan
    assert "Join" not in plan, plan


def test_scd2_lookup_is_equi_join(spark, sf_dir):
    """The temporal lookup must ride a hash/merge equi-join on the
    natural key with the interval as a filter — never a nested loop
    over intervals."""
    plan = plan_of("etl_scd2_lookup", spark, sf_dir)
    assert "SortMergeJoin" in plan or "HashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_null_safe_join_is_real_join(spark, sf_dir):
    """EqualNullSafe keys must plan as a hash/merge equi-join, not the
    nested-loop fallback a non-equi condition would get."""
    plan = plan_of("join_null_safe", spark, sf_dir)
    assert "SortMergeJoin" in plan or "HashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_batch_inference_single_python_stage(spark, sf_dir):
    """The scorer is ONE Arrow-batched Python stage over the scan —
    no shuffle, no second Python hop."""
    plan = plan_of("llm_batch_inference", spark, sf_dir)
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan


def test_star_denormalize_all_broadcast(spark, sf_dir):
    """All six dimension joins must broadcast — the fact side never
    shuffles for the wide-row assembly."""
    plan = plan_of("join_star_denormalize", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 6, plan
    assert "SortMergeJoin" not in plan, plan


def test_minmax_normalize_broadcasts_bounds(spark, sf_dir):
    """Group bounds must broadcast back onto the scan — never a
    per-row window over the partition."""
    plan = plan_of("ts_minmax_normalize", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_multi_distinct_uses_expand(spark, sf_dir):
    """Two DISTINCTs over different columns must plan via Expand (one
    scan), not separate aggregations."""
    plan = plan_of("agg_multi_distinct", spark, sf_dir)
    assert "Expand" in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_unpivot_is_expand_no_shuffle(spark, sf_dir):
    """unpivot compiles to Expand over the aggregated wide table — no
    join, no extra exchange beyond the crosstab's own aggregate."""
    plan = plan_of("proj_unpivot", spark, sf_dir)
    assert "Expand" in plan, plan
    assert "Join" not in plan, plan


def test_keyword_extraction_window_group_limit(spark, sf_dir):
    """The per-doc top-3 must push the limit into the window sort
    (WindowGroupLimit) so no document's full term list materializes."""
    plan = plan_of("llm_keyword_extraction", spark, sf_dir)
    assert "WindowGroupLimit" in plan, plan


def test_stopword_candidates_take_ordered(spark, sf_dir):
    """The top-20-by-df shortlist must plan TakeOrderedAndProject over
    the vocab aggregate — never a global sort of the vocabulary."""
    plan = plan_of("llm_stopword_candidates", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_common_neighbors_no_cartesian_wedges(spark, sf_dir):
    """Wedge counting must stay a keyed hash join on the shared
    neighbor plus grouped aggregation — never a cartesian pair
    enumeration or array-materialized neighbor sets."""
    plan = plan_of("graph_common_neighbors", spark, sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "collect_list" not in plan and "collect_set" not in plan, plan


def test_vocab_coverage_take_ordered_not_vocab_window(spark, sf_dir):
    """The coverage curve reads only ranks <= 20, so the plan must be
    TakeOrderedAndProject over the wordcount (a 20-row heap per task)
    — never a rank window over the full vocabulary, which at web
    scale funnels a billion-row vocab through one task."""
    plan = plan_of("llm_vocab_coverage", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_query_doc_match_take_ordered_top5(spark, sf_dir):
    """Retrieval returns the top-5 docs via TakeOrderedAndProject —
    never a global rank window over every doc matching a query term
    (a stopword-grade term would single-task the whole corpus)."""
    plan = plan_of("llm_query_doc_match", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_hll_merge_nullsafe_join_still_broadcasts(spark, sf_dir):
    """The sketch/exact merge joins null-SAFELY (the NULL event_type
    group must survive) — EqualNullSafe is still a hashable key, so the
    plan must remain a BroadcastHashJoin, never degrade to a
    nested-loop join."""
    plan = plan_of("agg_hll_mergeable", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_seasonal_naive_grid_broadcasts_types(spark, sf_dir):
    """The hour×type dense grid must broadcast the tiny distinct-types
    side (house style for all grid builders): the cross join shows up
    as a BroadcastNestedLoopJoin, never an unhinted CartesianProduct
    that AQE would have to rescue at scale."""
    plan = plan_of("ts_seasonal_naive", spark, sf_dir)
    assert "CartesianProduct" not in plan, plan


def test_plan_audit_suppresses_post_limit_global_windows(spark, sf_dir):
    """plan_audit's global-window heuristic must see THROUGH the tree:
    a partition-less window over a post-limit / global-aggregate
    relation (llm_vocab_coverage's 20-row frame, llm_query_doc_match's
    5-row frame) is bounded by construction and must NOT flag, while a
    global window straight over a data-sized scan still must
    (round-7 verdict, task 7)."""
    pa = _plan_audit_module()

    for name in ("llm_vocab_coverage", "llm_query_doc_match"):
        plan = formatted_plan_of(name, spark, sf_dir)
        assert not pa._unbounded_global_window(plan), name

    # a REAL hazard: rank the whole events table with no partition keys
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pymapreduce_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    hazard = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("event_id"))
    )
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        hazard._jdf.queryExecution(), "formatted"
    )
    assert pa._unbounded_global_window(plan), plan

    # bounded-by-a-limit variant of the SAME hazard must not flag
    ok = ev.orderBy("event_id").limit(10).withColumn(
        "rn", F.row_number().over(Window.orderBy("event_id"))
    )
    plan_ok = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        ok._jdf.queryExecution(), "formatted"
    )
    assert not pa._unbounded_global_window(plan_ok), plan_ok


def test_interval_point_join_is_shuffled_equi_join(spark, sf_dir):
    """The variable-length interval join must plan as an EQUI join on
    the bin key (hash/merge — residual as post-join filter), never a
    BroadcastNestedLoopJoin or CartesianProduct: the keyless range
    predicate alone would nested-loop, which is the O(N^2) shape the
    span-explode exists to avoid."""
    plan = plan_of("join_interval_point", spark, sf_dir)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_plan_audit_flags_hof_producer_in_filter(spark, sf_dir):
    """plan_audit's hof-in-filter detector pins the round-8 huge_doc
    quadratic signature: an array PRODUCER (split) re-evaluated inside
    a lambda BODY within a Filter condition — the shape predicate
    pushdown creates when it substitutes a hoisted array alias through
    the projection chain. A producer in HOF *argument* position
    (evaluated once per row) must not flag, and no registered query's
    plan may carry the signature (ensure_runtime_configs excludes
    InferFiltersFromGenerate, the only self-inflicted source)."""
    from pyspark.sql import functions as F

    from pymapreduce_spark.io import load_table

    pa = _plan_audit_module()

    docs = load_table(spark, sf_dir, "documents")

    # the hazard: a USER filter on the HOF output, pushed through the
    # hoist back into the lambda — the pushdown path the optimizer-rule
    # exclusion cannot close
    hazard = (
        docs.select(F.split("text", " ").alias("ws"))
        .select(
            F.expr(
                "transform(sequence(1, greatest(size(ws) - 1, 1)),"
                " i -> concat(element_at(ws, i),"
                " element_at(ws, least(i + 1, size(ws)))))"
            ).alias("grams")
        )
        .where(F.size("grams") > 1)
    )
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        hazard._jdf.queryExecution(), "formatted"
    )
    assert pa._hof_in_filter(plan), plan

    # producer in ARGUMENT position: split evaluated once per row,
    # lambda only scans the result — linear, must not flag
    ok = docs.where(
        F.exists(F.split("text", " "), lambda w: w == F.lit("data"))
    )
    plan_ok = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        ok._jdf.queryExecution(), "formatted"
    )
    assert not pa._hof_in_filter(plan_ok), plan_ok

    # the four huge_doc operators plan clean under the engine's configs
    for name in (
        "llm_bigram_lm", "llm_bpe_merge_step", "llm_ngram_entropy",
        "llm_boilerplate_share",
    ):
        assert not pa._hof_in_filter(
            formatted_plan_of(name, spark, sf_dir)
        ), name


def test_bitmap_distinct_has_no_expand(spark, sf_dir):
    """agg_bitmap_distinct's whole point: exact distinct WITHOUT
    count_distinct's Expand/per-id shuffle — the exchange carries
    per-bucket bitmaps. The operator checkpoints the bucket stage (the
    persisted-bitmap-table pattern), so assert the shape on the SHARED
    builder it materializes plus a downstream count: the bitmap fold
    is present, partial-aggregated map-side, and no Expand node (the
    multi-distinct rewrite marker) appears anywhere."""
    from pyspark.sql import functions as F

    from pymapreduce_spark.io import load_table
    from pymapreduce_spark.operators.aggregates import (
        bitmap_distinct_buckets,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    df = (
        bitmap_distinct_buckets(ev)
        .groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bitmap_construct_agg" in plan, plan
    assert "partial_bitmap_construct_agg" in plan, plan
    assert "Expand" not in plan, plan


def test_interval_overlap_is_equi_join_on_bin(spark, sf_dir):
    """join_interval_overlap's keyless-looking overlap predicate must
    plan as a HASH/SORT-MERGE equi-join on the bin key (the residual
    overlap conditions ride as join filters) — never the
    BroadcastNestedLoopJoin a raw interval-overlap theta join plans."""
    plan = plan_of("join_interval_overlap", spark, sf_dir)
    assert "NestedLoop" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_moving_slope_window_is_partitioned(spark, sf_dir):
    """win_moving_slope's frame runs under PARTITION BY event_type —
    a global (unpartitioned) window here would serialize the corpus
    through one task at 100 TB."""
    plan = plan_of("win_moving_slope", spark, sf_dir)
    w = [ln for ln in plan.splitlines() if "Window" in ln]
    assert w, plan
    assert any("event_type" in ln for ln in w), plan
