"""Physical-plan assertions — the shapes that must survive at 100 TB
(map-side partial aggregation, pushed filters, pruned scans, no
stray sorts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
from auto_trade_data_pipeline_spark.sources import load_table, ticks_from_events


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_candle_agg_partial_final_single_exchange(spark, sf_small):
    # Cached fragments from other tests would get substituted into
    # this plan (InMemoryTableScan) and skew the exchange count.
    spark.catalog.clearCache()
    plan = _plan(aggregate_candles(ticks_from_events(spark, sf_small), 1))
    # Partial + final aggregation around exactly one exchange — the
    # shuffle carries only per-(symbol, bucket) partial rows, never
    # raw ticks. (min_by/max_by's struct ordering buffer makes Spark
    # pick SortAggregate over HashAggregate: per-partition sorts on
    # the group key, near-linear on roughly time-ordered ticks, still
    # map-side combined.) A WindowExec here would mean the ordered
    # open/close fell off the aggregate path entirely.
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowExec" not in plan and "Window " not in plan


def test_q1_scan_prunes_and_pushes(spark, sf_med):
    li = load_table(spark, sf_med, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    plan = _plan(li.groupBy("l_returnflag").agg(F.sum("l_quantity")))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # Column pruning: only the 3 referenced columns reach the scan.
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read and "l_returnflag" in read
    assert "l_extendedprice" not in read and "l_orderkey" not in read


def test_partitioned_sink_prunes_time_range_scan(spark, sf_small, tmp_path):
    """The date-partitioned append layout (sinks.write_append_partitioned)
    must make a P5 time-range filter prune whole date directories at
    the scan: the executed plan carries the date bounds as partition
    filters and the scan enumerates only the matching partitions."""
    from auto_trade_data_pipeline_spark.sinks import write_append_partitioned

    path = str(tmp_path / "ticks_by_date")
    write_append_partitioned(ticks_from_events(spark, sf_small), path)

    back = spark.read.parquet(path)
    q = back.filter(
        F.col("timestamp").between("2024-01-08 00:00:00", "2024-01-09 23:59:59")
        & (F.col("date") >= "2024-01-08")
        & (F.col("date") <= "2024-01-09")
    )
    plan = _plan(q)
    part_filters = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "date" in part_filters  # the date bounds reached the partition pruner
    # Pruning has room to matter: the layout actually fanned out.
    n_total = len([p for p in (tmp_path / "ticks_by_date").iterdir() if p.name.startswith("date=")])
    assert n_total > 2
    rows = q.count()
    full = back.filter(
        F.col("timestamp").between("2024-01-08 00:00:00", "2024-01-09 23:59:59")
    ).count()
    assert rows == full  # the derived-date predicate drops no rows


def test_window_family_single_exchange_single_window_op(spark, sf_med):
    """Eight analytic functions over one window spec must collapse to
    ONE Window operator behind ONE exchange — re-shuffling per
    function would multiply the dominant cost at scale."""
    from auto_trade_data_pipeline_spark.corpus.relational import window_function_family

    plan = _plan(window_function_family(spark, sf_med))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_q3_broadcasts_dim_and_takes_ordered_topk(spark, sf_med):
    """TPC-H Q3: the filtered customer dimension must broadcast (no
    fact-sized shuffle for it) and the top-10 must be
    TakeOrderedAndProject (per-partition heads, never a global sort)."""
    from auto_trade_data_pipeline_spark.corpus.relational import tpch_q3_shipping_priority

    plan = _plan(tpch_q3_shipping_priority(spark, sf_med))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_q4_exists_is_semi_join_no_aggregate_dedup(spark, sf_med):
    """The EXISTS must run as a left-semi join (short-circuit on first
    match), not join+distinct — a join+dedup doubles the shuffle."""
    from auto_trade_data_pipeline_spark.corpus.relational import tpch_q4_order_priority

    plan = _plan(tpch_q4_order_priority(spark, sf_med))
    assert "LeftSemi" in plan


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_small, tmp_path):
    """A date-partitioned fact joined on its partition column with a
    FILTERED broadcast dimension must get a dynamic-pruning subquery
    in its PartitionFilters: at 100 TB the fact directories for
    non-qualifying dates are never even listed, driven by a filter
    Spark only learns at runtime from the dim side."""
    from auto_trade_data_pipeline_spark.sinks import write_append_partitioned

    path = str(tmp_path / "ticks_dpp")
    write_append_partitioned(ticks_from_events(spark, sf_small), path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("2024-01-08", 1), ("2024-01-09", 1), ("2024-01-10", 0)],
        "d string, is_settlement int",
    ).select(F.to_date("d").alias("d"), "is_settlement")

    q = (
        fact.join(F.broadcast(dim.filter(F.col("is_settlement") == 1)), fact.date == dim.d)
        .groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(q)
    assert "dynamicpruning" in plan.lower()
    # And the pruned result is still correct.
    want = {
        (r["symbol"], r["n"])
        for r in fact.filter(F.col("date").isin("2024-01-08", "2024-01-09"))
        .groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(r["symbol"], r["n"]) for r in q.collect()} == want


def test_aqe_skew_join_splits_hot_partition(spark):
    """Runtime skew handling, the built-in complement of the manual
    salting operator (operators/skew.py): with AQE skew-join on, a
    hot join key must be SPLIT at runtime (SMJ marked skew=true) —
    no code change, no salting column. Thresholds are scaled to
    test-sized data; production keeps the 256MB-class defaults."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = (
            spark.range(500_000)
            .select(F.lit(0).alias("k"), F.col("id").alias("v"))
            .unionAll(
                spark.range(20_000).select(
                    (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v")
                )
            )
        )
        dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = fact.join(dim, "k").select(F.sum("w").alias("s"))
        [row] = j.collect()
        plan = _plan(j)
        assert "skew=true" in plan
        # Split changes the schedule, never the answer.
        assert row.s == 500_000 * 0 + sum(2 * ((i % 99) + 1) for i in range(20_000))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_med):
    """Runtime Bloom-filter join pruning: a selective dim filter must
    inject a bloom_filter_agg on the dim side and a might_contain
    probe on the FACT side before its shuffle — at 100 TB this drops
    most fact rows at the scan instead of shuffling them. (Scan-size
    threshold lowered for test data; creation-side logic unchanged.)"""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_med, "lineitem")
        o = load_table(spark, sf_med, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count(F.lit(1)).alias("n")
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloomfilter" in opt or "might_contain" in opt
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q5_dimension_chain_broadcasts_and_pushes_dates(spark, sf_med):
    """TPC-H Q5: the region->nation->supplier chain must reach the
    facts as a broadcast (never a fact-sized shuffle for a dimension)
    and the order-year bounds must be scan-level pushed filters, so
    the only hash exchanges left are the lineitem|><|orders join and
    the 5-row nation aggregate."""
    from auto_trade_data_pipeline_spark.corpus.relational import (
        tpch_q5_local_supplier_volume,
    )

    plan = _plan(tpch_q5_local_supplier_volume(spark, sf_med))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q6_all_predicates_pushed_single_row_out(spark, sf_med):
    """TPC-H Q6: every predicate is a scan-level pushed filter and the
    aggregate is partial+final (the shuffle carries one partial row
    per task)."""
    from auto_trade_data_pipeline_spark.corpus.relational import tpch_q6_forecast_revenue

    plan = _plan(tpch_q6_forecast_revenue(spark, sf_med))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed
    assert "partial_sum" in plan or "partial" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_global_rank_has_no_single_partition_exchange(spark, sf_med):
    """Global row_number must never plan Exchange SinglePartition (the
    one-task-owns-everything trap a bare Window.orderBy creates); the
    order is achieved with a parallel range exchange instead."""
    from auto_trade_data_pipeline_spark.corpus.relational import global_rank_orders

    df = global_rank_orders(spark, sf_med)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    # And the result really is the contiguous global order.
    n = df.count()
    agg = df.agg(F.min("row_num"), F.max("row_num"), F.count_distinct("row_num")).first()
    assert (agg[0], agg[1], agg[2]) == (1, n, n)


def test_q19_pushes_quantity_envelope_and_broadcasts_part(spark, sf_med):
    """TPC-H Q19: the factored single-table conjuncts must reach the
    scans — the quantity envelope [1, 30] as a pushed filter on
    lineitem, the brand/size disjunction pruning part before a
    broadcast — with the full OR-of-ANDs applied as a join residual,
    never as a post-join cartesian blow-up."""
    from auto_trade_data_pipeline_spark.corpus.tpch_deep import tpch_q19_disjunctive_revenue

    plan = _plan(tpch_q19_disjunctive_revenue(spark, sf_med))
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    assert "CartesianProduct" not in plan


def test_q21_single_fact_scan_no_self_join(spark, sf_med):
    """Q21's double EXISTS/NOT EXISTS correlation must decorrelate
    into cascaded aggregates over ONE lineitem scan (naive plans scan
    the fact table three times), and the two aggregates must reuse
    the l_orderkey exchange rather than reshuffling."""
    from auto_trade_data_pipeline_spark.corpus.tpch_deep import tpch_q21_waiting_supplier

    spark.catalog.clearCache()
    plan = _plan(tpch_q21_waiting_supplier(spark, sf_med))
    assert plan.count("lineitem.parquet") == 1
    # one exchange for the o_orderkey equi join + one for the
    # (l_orderkey, l_suppkey) aggregate; the per-order re-aggregate
    # is a prefix of the same key so no third fact-sized exchange
    assert plan.count("Exchange hashpartitioning") <= 3


def test_q22_scalar_is_broadcast_and_anti_join(spark, sf_med):
    """Q22: the global average must flow in as a one-row broadcast
    (BroadcastNestedLoopJoin over a single aggregate row — no
    driver collect), and NOT EXISTS must be a left-anti join."""
    from auto_trade_data_pipeline_spark.corpus.tpch_deep import tpch_q22_idle_customers

    plan = _plan(tpch_q22_idle_customers(spark, sf_med))
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_q9_broadcasts_derived_partsupp_and_dims(spark, sf_med):
    """Q9: the derived partsupp (dimension-x-dimension sized) and the
    filtered part/supplier chains must all reach the fact as
    broadcast joins — the lineitem-sized side must never shuffle for
    a dimension. lineitem is scanned once: the fact pass and the
    partsupp derivation both read one cached scan, so counted through
    the cache (however many InMemoryTableScans read it) there is one
    lineitem FileScan; more means a pass lost the reuse."""
    from auto_trade_data_pipeline_spark.corpus.tpch_rest import tpch_q9_product_profit
    from auto_trade_data_pipeline_spark.plan_audit import file_scans

    spark.catalog.clearCache()
    df = tpch_q9_product_profit(spark, sf_med)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert file_scans([df._jdf.queryExecution().executedPlan()])["lineitem.parquet"] == 1
    # the only hash exchanges: partsupp derivation agg, the o_orderkey
    # join, and the final (nation, year) aggregate
    assert plan.count("Exchange hashpartitioning") <= 4


def test_q11_global_fraction_is_one_row_broadcast(spark, sf_med):
    """Q11: the corpus-wide total must join in as a ONE-ROW broadcast
    (BroadcastNestedLoopJoin over the single aggregated row), with the
    per-part values never gathering to a single partition."""
    from auto_trade_data_pipeline_spark.corpus.tpch_rest import tpch_q11_important_stock

    spark.catalog.clearCache()
    plan = _plan(tpch_q11_important_stock(spark, sf_med))
    assert "BroadcastNestedLoopJoin" in plan
    # the one-row total is allowed its SinglePartition gather of
    # partial rows; the part-keyed data path must not have one
    data_path = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange SinglePartition" not in data_path


def test_q18_aggregates_before_joining_customers(spark, sf_med):
    """Q18: the per-order quantity aggregate must run BELOW the
    customer/order joins (the join then carries only qualifying
    orders) — a plan that joins first would shuffle every lineitem
    row against orders."""
    from auto_trade_data_pipeline_spark.corpus.tpch_rest import (
        tpch_q18_large_volume_customers,
    )

    spark.catalog.clearCache()
    plan = _plan(tpch_q18_large_volume_customers(spark, sf_med))
    # the HAVING-gated aggregate feeds the join as a broadcast
    assert plan.count("BroadcastHashJoin") >= 1
    agg_pos = plan.find("partial_sum(l_quantity")
    join_pos = plan.find("BroadcastHashJoin")
    assert agg_pos != -1 and join_pos != -1


def test_span_dedup_no_cartesian_and_hash_only_shuffle(spark, sf_small):
    """Span dedup must never materialize a cross product: the dup-gram
    cut and the position join are both keyed on the 60-bit gram hash,
    and the island merge is a per-doc window — no
    CartesianProduct/BroadcastNestedLoopJoin anywhere, and the gram
    TEXT never reaches an exchange (only the hash does)."""
    from auto_trade_data_pipeline_spark.operators.text import duplicated_spans

    docs = load_table(spark, sf_small, "documents")
    plan = _plan(duplicated_spans(docs, "text", "doc_id", k=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # Every hash exchange partitions on gram_hash or the doc id — the
    # shuffled payload is (id, pos, 8-byte hash), never the gram text.
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, "expected hash exchanges in the span-dedup plan"
    for keys in exchanges:
        assert "gram_hash" in keys or "doc_id" in keys


def test_dsir_ratio_table_broadcasts(spark, sf_small):
    """The B-row bucket ratio table must reach the per-doc join as a
    broadcast — the corpus side is never shuffled by document for the
    scoring join."""
    from auto_trade_data_pipeline_spark.operators.text import dsir_weights

    docs = load_table(spark, sf_small, "documents")
    target = docs.filter(F.col("source") == "src0")
    plan = _plan(dsir_weights(docs, target, "text", "doc_id", buckets=64))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_join_is_cell_keyed(spark):
    """SemDeDup's pairwise stage must be an equi-join ON THE CELL id
    (work confined to cells), never a cartesian over the corpus."""
    from auto_trade_data_pipeline_spark.operators.vectors import semantic_dedup

    rows = [(i, [float(i % 7), 1.0, 0.0, 0.0], i % 3) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cell int")
    plan = _plan(semantic_dedup(df, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "__cell" in plan  # the join key actually is the cell


def test_ivf_cell_partitioned_layout_prunes_unprobed_cells(spark, sf_small, tmp_path):
    """The IVF/IVF-PQ scale claim made concrete: with the corpus laid
    out partitioned by coarse cell, a probe query's cell predicate
    reaches PartitionFilters — unprobed cell directories are never
    read. (At 100 TB this is the difference between scanning nprobe/k
    of the index and scanning all of it.)"""
    from auto_trade_data_pipeline_spark.operators import vectors as VX

    spark.catalog.clearCache()
    emb = load_table(spark, sf_small, "embeddings")
    assigned, _cents = VX.kmeans_cells(emb, k=8, iters=1)
    path = str(tmp_path / "emb_by_cell")
    assigned.write.partitionBy("cell").parquet(path)

    back = spark.read.parquet(path)
    probed = back.filter(F.col("cell").isin(2, 5)).select("vec_id", "embedding")
    plan = _plan(probed)
    part_filters = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "cell" in part_filters  # probe predicate reached the pruner
    import pathlib

    n_cells = len(
        [p for p in pathlib.Path(path).iterdir() if p.name.startswith("cell=")]
    )
    assert n_cells >= 4  # pruning has room to matter
    # and the probe reads exactly the rows of the probed cells
    want = assigned.filter(F.col("cell").isin(2, 5)).count()
    assert probed.count() == want


def test_cms_lookup_broadcasts_the_sketch(spark, sf_small):
    """The CMS grid is KB-sized model state: the probe join must be a
    BroadcastHashJoin (sketch side broadcast), never a shuffle of the
    probed stream."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    plan = _plan(load_all()["cms_heavy_hitters"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_broadcasts_the_segmentation(spark, sf_small):
    """Tokenizer application: the trained word->subtokens table rides
    a broadcast into the corpus scan — the corpus itself never
    shuffles for the encode."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    plan = _plan(load_all()["bpe_encode_stats"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_iteration_has_no_cartesian_blowup(spark):
    """Each PageRank round is ranks |x| edges on the src key plus a
    single-row dangling broadcast; the only cross join allowed is
    that 1-row broadcast."""
    from auto_trade_data_pipeline_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "id_a long, id_b long")
    out = pagerank(nodes, edges, node_col="doc_id", iters=1)
    plan = _plan(out)
    assert "CartesianProduct" not in plan


def test_pattern_query_single_exchange(spark, sf_small):
    """The CEP lag/lead pattern scan rides ONE symbol-keyed exchange:
    every window frame (upticks, trailing avg, lookahead spike) reuses
    the same sort — no re-shuffle between pattern stages."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    plan = _plan(load_all()["pattern_momentum_spike"].fn(spark, sf_small))
    # One KEYED exchange; the round-robin input fan-out
    # (sources.files.fan_out_scan — spreads the single-split testdata
    # scan) is not a pattern-stage re-shuffle and is allowed — but
    # BOUNDED to that one input spread (r9 advice: unbounded, a
    # regression inserting extra non-keyed shuffles would pass
    # silently).
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange roundrobinpartitioning") <= 1, plan
    assert plan.count("Exchange rangepartitioning") == 0, plan


def test_pps_sampling_uses_distributed_prefix_sum(spark, sf_small):
    """The PPS cumulative weight must come from the distributed
    recipe (range exchange + mapInPandas offset attach), never a
    global sum() OVER (ORDER BY ...) window — the plan has a range
    partitioning and NO Window operator. (The one SinglePartition in
    the plan is the 1-row step scalar: each task sends one
    pre-aggregated row, never data — same documented exception as
    tick_quality_report.)"""
    from auto_trade_data_pipeline_spark.corpus import load_all

    plan = _plan(load_all()["pps_sample_docs"].fn(spark, sf_small))
    assert "rangepartitioning" in plan
    assert "MapInPandas" in plan
    assert "Window" not in plan, plan


def test_bucketed_join_is_shuffle_free(spark, sf_small):
    """Both sides written bucketed (8) + sorted on the join key and
    read back: the scan exposes HashPartitioning(8), so the
    SortMergeJoin needs NO Exchange on either side — the co-located
    layout that removes the nightly fact-dim re-shuffle at 100 TB.
    Broadcast is disabled so the assertion exercises the SMJ path the
    layout exists for."""
    import uuid

    from auto_trade_data_pipeline_spark.sources import load_table

    run = uuid.uuid4().hex[:8]
    tc, to = f"plan_bkt_c_{run}", f"plan_bkt_o_{run}"
    load_table(spark, sf_small, "customer").write.bucketBy(8, "c_custkey").sortBy(
        "c_custkey"
    ).mode("overwrite").format("parquet").saveAsTable(tc)
    load_table(spark, sf_small, "orders").write.bucketBy(8, "o_custkey").sortBy(
        "o_custkey"
    ).mode("overwrite").format("parquet").saveAsTable(to)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c, o = spark.table(tc), spark.table(to)
        plan = _plan(c.join(o, c["c_custkey"] == o["o_custkey"]))
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tc}")
        spark.sql(f"DROP TABLE IF EXISTS {to}")


def test_volume_bars_single_exchange(spark, sf_small):
    """The information-bar pipeline (prefix sum -> bar assign -> OHLC
    group) reuses ONE symbol-keyed exchange end-to-end: the running
    total, both tiebreak row_numbers, and the grouped aggregate all
    share the symbol hash partitioning. A second exchange would mean
    the bar grouping re-shuffled what the window already co-located."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    spark.catalog.clearCache()
    plan = _plan(load_all()["volume_bars"].fn(spark, sf_small))
    # One KEYED exchange (see test_pattern_query_single_exchange on
    # why the round-robin input fan-out is allowed and bounded).
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange roundrobinpartitioning") <= 1, plan
    assert plan.count("Exchange rangepartitioning") == 0, plan


def test_triple_barrier_banded_join_no_cartesian(spark, sf_small):
    """The entry-to-future-tick pairing must stay a keyed equi join
    on (symbol, horizon-block) with the interval predicate as a join
    condition — never a cartesian/broadcast-nested-loop explosion
    (the naive |entries| x |ticks| plan)."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    spark.catalog.clearCache()
    plan = _plan(load_all()["triple_barrier_labels"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_parquet_aggregate_pushdown_to_scan(spark, sf_med):
    """Scan-level aggregate pushdown: under the DSv2 parquet reader,
    un-grouped MIN/MAX/COUNT resolve from parquet footer statistics —
    the scan emits per-row-group aggregates instead of rows
    (PushedAggregation in the plan). At 100 TB this answers table
    profiling without reading a single data page. Values must match
    the default (v1) path exactly."""
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    prev_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    agg_cols = lambda df: df.agg(  # noqa: E731
        F.min("o_orderkey").alias("mn"),
        F.max("o_orderkey").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    baseline = agg_cols(spark.read.parquet(f"{sf_med}/orders.parquet")).collect()
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        pushed = agg_cols(spark.read.parquet(f"{sf_med}/orders.parquet"))
        plan = _plan(pushed)
        assert "PushedAggregation: [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]" in plan, plan
        assert pushed.collect() == baseline
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_agg)


def test_pmi_topk_is_take_ordered(spark, sf_small):
    """The PMI top-100 must be a TakeOrderedAndProject (per-partition
    heaps + one k-row gather), never a global Sort of the scored
    collocation set."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    spark.catalog.clearCache()
    plan = _plan(load_all()["pmi_collocations"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [pmi_ppm" not in plan, plan


def test_no_unbounded_single_partition_window_in_corpus(spark, sf_small):
    """Round-5 verdict item 5: the corpus-wide SinglePartition-window
    backstop. A full sweep logs ~160 `WindowExec: No Partition
    Defined` warnings; every one must come from a window whose input
    the plan visibly bounds (aggregate / limit below it —
    dimension-sized at any scale: hourly profiles, histograms, fold
    reports). A SinglePartition window directly over a scan would
    serialize the full table through one task at 100 TB — refused
    here for every BATCH corpus query. Streaming `*_replay` queries
    are excluded HERE (building them executes availableNow streams,
    and their returned frames are plain reads of the replay sink);
    their micro-batch plans are audited by the sibling
    test_no_unbounded_single_partition_window_in_streaming_corpus."""
    from auto_trade_data_pipeline_spark.corpus import load_all
    from auto_trade_data_pipeline_spark.plan_audit import (
        unbounded_single_partition_windows,
    )

    reg = load_all()
    offenders: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, q in reg.items():
        if name.startswith(("stream", "streaming_")):
            continue
        try:
            bad = unbounded_single_partition_windows(q.fn(spark, sf_small))
        except Exception as exc:  # pragma: no cover - audit must name the query
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        if bad:
            offenders[name] = bad
    assert not errors, f"plan audit could not build: {errors}"
    assert not offenders, (
        "SinglePartition windows with unbounded input (full table "
        f"through ONE task at scale): {offenders}"
    )


def test_plan_audit_subquery_aggregate_does_not_whitelist(spark):
    """Round-7 review: the walker descends subquery plans when
    ENUMERATING windows, but a subquery's aggregate must NOT count as
    bounding the outer window's input — a scalar-subquery filter under
    an unpartitioned window still funnels the full table through one
    task."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from auto_trade_data_pipeline_spark.plan_audit import (
        unbounded_single_partition_windows,
    )

    df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    df.createOrReplaceTempView("pa_probe")
    # Scalar subquery (contains HashAggregate) feeding a filter BELOW
    # an unpartitioned window over the raw scan: must be flagged.
    funneled = (
        df.filter(F.col("id") > F.expr("(SELECT avg(id) - 1000 FROM pa_probe)"))
        .withColumn("rn", F.row_number().over(Window.orderBy("id")))
    )
    assert unbounded_single_partition_windows(funneled), (
        "subquery aggregate incorrectly whitelisted an unbounded "
        "SinglePartition window"
    )
    # Control: the same window over a genuine aggregate is whitelisted.
    bounded = (
        df.groupBy("k").count()
        .withColumn("rn", F.row_number().over(Window.orderBy("k")))
    )
    assert unbounded_single_partition_windows(bounded) == []
    # And a window hidden inside a subquery plan is still FOUND.
    spark.catalog.dropTempView("pa_probe")


def test_no_unbounded_single_partition_window_in_streaming_corpus(spark, sf_small):
    """Round-6 verdict item 5: extend the SinglePartition-window
    backstop to the streaming corpus. Every `stream*` replay builder
    runs its stream through a harness that records the audit of the
    LAST micro-batch's IncrementalExecution physical plan
    (plan_audit.STREAMING_AUDIT); this sweep builds every streaming
    corpus query at sf0.001 and asserts each one captured at least one
    micro-batch plan and that every captured plan is funnel-free."""
    from auto_trade_data_pipeline_spark import plan_audit
    from auto_trade_data_pipeline_spark.corpus import load_all

    reg = load_all()
    uncaptured: list[str] = []
    offenders: dict[str, dict[str, list[str]]] = {}
    errors: dict[str, str] = {}
    for name, q in reg.items():
        if not name.startswith(("stream", "streaming_")):
            continue
        plan_audit.STREAMING_AUDIT.clear()
        try:
            q.fn(spark, sf_small)
        except Exception as exc:  # pragma: no cover - audit must name the query
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        if not plan_audit.STREAMING_AUDIT:
            uncaptured.append(name)
            continue
        bad = {k: v for k, v in plan_audit.STREAMING_AUDIT.items() if v}
        if bad:
            offenders[name] = bad
    assert not errors, f"streaming audit could not build: {errors}"
    assert not uncaptured, (
        "streaming corpus queries whose replay harness recorded no "
        f"micro-batch plan audit: {uncaptured}"
    )
    assert not offenders, (
        "SinglePartition windows with unbounded input in streaming "
        f"micro-batch plans: {offenders}"
    )


def test_blocked_evaluator_side_branch_is_pruned_and_precounted(spark, sf_small):
    """Round-6 audit of blocked_copies' offsets side-table: it
    re-traverses the upstream, which is acceptable at 100 TB ONLY
    because Catalyst prunes that branch hard — the second scan must
    read just the group-key columns (ts + event_type here, 2 of 4),
    and the count must partial-aggregate BELOW its exchange so the
    side shuffle carries tiny (symbol, day, count) rows, never data
    rows. (Alternatives measured round 6: persisting the input cost
    +13% at sf0.1 from the cache boundary, and a window-based count
    shuffles full rows — the pruned second pass beats both.)"""
    from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
    from auto_trade_data_pipeline_spark.operators.windows import (
        with_rolling_features_blocked,
    )

    spark.catalog.clearCache()
    candles = aggregate_candles(ticks_from_events(spark, sf_small), 1)
    plan = _plan(with_rolling_features_blocked(candles))
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 2, f"expected main + side scans, got {schemas}"
    pruned = min(schemas, key=lambda s: s.count(","))
    assert set(f.split(":")[0] for f in pruned.split(",")) == {"ts", "event_type"}, (
        f"side-branch scan must prune to the group-key columns, read: {pruned}"
    )
    assert "partial_count" in plan, (
        "side-branch count must map-side combine below its exchange"
    )


def test_round8_queries_broadcast_their_dimension_sides(spark, sf_small):
    """The round-8 additions keep their dimension-sized sides on the
    broadcast path: boilerplate's flagged-span sets (sources-sized),
    Neyman's allocation table, and the cluster audit's sizes join —
    none may shuffle the document-sized side against a dimension."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    spark.catalog.clearCache()
    reg = load_all()
    for name, n_bcast in (
        ("boilerplate_span_report", 1),
        ("stratified_neyman_sample", 2),  # total-weight + allocation joins
    ):
        plan = _plan(reg[name].fn(spark, sf_small))
        assert plan.count("BroadcastHashJoin") + plan.count(
            "BroadcastNestedLoopJoin"
        ) >= n_bcast, f"{name}: expected >= {n_bcast} broadcast joins\n{plan[:2000]}"
        assert "CartesianProduct" not in plan, name


def test_sequence_packing_single_shuffle(spark, sf_small):
    """Doc-atomic packing is one collect_list per source: exactly one
    shuffle exchange below the scan (plus AQE reads), never a
    SinglePartition collapse."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    spark.catalog.clearCache()
    plan = _plan(load_all()["sequence_packing"].fn(spark, sf_small))
    assert "SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_round9_queries_plan_shapes(spark, sf_small):
    """Round-9 additions keep their scale contracts: semantic
    contamination broadcasts the quantizer/probe dimension sides with
    no cartesian and no SinglePartition funnel (its windows partition
    by eval_id/train_id); packing_efficiency adds only a
    map-side-combinable source agg on top of the packing fold (no
    SinglePartition, no cartesian)."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    spark.catalog.clearCache()
    reg = load_all()

    plan = _plan(reg["semantic_contamination"].fn(spark, sf_small))
    assert (
        plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    ), plan[:2000]
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan, (
        "per-vector windows must partition by key, never collapse"
    )

    plan = _plan(reg["packing_efficiency"].fn(spark, sf_small))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan, "source agg must map-side combine"

    # Sharded packing: the corpus-sized side shuffles only for the
    # (source, shard) fold; the offsets ride a dimension-sized frame
    # back via a broadcast join. Its only ordering window is the
    # (sources x shards)-sized prefix sum — never the corpus.
    plan = _plan(reg["sequence_packing_sharded"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:2000]

    # Cluster-aware split: pair-list joins and hash expressions only —
    # nothing all-pairs, no ordering funnel anywhere (the split is a
    # pure per-row hash of the CC label, recomputable by any worker).
    plan = _plan(reg["cluster_aware_split"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan, plan[:2000]

    # KMV quantile sketch: both windows partition by event_type (no
    # SinglePartition funnel); the group-count and exact-percentile
    # dimension frames ride broadcast joins.
    plan = _plan(reg["kmv_quantile_sketch"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
