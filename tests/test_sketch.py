"""KMV bottom-k sketch invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.sketch import (
    KMV_SPACE,
    kmv_estimate,
    kmv_pair_overlap,
    kmv_sketch,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, "event_type string, user_id long")


def test_kmv_merge_property_and_estimate(spark):
    """The load-bearing sketch property: bottom-k of a union equals
    bottom-k of the merged per-part sketches (mergeability — what
    makes the sketch map-side combinable); small sets are exact."""
    rows_a = [("a", i) for i in range(300)]
    rows_b = [("b", i) for i in range(150, 450)]
    df = _events(spark, rows_a + rows_b)
    k = 32

    sk = kmv_sketch(df, "event_type", "user_id", k=k)
    # merged union sketch from the two sketches only
    union_from_sketches = sorted(
        r.hv for r in sk.select("hv").distinct().orderBy("hv").limit(k).collect()
    )
    # ground truth: sketch of the union set
    u = _events(spark, [("u", i) for i in range(450)])
    union_direct = sorted(
        r.hv for r in kmv_sketch(u, "event_type", "user_id", k=k).collect()
    )
    assert union_from_sketches == union_direct

    # estimates: within a loose multiplicative band (k=32 -> ~18% sd)
    est = {r.event_type: r.est_distinct for r in kmv_estimate(sk, "event_type", k=k).collect()}
    assert 150 <= est["a"] <= 600 and 150 <= est["b"] <= 600

    # small group is exact
    small = _events(spark, [("s", i) for i in range(10)])
    sk_s = kmv_sketch(small, "event_type", "user_id", k=k)
    est_s = kmv_estimate(sk_s, "event_type", k=k).collect()[0]
    assert est_s.sketch_n == 10 and est_s.est_distinct == 10.0


def test_kmv_pair_overlap_jaccard_sane(spark):
    """Overlap estimates from sketches alone: disjoint pairs estimate
    ~zero intersection; heavily overlapping pairs estimate a Jaccard
    well above the disjoint pair's."""
    rows = (
        [("a", i) for i in range(400)]
        + [("b", i) for i in range(200, 600)]   # ~33% Jaccard with a
        + [("c", i) for i in range(10_000, 10_400)]  # disjoint from both
    )
    df = _events(spark, rows)
    sk = kmv_sketch(df, "event_type", "user_id", k=64)
    out = {(r.group_a, r.group_b): r for r in kmv_pair_overlap(sk, "event_type", k=64).collect()}
    assert out[("a", "c")].jaccard_est <= 0.05
    assert out[("b", "c")].jaccard_est <= 0.05
    assert out[("a", "b")].jaccard_est > out[("a", "c")].jaccard_est + 0.1


def test_streaming_kmv_multibatch_equals_batch(spark, tmp_path):
    """Multi-batch replay parity: two micro-batches of disjoint-ish
    user sets merge in keyed state to EXACTLY the batch sketch of the
    union — the mergeability property, live in Structured Streaming."""
    import uuid as _uuid

    from auto_trade_data_pipeline_spark.streaming.sketch import streaming_kmv_sketch

    d = str(tmp_path / "ev")
    part1 = spark.createDataFrame(
        [(i, i, "a") for i in range(200)], "event_id long, user_id long, event_type string"
    )
    part2 = spark.createDataFrame(
        [(i, i + 150, "a") for i in range(200)],
        "event_id long, user_id long, event_type string",
    )
    part1.coalesce(1).write.mode("append").parquet(d)
    part2.coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    vals = stream.select("event_type", F.col("user_id").cast("string").alias("v"))
    name = f"t_kmv_{_uuid.uuid4().hex[:8]}"
    q = (
        streaming_kmv_sketch(vals, "event_type", k=32)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).orderBy("updates").collect()
    assert rows[-1].updates >= 2  # genuinely multiple micro-batches
    final = rows[-1]

    batch = spark.createDataFrame(
        [("a", i) for i in range(350)], "event_type string, user_id long"
    )
    bsk = kmv_sketch(batch, "event_type", "user_id", k=32).orderBy("hv").collect()
    assert final.sketch_n == 32
    assert final.kth_hv == bsk[31].hv


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def _items(spark, words):
    return spark.createDataFrame([(w,) for w in words], "tok string")


def test_cms_never_underestimates_and_is_tight_when_sparse(spark):
    from auto_trade_data_pipeline_spark.operators.sketch import cms_lookup, cms_sketch

    words = ["apple"] * 40 + ["pear"] * 7 + ["plum"] * 1 + ["fig"] * 13
    df = _items(spark, words)
    cms = cms_sketch(df, "tok", depth=4, width=256)
    exact = df.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    out = cms_lookup(cms, exact, "tok", depth=4, width=256).collect()
    got = {r.tok: (r.exact_cnt, r.cms_est) for r in out}
    for tok, (ex, est) in got.items():
        assert est >= ex, tok  # CMS can only overcount
    # 4 distinct items in a 4x256 grid: no collisions, estimates exact.
    assert all(est == ex for ex, est in got.values())


def test_cms_merge_is_cellwise_sum(spark):
    """Sketch(A ++ B) == cellwise sum of Sketch(A) and Sketch(B) —
    the mergeability that makes CMS map-side combinable and
    cross-shard aggregable."""
    from auto_trade_data_pipeline_spark.operators.sketch import cms_sketch

    a = ["x"] * 5 + ["y"] * 3
    b = ["y"] * 4 + ["z"] * 2
    whole = {
        (r.r, r.bucket): r.c
        for r in cms_sketch(_items(spark, a + b), "tok", depth=3, width=64).collect()
    }
    merged: dict = {}
    for part in (a, b):
        for r in cms_sketch(_items(spark, part), "tok", depth=3, width=64).collect():
            merged[(r.r, r.bucket)] = merged.get((r.r, r.bucket), 0) + r.c
    assert whole == merged


def test_cms_absent_item_estimates_zero_when_cell_empty(spark):
    from auto_trade_data_pipeline_spark.operators.sketch import cms_lookup, cms_sketch

    cms = cms_sketch(_items(spark, ["only"] * 9), "tok", depth=4, width=512)
    probe = _items(spark, ["missing"]).withColumn("exact_cnt", F.lit(0))
    [row] = cms_lookup(cms, probe, "tok", depth=4, width=512).collect()
    assert row.cms_est == 0


def test_streaming_cms_multibatch_equals_batch(spark, tmp_path):
    """Streaming CMS parity: the replayed keyed state after N
    micro-batches equals the batch sketch of the union, cell for
    cell — exact cellwise-addition mergeability, live in Structured
    Streaming."""
    import uuid as _uuid

    from auto_trade_data_pipeline_spark.operators.sketch import (
        cms_bucket_array,
        cms_sketch,
    )
    from auto_trade_data_pipeline_spark.streaming.sketch import streaming_cms_sketch

    d = str(tmp_path / "docs")
    words1 = ["alpha"] * 9 + ["beta"] * 4 + ["gamma"] * 2
    words2 = ["beta"] * 6 + ["delta"] * 3
    spark.createDataFrame([(w,) for w in words1], "tok string").coalesce(1).write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame([(w,) for w in words2], "tok string").coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema("tok string").option("maxFilesPerTrigger", 1).parquet(d)
    )
    pairs = stream.select(
        F.explode(cms_bucket_array("tok", 3, 64)).alias("rb")
    ).select(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    name = f"t_cms_{_uuid.uuid4().hex[:8]}"
    q = (
        streaming_cms_sketch(pairs)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    assert out.agg(F.max("updates")).first()[0] >= 2  # multiple micro-batches
    from pyspark.sql.window import Window as W

    latest = (
        out.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("r", "bucket").orderBy(F.col("updates").desc())),
        )
        .filter(F.col("rn") == 1)
    )
    streamed = {(r.r, r.bucket): r.c for r in latest.collect()}
    both = spark.createDataFrame([(w,) for w in words1 + words2], "tok string")
    batch = {
        (r.r, r.bucket): r.c for r in cms_sketch(both, "tok", depth=3, width=64).collect()
    }
    assert streamed == batch


def test_streaming_cms_restart_carries_state(spark, tmp_path):
    """TRUE restart for the CMS state: two availableNow runs share one
    checkpoint through a foreachBatch parquet sink; the second run
    resumes the counter cells, so the final state equals the batch
    sketch of everything."""
    from auto_trade_data_pipeline_spark.operators.sketch import (
        cms_bucket_array,
        cms_sketch,
    )
    from auto_trade_data_pipeline_spark.streaming.sketch import streaming_cms_sketch

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    part1 = ["alpha"] * 6 + ["beta"] * 2
    part2 = ["alpha"] * 3 + ["gamma"] * 5

    def run():
        stream = spark.readStream.schema("tok string").parquet(src)
        pairs = stream.select(
            F.explode(cms_bucket_array("tok", 3, 64)).alias("rb")
        ).select(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            streaming_cms_sketch(pairs)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([(w,) for w in part1], "tok string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    spark.createDataFrame([(w,) for w in part2], "tok string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    from pyspark.sql.window import Window as W

    out = spark.read.parquet(out_dir)
    latest = (
        out.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("r", "bucket").orderBy(F.col("updates").desc())
            ),
        )
        .filter(F.col("rn") == 1)
    )
    streamed = {(r.r, r.bucket): r.c for r in latest.collect()}
    both = spark.createDataFrame([(w,) for w in part1 + part2], "tok string")
    batch = {
        (r.r, r.bucket): r.c for r in cms_sketch(both, "tok", depth=3, width=64).collect()
    }
    assert streamed == batch


def test_kmv_distinct_sketch_agrees_with_kmv_estimate_at_k(spark, tmp_path):
    """At 63, 64 and 65 distinct users the corpus query's estimate is
    ``kmv_estimate``'s (exact only below k = 64 retained hashes) and
    hash-equal to its DuckDB oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from auto_trade_data_pipeline_spark.corpus.events_analytics import (
        _KMV_ORACLE,
        kmv_distinct_sketch,
    )
    from tools.verify_local import table_hash

    groups = {"g63": 63, "g64": 64, "g65": 65}
    rows = [(g, u) for g, n in groups.items() for u in range(n)]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([0] * len(rows), pa.timestamp("us")),
            "user_id": pa.array([u for _, u in rows], pa.int64()),
            "event_type": [g for g, _ in rows],
            "value": pa.array([1.0] * len(rows)),
            "props": ["{}"] * len(rows),
        }),
        tmp_path / "events.parquet",
    )
    got = kmv_distinct_sketch(spark, str(tmp_path))
    by_group = {r.event_type: r for r in got.collect()}
    assert {g: r.k_used for g, r in by_group.items()} == {"g63": 63, "g64": 64, "g65": 64}
    assert by_group["g63"].est_distinct == 63.0
    est = kmv_estimate(kmv_sketch(_events(spark, rows), "event_type", "user_id"), "event_type")
    assert {g: r.est_distinct for g, r in by_group.items()} == {
        r.event_type: r.est_distinct for r in est.collect()
    }

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    oracle = con.sql(_KMV_ORACLE)
    srows = [tuple(r) for r in got.collect()]
    assert table_hash(srows, got.columns) == table_hash(oracle.fetchall(), oracle.columns)
