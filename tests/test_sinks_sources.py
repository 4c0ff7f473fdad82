"""Sinks (S5/S7/S9 write side), P9 projection, REST source (S1-S3)."""

from __future__ import annotations

from datetime import date, datetime

import pytest

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.projection import (
    DEFAULT_COLUMNS,
    initialize_output_columns,
)
from auto_trade_data_pipeline_spark.operators.validation import tick_valid_predicate
from auto_trade_data_pipeline_spark.sinks import (
    write_append,
    write_split,
    write_upsert_snapshot,
)
from auto_trade_data_pipeline_spark.sources.rest import (
    RateLimiter,
    fetch_trades,
    trading_day_plan,
    with_retry,
)

TICKS = "symbol string, timestamp timestamp, price double, volume double, tick_id long"


def _ticks(spark, rows):
    return spark.createDataFrame(
        [(s, datetime(2024, 1, 2, 15, 0, i), float(p), float(v), i) for s, p, v, i in rows],
        TICKS,
    )


def test_write_append_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _ticks(spark, [("A", 10, 5, 1), ("B", 11, 6, 2)])
    write_append(df, path)
    write_append(df, path)
    assert spark.read.parquet(path).count() == 4


def test_upsert_snapshot_idempotent_and_keeps_last(spark, tmp_path):
    path = str(tmp_path / "merged")
    first = _ticks(spark, [("A", 10, 5, 1), ("A", 11, 6, 2)])
    write_upsert_snapshot(first, path, ["symbol", "timestamp"], "tick_id")
    # Same (symbol, timestamp) keys, higher tick_id -> replaces; run
    # twice -> idempotent.
    second = spark.createDataFrame(
        [
            ("A", datetime(2024, 1, 2, 15, 0, 1), 99.0, 5.0, 11),
            ("A", datetime(2024, 1, 2, 15, 0, 2), 98.0, 6.0, 12),
        ],
        TICKS,
    )
    write_upsert_snapshot(second, path, ["symbol", "timestamp"], "tick_id")
    write_upsert_snapshot(second, path, ["symbol", "timestamp"], "tick_id")
    out = spark.read.parquet(path).orderBy("timestamp").collect()
    assert [r["price"] for r in out] == [99.0, 98.0]


def test_upsert_snapshot_uri_path_swaps_and_cleans_up(spark, tmp_path):
    """The Hadoop-FS arm (URI paths): the swap must publish the merged
    snapshot, check every rename result (round-5 advice — Hadoop
    rename reports failure by returning false), and leave no staging
    or backup residue behind."""
    path = f"file://{tmp_path}/merged_uri"
    first = _ticks(spark, [("A", 10, 5, 1), ("A", 11, 6, 2)])
    write_upsert_snapshot(first, path, ["symbol", "timestamp"], "tick_id")
    second = spark.createDataFrame(
        [("A", datetime(2024, 1, 2, 15, 0, 1), 99.0, 5.0, 11)], TICKS
    )
    write_upsert_snapshot(second, path, ["symbol", "timestamp"], "tick_id")
    out = spark.read.parquet(path).orderBy("timestamp").collect()
    assert [r["price"] for r in out] == [99.0, 11.0]
    residue = [
        p.name
        for p in tmp_path.iterdir()
        if p.name.startswith("merged_uri.__")
    ]
    assert residue == []


def test_write_split_single_pass_partitions(spark, tmp_path):
    root = str(tmp_path / "split")
    df = _ticks(spark, [("A", 10, 5, 1), ("A", -1, 5, 2), ("A", 11, -2, 3)])
    valid_dir, invalid_dir = write_split(df, tick_valid_predicate(), root)
    assert spark.read.parquet(valid_dir).count() == 1
    assert spark.read.parquet(invalid_dir).count() == 2


def test_initialize_output_columns_defaults(spark):
    df = _ticks(spark, [("A", 10, 5, 1)]).withColumn("adx", F.lit(7.0))
    out = initialize_output_columns(df)
    row = out.first()
    assert len(DEFAULT_COLUMNS) == 47 + 59
    assert row["adx"] == 7.0  # present column untouched
    assert row["is_no_trend"] == 1.0
    assert row["CDLDOJI"] == 0.0 and row["t3"] == 0.0


def test_rate_limiter_sliding_window():
    clock = {"t": 0.0}
    slept = []

    def sleep(s):
        slept.append(s)
        clock["t"] += s

    rl = RateLimiter(2, 60, clock=lambda: clock["t"], sleep=sleep)
    assert rl.acquire() == 0.0
    clock["t"] += 1
    assert rl.acquire() == 0.0
    assert rl.acquire() == pytest.approx(59.0)  # waits for slot 1 to age out
    assert sum(slept) == pytest.approx(59.0)


def test_with_retry_backoff_then_raises():
    sleeps = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("boom")
        return {"ok": True}

    assert with_retry(flaky, sleep=sleeps.append) == {"ok": True}
    assert sleeps == [1.0, 2.0]

    def always():
        raise RuntimeError("nope")

    with pytest.raises(RuntimeError):
        with_retry(always, max_attempts=3, sleep=sleeps.append)
    assert sleeps[-2:] == [1.0, 2.0]


def test_trading_day_plan_drops_weekends(spark):
    plan = trading_day_plan(spark, ["NVDA"], date(2024, 1, 5), date(2024, 1, 9))
    days = sorted(str(r["date"]) for r in plan.collect())
    # Fri 5th, Mon 8th, Tue 9th — the 6th/7th weekend dropped.
    assert days == ["2024-01-05", "2024-01-08", "2024-01-09"]


def test_fetch_trades_paginates_with_fake_client(spark):
    pages = {}

    def fake_fetch(symbol, date_iso, limit, skip):
        pages.setdefault((symbol, date_iso), 0)
        pages[(symbol, date_iso)] += 1
        if skip >= 4:
            return {"t": [], "p": [], "v": []}
        base = 1_704_207_600_000 + skip * 1000
        return {"t": [base, base + 500], "p": [10.0 + skip, 11.0 + skip], "v": [1.0, 2.0]}

    plan = trading_day_plan(spark, ["NVDA"], date(2024, 1, 2), date(2024, 1, 2))
    out = fetch_trades(plan, fetch_fn=fake_fetch, batch_size=2).collect()
    assert len(out) == 4  # two pages of two rows, then the empty page
    assert {r["symbol"] for r in out} == {"NVDA"}
    assert sorted(r["tick_id"] for r in out) == [0, 1, 2, 3]


def test_columnar_pages_to_rows_declarative(spark):
    from auto_trade_data_pipeline_spark.sources.rest import columnar_pages_to_rows

    pages = spark.createDataFrame(
        [
            ("NVDA", 0, [1_704_207_600_000, 1_704_207_600_500], [10.0, 11.0], [1.0, 2.0]),
            ("NVDA", 2, [1_704_207_601_000], [12.0], [3.0]),
        ],
        "symbol string, skip long, t array<bigint>, p array<double>, v array<double>",
    )
    rows = columnar_pages_to_rows(pages).orderBy("tick_id").collect()
    assert [r["tick_id"] for r in rows] == [0, 1, 2]
    assert [r["price"] for r in rows] == [10.0, 11.0, 12.0]
    assert rows[0]["timestamp"].microsecond == 0 and rows[1]["timestamp"].microsecond == 500000


def test_asof_join_property_vs_bruteforce(spark):
    """Property check: asof_join == per-row argmax of right rows at or
    before each left row, over a randomized fixture."""
    import numpy as np
    from datetime import datetime, timedelta

    from auto_trade_data_pipeline_spark.operators.joins import asof_join

    rng = np.random.default_rng(9)
    base = datetime(2024, 1, 2, 15, 0, 0)
    left_rows = [
        ("S", base + timedelta(seconds=int(s)), i)
        for i, s in enumerate(sorted(rng.integers(0, 300, 40)))
    ]
    right_rows = [
        ("S", base + timedelta(seconds=int(s)), float(i))
        for i, s in enumerate(sorted(rng.integers(0, 300, 15)))
    ]
    left = spark.createDataFrame(left_rows, "symbol string, timestamp timestamp, id int")
    right = spark.createDataFrame(right_rows, "symbol string, timestamp timestamp, px double")
    got = {r["id"]: r["px"] for r in asof_join(left, right, on=["symbol"]).collect()}
    for _, lts, lid in left_rows:
        eligible = [(rts, px) for _, rts, px in right_rows if rts <= lts]
        want = max(eligible)[1] if eligible else None
        assert got[lid] == want, (lid, got[lid], want)


def test_sql_register_views_covers_all_tables(spark, sf_small):
    from auto_trade_data_pipeline_spark import sql as S

    views = S.register_views(spark, sf_small)
    assert "ticks" in views and len(views) == 11
    got = S.sql(spark, sf_small, "SELECT count(*) AS n FROM ticks").first().n
    assert got > 0
    # Views are queryable with pushdown intact (scan, not a snapshot).
    plan = spark.sql(
        "SELECT symbol FROM ticks WHERE symbol = 'click'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" in plan


def test_compact_table_merges_small_files_preserving_rows(spark, sf_small, tmp_path):
    from auto_trade_data_pipeline_spark.sinks import compact_table, write_append

    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    path = str(tmp_path / "frag")
    ticks = ticks_from_events(spark, sf_small)
    # Fragment: two appends of 32 files each.
    write_append(ticks.repartition(32), path)
    write_append(ticks.repartition(32), path)
    import glob

    before = len(glob.glob(f"{path}/part-*.parquet"))
    assert before >= 64
    n_rows = spark.read.parquet(path).count()
    chk = spark.read.parquet(path).agg(
        F.sum(F.xxhash64("symbol", "timestamp", "tick_id").cast("decimal(38,0)"))
    ).first()[0]

    got = compact_table(spark, path, target_bytes=1 << 30, order_cols=["symbol", "timestamp"])
    after = len(glob.glob(f"{path}/part-*.parquet"))
    assert got == 1 and after == 1
    back = spark.read.parquet(path)
    assert back.count() == n_rows
    assert back.agg(
        F.sum(F.xxhash64("symbol", "timestamp", "tick_id").cast("decimal(38,0)"))
    ).first()[0] == chk


def test_compact_table_sizes_output_from_bytes(spark, sf_small, tmp_path):
    from auto_trade_data_pipeline_spark.sinks import compact_table, write_append

    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    path = str(tmp_path / "frag2")
    write_append(ticks_from_events(spark, sf_small).repartition(16), path)
    import glob
    import os

    total = sum(os.path.getsize(f) for f in glob.glob(f"{path}/part-*.parquet"))
    target = max(total // 3, 1)
    got = compact_table(spark, path, target_bytes=target)
    assert got == -(-total // target)
    assert len(glob.glob(f"{path}/part-*.parquet")) == got


def test_csv_tick_roundtrip_reference_format(spark, sf_small, tmp_path):
    """S4 CSV path: ticks written in the reference's CSV layout
    (string timestamps 'yyyy-MM-dd HH:mm:ss.SSSSSS UTC') read back
    schema-asserted and value-identical to the parquet-sourced frame."""
    from auto_trade_data_pipeline_spark.sources import ticks_from_events
    from auto_trade_data_pipeline_spark.sources.files import read_ticks

    ticks = ticks_from_events(spark, sf_small)
    path = str(tmp_path / "ticks_csv")
    (
        ticks.select(
            "symbol",
            F.concat(
                F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit(" UTC")
            ).alias("timestamp"),
            "price",
            "volume",
            "tick_id",
        )
        .write.option("header", True)
        .mode("overwrite")
        .csv(path)
    )
    back = read_ticks(spark, path, fmt="csv")
    assert back.schema == ticks.schema
    a = {r.tick_id: (r.symbol, r.timestamp, r.price, r.volume) for r in ticks.collect()}
    b = {r.tick_id: (r.symbol, r.timestamp, r.price, r.volume) for r in back.collect()}
    assert a == b


def test_compact_table_preserves_partitioned_layout(spark, sf_small, tmp_path):
    import glob

    from auto_trade_data_pipeline_spark.sinks import (
        compact_table,
        write_append_partitioned,
    )
    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    path = str(tmp_path / "part_frag")
    ticks = ticks_from_events(spark, sf_small).repartition(8)
    write_append_partitioned(ticks, path)
    write_append_partitioned(ticks, path)
    n_dirs = len(glob.glob(f"{path}/date=*"))
    assert n_dirs > 2
    n_rows = spark.read.parquet(path).count()

    # Refuses to flatten a partitioned layout.
    with pytest.raises(ValueError, match="partition_by"):
        compact_table(spark, path, target_bytes=1 << 30)

    compact_table(spark, path, target_bytes=1 << 30, partition_by=["date"])
    assert len(glob.glob(f"{path}/date=*")) == n_dirs  # layout intact
    back = spark.read.parquet(path)
    assert back.count() == n_rows
    assert len(glob.glob(f"{path}/date=*/part-*.parquet")) == n_dirs  # 1 file each


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource form of the REST source (format("trade_rest"))
# ---------------------------------------------------------------------------


def _register_trade_rest(spark):
    from auto_trade_data_pipeline_spark.sources.pyds import TickRestDataSource

    spark.dataSource.register(TickRestDataSource)


def test_trade_rest_datasource_grid_and_weekends(spark):
    """One partition per (symbol, weekday); NY weekends never fetch.
    Jan 4-9 2024 spans Sat 6 / Sun 7 -> 4 trading days."""
    _register_trade_rest(spark)
    df = (
        spark.read.format("trade_rest")
        .option("symbols", "NVDA,AAPL")
        .option("start", "2024-01-04")
        .option("end", "2024-01-09")
        .load()
    )
    assert df.count() == 2 * 4 * 100
    days = {r["d"] for r in df.select(F.to_date("timestamp").alias("d")).distinct().collect()}
    assert {d.isoweekday() for d in days} <= {1, 2, 3, 4, 5}


def test_trade_rest_pagination_invariant(spark):
    """The result must be IDENTICAL whatever the page size — the
    skip/limit pagination loop is an implementation detail."""
    _register_trade_rest(spark)

    def rows(batch):
        return sorted(
            map(
                tuple,
                spark.read.format("trade_rest")
                .option("symbols", "NVDA")
                .option("start", "2024-01-08")
                .option("end", "2024-01-08")
                .option("batch_size", str(batch))
                .load()
                .collect(),
            )
        )

    assert rows(7) == rows(1000)
    assert len(rows(7)) == 100


def test_trade_rest_matches_mapinpandas_fetch(spark):
    """The DataSource form and the mapInPandas fetch_trades form must
    produce the same ticks from the same provider."""
    import datetime as dt

    from auto_trade_data_pipeline_spark.sources.pyds import synthetic_fetch
    from auto_trade_data_pipeline_spark.sources.rest import fetch_trades, trading_day_plan

    _register_trade_rest(spark)
    ds = (
        spark.read.format("trade_rest")
        .option("symbols", "NVDA")
        .option("start", "2024-01-08")
        .option("end", "2024-01-09")
        .load()
    )
    plan = trading_day_plan(spark, ["NVDA"], dt.date(2024, 1, 8), dt.date(2024, 1, 9))
    mp = fetch_trades(plan, fetch_fn=synthetic_fetch)
    assert sorted(map(tuple, ds.collect())) == sorted(map(tuple, mp.collect()))


def test_trade_rest_missing_options_fail_loudly(spark):
    _register_trade_rest(spark)
    with pytest.raises(Exception, match="symbols"):
        (
            spark.read.format("trade_rest")
            .option("start", "2024-01-08")
            .option("end", "2024-01-09")
            .load()
            .count()
        )


def test_trade_rest_stream_offsets_skip_weekends_and_park():
    """Offset progression is pure driver-side logic: one trading day
    per batch, weekends skipped, offset parked past `end`."""
    from auto_trade_data_pipeline_spark.sources.pyds import _TickRestStreamReader

    r = _TickRestStreamReader(
        {"symbols": "NVDA", "start": "2024-01-05", "end": "2024-01-08", "batch_size": "40"}
    )
    off = r.initialOffset()
    assert off == {"next_day": "2024-01-05"}
    rows1, off = r.read(off)
    assert len(rows1) == 100 and off == {"next_day": "2024-01-06"}
    assert {t.date().isoformat() for _, t, *_ in rows1} == {"2024-01-05"}
    rows2, off = r.read(off)  # Sat 6 + Sun 7 skipped -> Mon 8
    assert {t.date().isoformat() for _, t, *_ in rows2} == {"2024-01-08"}
    assert off == {"next_day": "2024-01-09"}
    rows3, off2 = r.read(off)  # past end: empty, offset parked
    assert rows3 == [] and off2 == off


def test_trade_rest_stream_replay_is_exact():
    """readBetweenOffsets must reproduce a committed batch exactly —
    the replay contract checkpoint recovery depends on."""
    from auto_trade_data_pipeline_spark.sources.pyds import _TickRestStreamReader

    r = _TickRestStreamReader(
        {"symbols": "NVDA,AAPL", "start": "2024-01-08", "end": "2024-01-09"}
    )
    start = r.initialOffset()
    rows, end = r.read(start)
    assert list(r.readBetweenOffsets(start, end)) == rows


def test_trade_rest_stream_drains_to_batch_parity(spark):
    """A continuous-trigger run over the whole date range must land
    exactly the batch read's rows."""
    import time

    _register_trade_rest(spark)
    opts = {"symbols": "NVDA,AAPL", "start": "2024-01-04", "end": "2024-01-09"}
    reader = spark.readStream.format("trade_rest")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName("t_rest_stream")
        .outputMode("append")
        .start()
    )
    batch_reader = spark.read.format("trade_rest")
    for k, v in opts.items():
        batch_reader = batch_reader.option(k, v)
    want = sorted(map(tuple, batch_reader.load().collect()))
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.table("t_rest_stream").count() >= len(want):
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert sorted(map(tuple, spark.table("t_rest_stream").collect())) == want


def test_schema_evolution_merge_read(spark, tmp_path):
    """Files written under v1 (3 cols) and v2 (v1 + quality double)
    merge into one frame; v1 rows surface the late-added column as
    null (or the declared default); unexpected columns and type drift
    fail loudly."""
    import pytest as _pytest

    from auto_trade_data_pipeline_spark.sources.files import read_evolved

    d = str(tmp_path / "evolved")
    v1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, sym string, price double"
    )
    v2 = spark.createDataFrame(
        [(3, "c", 3.0, 0.9)], "id long, sym string, price double, quality double"
    )
    v1.coalesce(1).write.mode("append").parquet(d)
    v2.coalesce(1).write.mode("append").parquet(d)

    out = read_evolved(
        spark,
        d,
        expected_schema="id long, sym string, price double, quality double",
        fill_defaults={"quality": -1.0},
    )
    rows = {r.id: (r.sym, r.price, r.quality) for r in out.collect()}
    assert rows == {1: ("a", 1.0, -1.0), 2: ("b", 2.0, -1.0), 3: ("c", 3.0, 0.9)}

    # Unexpected column -> loud failure.
    with _pytest.raises(ValueError, match="unexpected column"):
        read_evolved(spark, d, expected_schema="id long, sym string, price double")

    # Type drift (price declared int) -> loud failure.
    with _pytest.raises(ValueError, match="type drift"):
        read_evolved(
            spark, d,
            expected_schema="id long, sym string, price int, quality double",
        )


def test_fan_out_scan_reads_node_classes_not_plan_text(spark, tmp_path):
    """A raw parquet scan whose column and path names contain operator
    words passes the raw-scan guard; an aggregate, a join, a sort or a
    cached aggregate over that scan is still refused."""
    from auto_trade_data_pipeline_spark.sources import fan_out_scan

    path = str(tmp_path / "Join_Sort_Window")
    spark.createDataFrame(
        [(1, 2.0), (2, 3.0)], "JoinKey int, Aggregate double"
    ).write.parquet(path)
    raw = spark.read.parquet(path)
    assert sorted(tuple(r) for r in fan_out_scan(raw).collect()) == [(1, 2.0), (2, 3.0)]
    cached = raw.groupBy("JoinKey").count().cache()
    try:
        for shuffled in (
            raw.groupBy("JoinKey").count(),
            raw.join(raw.select("JoinKey"), "JoinKey"),
            raw.orderBy("Aggregate"),
            cached.select("JoinKey"),
        ):
            with pytest.raises(ValueError, match="expects a raw scan"):
                fan_out_scan(shuffled)
    finally:
        cached.unpersist()
