"""Anchor state machine — daily triggers, replacement, flush, dedup,
the anchored VWAP (filled by the kernel and by the cogroup fill), and
the DST boundary (SURVEY §7 hard-part 4)."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.anchors import (
    anchored_vwap_points,
    fill_anchored_vwap,
)

CANDLE_SCHEMA = (
    "symbol string, timestamp timestamp, open double, high double, low double,"
    " close double, volume double, number_of_trades long, vwap double"
)


def _bar(sym, ts, o, h, l, c, v=100.0):  # noqa: E741
    return (sym, ts, float(o), float(h), float(l), float(c), float(v), 1, float(c))


def test_daily_930_trigger_and_high_replacement(spark):
    # NY 2024-01-02 (EST, UTC-5): 09:30 NY == 14:30 UTC.
    base = datetime(2024, 1, 2, 14, 29, 0)
    rows = [
        _bar("S", base, 10, 10.5, 9.9, 10.2),                          # 09:29 NY
        _bar("S", base + timedelta(minutes=1), 10.2, 10.6, 10.0, 10.4),  # 09:30 -> anchor
        _bar("S", base + timedelta(minutes=2), 10.4, 11.0, 9.5, 10.9),   # new day high AND low
    ]
    pts = anchored_vwap_points(
        spark.createDataFrame(rows, CANDLE_SCHEMA), flush_secs=10**9
    ).collect()
    by_type = {}
    for r in pts:
        by_type.setdefault(r["anchor_type"], []).append(r)
    assert len(by_type["daily_930"]) == 1
    assert by_type["daily_930"][0]["price_at_anchor"] == 10.4
    # daily_high REPLACED: only the final (highest) bar survives.
    # Reference quirk preserved: the day's FIRST bar seeds the running
    # extremes without adding an anchor (src/candle_to_calcs.py:281-311),
    # so anchors exist only once a later bar makes a new extreme.
    assert len(by_type["daily_high"]) == 1
    assert by_type["daily_high"][0]["price_at_anchor"] == 11.0
    assert by_type["daily_low"][0]["price_at_anchor"] == 9.5


def test_ny_date_reset_and_dst_boundary(spark):
    # 2024-03-10 is the US spring-forward. 09:30 NY is 14:30 UTC
    # before (EST) and 13:30 UTC after (EDT). Daily anchors are
    # intraday-scoped (the date-change reset clears them,
    # src/candle_to_calcs.py:281-288), so each day's anchors must be
    # captured by a flush within that day — hourly flushes here.
    rows = [
        _bar("S", datetime(2024, 3, 9, 14, 30, 0), 10, 10.5, 9.9, 10.1),   # 09:30 EST
        _bar("S", datetime(2024, 3, 9, 20, 0, 0), 10, 10.8, 9.8, 10.0),    # new high + flush
        _bar("S", datetime(2024, 3, 11, 13, 30, 0), 11, 11.5, 10.9, 11.1),  # 09:30 EDT + flush
        _bar("S", datetime(2024, 3, 11, 14, 30, 0), 11, 11.6, 10.8, 11.0),  # 10:30 EDT, new high
    ]
    pts = anchored_vwap_points(
        spark.createDataFrame(rows, CANDLE_SCHEMA), flush_secs=3600
    ).collect()
    t930 = sorted(
        r["anchor_timestamp"] for r in pts if r["anchor_type"] == "daily_930"
    )
    assert t930 == [datetime(2024, 3, 9, 14, 30, 0), datetime(2024, 3, 11, 13, 30, 0)]
    # Reset across days: one daily_high per NY day (the day's first
    # bar only seeds the extremes; later new highs add anchors).
    highs = sorted(r["anchor_timestamp"] for r in pts if r["anchor_type"] == "daily_high")
    assert highs == [datetime(2024, 3, 9, 20, 0, 0), datetime(2024, 3, 11, 14, 30, 0)]


def test_event_time_flush_clears_anchors(spark):
    base = datetime(2024, 1, 2, 15, 0, 0)
    rows = [
        _bar("S", base, 10, 10.5, 9.0, 10.0),
        _bar("S", base + timedelta(seconds=301), 10, 12.0, 9.5, 10.5),  # new high; flush fires
        _bar("S", base + timedelta(seconds=400), 10, 11.5, 9.8, 10.7),  # below 12 — no anchor
    ]
    pts = anchored_vwap_points(
        spark.createDataFrame(rows, CANDLE_SCHEMA), flush_secs=300
    ).collect()
    # daily_high from bar 1 (12.0) is snapshotted at that bar's flush,
    # then cleared; bar 2 never beats it, so it appears exactly once.
    highs = [r for r in pts if r["anchor_type"] == "daily_high"]
    assert len(highs) == 1
    assert highs[0]["price_at_anchor"] == 12.0
    assert highs[0]["current_snapshot_timestamp"] == base + timedelta(seconds=301)


# Bar 0 sits exactly at 09:30 NY (14:30 UTC) -> daily_930 anchor at bar
# 0, alive through the single final snapshot at bar 3: the VWAP over
# closes 10..13 with volumes 100..400.
_VWAP_BASE = datetime(2024, 1, 2, 14, 30, 0)
_VWAP_CLOSES = [10.0, 11.0, 12.0, 13.0]
_VWAP_VOLS = [100.0, 200.0, 300.0, 400.0]
_VWAP_EXPECT = sum(c * v for c, v in zip(_VWAP_CLOSES, _VWAP_VOLS)) / sum(_VWAP_VOLS)


def _vwap_candles(spark, vols=_VWAP_VOLS, symbol="S"):
    rows = [
        _bar(symbol, _VWAP_BASE + timedelta(seconds=i), 10, c, 9, c, v=v)
        for i, (c, v) in enumerate(zip(_VWAP_CLOSES, vols))
    ]
    return spark.createDataFrame(rows, CANDLE_SCHEMA)


def _vwap_930(rows):
    [row] = [r for r in rows if r["anchor_type"] == "daily_930" and r["current_idx"] == 3]
    return row["anchored_vwap"]


def test_points_carry_anchored_vwap(spark):
    """The anchor kernel fills ``anchored_vwap`` itself."""
    pts = anchored_vwap_points(_vwap_candles(spark), flush_secs=10**9).collect()
    assert abs(_vwap_930(pts) - _VWAP_EXPECT) < 1e-9


def test_fill_anchored_vwap_matches_hand_calc(spark):
    """The cogroup fill over a points table with the VWAP blanked; a
    symbol with candles and no points adds no rows."""
    candles = _vwap_candles(spark).unionByName(_vwap_candles(spark, symbol="T").limit(1))
    pts = anchored_vwap_points(candles, flush_secs=10**9).filter(F.col("symbol") == "S")
    blank = pts.withColumn("anchored_vwap", F.lit(None).cast("double"))
    filled = fill_anchored_vwap(blank, candles).collect()
    assert len(filled) == pts.count()
    assert abs(_vwap_930(filled) - _VWAP_EXPECT) < 1e-9


def test_zero_volume_range_gives_null_vwap(spark):
    """A range with no volume has no VWAP: SQL NULL from the kernel and
    from the fill, never NaN."""
    candles = _vwap_candles(spark, vols=[0.0] * 4)
    pts = anchored_vwap_points(candles, flush_secs=10**9)
    filled = fill_anchored_vwap(pts, candles)
    for df in (pts, filled):
        assert df.count() > 0
        assert df.filter(F.col("anchored_vwap").isNotNull()).count() == 0
        assert _vwap_930(df.collect()) is None


def test_dedup_keeps_latest_snapshot(spark):
    base = datetime(2024, 1, 2, 15, 0, 0)
    # The same daily_low anchor (bar 0) is snapshotted at two flushes;
    # keep-last must retain only the later snapshot row.
    rows = [
        _bar("S", base, 10, 10.5, 9.0, 10.0),
        _bar("S", base + timedelta(seconds=301), 10, 10.4, 9.5, 10.1),
        _bar("S", base + timedelta(seconds=299 + 301), 10, 10.3, 8.0, 10.2),
    ]
    pts = anchored_vwap_points(
        spark.createDataFrame(rows, CANDLE_SCHEMA), flush_secs=300
    ).collect()
    lows = [r for r in pts if r["anchor_type"] == "daily_low"]
    assert len({r["anchor_timestamp"] for r in lows}) == len(lows)


def test_kernel_emits_unique_keys_keep_last(spark):
    """Round-10: keep-last dedup moved INSIDE the kernel (the
    row_number window over the kernel output was removed). The kernel
    must emit at most one row per (symbol, timeframe, anchor_type,
    anchor_timestamp), and that row must carry the LATEST snapshot —
    the operator's documented keep-last semantics."""
    base = datetime(2024, 1, 2, 15, 0, 0)
    rows = []
    # Rising highs across several flush windows: daily_high anchors at
    # multiple bars, snapshots at every flush -> without in-kernel
    # keep-last the same (anchor_type, anchor_timestamp) would repeat.
    for i in range(10):
        rows.append(
            _bar("S", base + timedelta(seconds=100 * i), 10, 10 + i, 9, 10.0 + i)
        )
    pts = anchored_vwap_points(
        spark.createDataFrame(rows, CANDLE_SCHEMA), flush_secs=300
    ).collect()
    keys = [
        (r["symbol"], r["timeframe"], r["anchor_type"], r["anchor_timestamp"])
        for r in pts
    ]
    assert len(keys) == len(set(keys))
    # daily_high is a REPLACING anchor: within each flush window only
    # the latest new-high survives (bars 3, 6, 9), snapshotted at its
    # own window's flush — the keep-last row content.
    highs = {
        r["anchor_timestamp"]: r["current_snapshot_timestamp"]
        for r in pts
        if r["anchor_type"] == "daily_high"
    }
    assert highs == {
        base + timedelta(seconds=300): base + timedelta(seconds=300),
        base + timedelta(seconds=600): base + timedelta(seconds=600),
        base + timedelta(seconds=900): base + timedelta(seconds=900),
    }
