"""Streaming equivalence (SURVEY §5.4): availableNow streaming result
== batch result on the same input; stateful ops carry state across
micro-batches."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
from auto_trade_data_pipeline_spark.sources import ticks_from_events
from auto_trade_data_pipeline_spark.streaming import (
    read_ticks_stream,
    run_available_now,
    streaming_candles,
    streaming_dedup,
    streaming_running_vwap,
)


def _canon(df):
    return sorted(
        (r["symbol"], r["timestamp"], r["open"], r["high"], r["low"], r["close"],
         round(r["volume"], 6), r["number_of_trades"],
         None if r["vwap"] is None else round(r["vwap"], 9))
        for r in df.collect()
    )


def test_streaming_candles_equal_batch(spark, sf_small):
    """Append-mode contract: the stream emits exactly the batch
    result for every window the final watermark closed; windows still
    inside the watermark horizon (the stream's tail) are withheld."""
    batch = aggregate_candles(ticks_from_events(spark, sf_small), 1)
    stream = streaming_candles(read_ticks_stream(spark, sf_small), 1, watermark="10 minutes")
    result = run_available_now(stream, "t_candles_stream")

    b = {t[:2]: t for t in _canon(batch)}
    s = {t[:2]: t for t in _canon(result)}
    # Every emitted candle matches the batch value exactly.
    assert set(s) <= set(b)
    for k in s:
        assert s[k] == b[k]
    # Whatever was withheld sits inside the watermark horizon of the
    # global max event time.
    max_ts = ticks_from_events(spark, sf_small).agg(F.max("timestamp")).first()[0]
    import datetime

    horizon = max_ts - datetime.timedelta(minutes=10)
    withheld = set(b) - set(s)
    assert withheld  # the final window can never close
    for _, ts in withheld:
        assert ts + datetime.timedelta(seconds=1) > horizon


def test_streaming_dedup_equal_batch_distinct(spark, sf_small):
    ticks = read_ticks_stream(spark, sf_small)
    result = run_available_now(
        streaming_dedup(ticks, ("symbol", "timestamp")), "t_dedup_stream"
    )
    batch = (
        ticks_from_events(spark, sf_small)
        .select("symbol", "timestamp")
        .distinct()
        .count()
    )
    assert result.select("symbol", "timestamp").distinct().count() == batch
    assert result.count() == batch


def test_stateful_running_vwap_carries_state(spark, tmp_path):
    # Two parquet files -> two micro-batches (maxFilesPerTrigger=1).
    # The second batch's totals must include the first batch's rows.
    rng = np.random.default_rng(5)
    for b in range(2):
        pdf = pd.DataFrame(
            {
                "symbol": ["S"] * 50,
                "timestamp": pd.date_range("2024-01-02 14:30:00", periods=50, freq="s")
                + pd.Timedelta(minutes=b),
                "price": rng.uniform(10, 20, 50),
                "volume": rng.integers(1, 100, 50).astype(float),
                "tick_id": np.arange(50) + 1000 * b,
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{tmp_path}/b{b}")
    # Flatten into one dir of two files.
    import glob
    import shutil

    data_dir = tmp_path / "stream_in"
    data_dir.mkdir()
    for b in range(2):
        for i, f in enumerate(glob.glob(f"{tmp_path}/b{b}/part-*.parquet")):
            shutil.copy(f, data_dir / f"file_{b}_{i}.parquet")

    ticks = (
        spark.readStream.format("parquet")
        .schema("symbol string, timestamp timestamp, price double, volume double, tick_id long")
        .option("maxFilesPerTrigger", 1)
        .load(str(data_dir))
    )
    out = run_available_now(streaming_running_vwap(ticks), "t_state_stream", "update")
    rows = sorted(out.collect(), key=lambda r: r["total_rows"])
    assert [r["batch_rows"] for r in rows] == [50, 50]
    assert rows[-1]["total_rows"] == 100  # state carried across batches
    assert rows[-1]["running_vwap"] == pytest.approx(rows[-1]["running_vwap"])


# ---------------------------------------------------------------------------
# ST10: stream-stream interval join
# ---------------------------------------------------------------------------

_TICKS_SCHEMA = (
    "symbol string, timestamp timestamp, price double, volume double, tick_id long"
)


def _tick_rows(n=240):
    """Two symbols, one tick/30s each, one big-volume anchor per hour."""
    import datetime as dt

    start = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = []
    for i in range(n):
        for s in ("A", "B"):
            big = i % 120 == 7
            rows.append(
                (
                    s,
                    start + dt.timedelta(seconds=30 * i),
                    100.0 + i * 0.25 + (1.0 if s == "B" else 0.0),
                    50_000.0 if big else 100.0,
                    i * 2 + (1 if s == "B" else 0),
                )
            )
    return rows


@pytest.mark.parametrize("splits", [1, 4])
def test_interval_join_stream_equals_batch_across_splits(spark, tmp_path, splits):
    """ST10: the watermarked stream-stream interval join must emit
    exactly the batch range-join pairs, however the input is sliced
    into micro-batches (chronological arrival) — anchors must stay in
    state long enough to meet every tick inside their window."""
    import glob
    import shutil

    from auto_trade_data_pipeline_spark.streaming import interval_join_after_anchor

    rows = _tick_rows()
    data_dir = tmp_path / f"ivj_{splits}"
    data_dir.mkdir()
    k = len(rows) // splits
    for b in range(splits):
        part = rows[b * k : (b + 1) * k if b < splits - 1 else len(rows)]
        spark.createDataFrame(part, _TICKS_SCHEMA).coalesce(1).write.parquet(
            f"{tmp_path}/ivb_{splits}_{b}"
        )
        for i, f in enumerate(glob.glob(f"{tmp_path}/ivb_{splits}_{b}/part-*.parquet")):
            shutil.copy(f, data_dir / f"f_{b}_{i}.parquet")

    def _streams():
        r = (
            spark.readStream.format("parquet")
            .schema(_TICKS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
        )
        return r.load(str(data_dir))

    anchors_s = _streams().filter(F.col("volume") >= 40_000)
    got = run_available_now(
        interval_join_after_anchor(_streams(), anchors_s, window_seconds=900),
        f"t_ivjoin_{splits}",
    )
    batch = spark.createDataFrame(rows, _TICKS_SCHEMA)
    want = interval_join_after_anchor(
        batch, batch.filter(F.col("volume") >= 40_000), window_seconds=900
    )
    key = lambda r: (r["symbol"], r["anchor_id"], r["tick_id"])  # noqa: E731
    g = {key(r) for r in got.collect()}
    w = {key(r) for r in want.collect()}
    assert g == w
    # 900s window at 30s cadence: each of the 4 anchors (2 per
    # symbol) catches 30 same-symbol ticks -> the join is exercised,
    # not vacuously empty.
    assert len(w) == 120


# ---------------------------------------------------------------------------
# Exactly-once foreachBatch upsert sink
# ---------------------------------------------------------------------------


def test_stream_upsert_sink_exactly_once(spark, tmp_path):
    """The foreachBatch upsert sink lands the keyed keep-last table;
    re-delivered batch ids are skipped via commit markers; and a FULL
    replay with fresh batch ids converges by value (no duplicates)."""
    from auto_trade_data_pipeline_spark.operators.dedup import dedup_keep_last
    from auto_trade_data_pipeline_spark.streaming.sink import (
        apply_upsert_batch,
        committed_batches,
        stream_upsert_writer,
    )

    rows = [
        ("A", 1, 10.0, 0), ("A", 2, 11.0, 1), ("B", 1, 20.0, 2),
        ("A", 2, 12.0, 3),  # same key, higher seq -> keep-last wins
        ("B", 2, 21.0, 4), ("C", 1, 30.0, 5),
    ]
    schema = "symbol string, k long, price double, seq long"
    data_dir = tmp_path / "in"
    data_dir.mkdir()
    import glob as _glob
    import shutil as _shutil

    for b in range(2):
        part = rows[b * 3:(b + 1) * 3]
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(f"{tmp_path}/b{b}")
        for i, f in enumerate(_glob.glob(f"{tmp_path}/b{b}/part-*.parquet")):
            _shutil.copy(f, data_dir / f"f_{b}_{i}.parquet")

    target = str(tmp_path / "table")

    def _run_stream():
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(str(data_dir))
        )
        q = (
            stream.writeStream.foreachBatch(
                stream_upsert_writer(target, ["symbol", "k"], "seq")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run_stream()
    batch_all = spark.createDataFrame(rows, schema)
    expected = {
        (r["symbol"], r["k"]): r["price"]
        for r in dedup_keep_last(batch_all, ["symbol", "k"], ["seq"]).collect()
    }
    got = {
        (r["symbol"], r["k"]): r["price"]
        for r in spark.read.parquet(target).collect()
    }
    assert got == expected
    assert len(committed_batches(target)) >= 1

    # Re-delivery of an already-committed batch id: skipped outright,
    # even with different (garbage) content.
    garbage = spark.createDataFrame([("Z", 99, -1.0, 999)], schema)
    bid = max(committed_batches(target))
    assert apply_upsert_batch(garbage, bid, target, ["symbol", "k"], "seq") is False
    assert {
        (r["symbol"], r["k"]): r["price"]
        for r in spark.read.parquet(target).collect()
    } == expected

    # Full replay with FRESH batch ids (checkpoint lost): idempotent
    # by value — re-upserting the same rows changes nothing.
    replay = spark.createDataFrame(rows, schema)
    assert apply_upsert_batch(replay, bid + 1000, target, ["symbol", "k"], "seq") is True
    assert {
        (r["symbol"], r["k"]): r["price"]
        for r in spark.read.parquet(target).collect()
    } == expected


def test_streaming_cascade_equals_batch_cascade(spark, sf_small):
    """Chained streaming window aggregation (1m -> 5m candle cascade
    in ONE streaming query): every emitted 5m candle must equal the
    batch double-cascade exactly; anything withheld sits inside the
    watermark horizon."""
    from auto_trade_data_pipeline_spark.streaming import streaming_candles_cascade

    batch1m = aggregate_candles(ticks_from_events(spark, sf_small), 60)
    # batch 5m-of-1m cascade with the same min_by/max_by-by-start rules
    w5 = F.window("timestamp", "300 seconds")
    batch5m = (
        batch1m.groupBy("symbol", w5)
        .agg(
            F.min_by("open", F.col("timestamp")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("timestamp")).alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("number_of_trades").alias("number_of_trades"),
        )
        .select("symbol", F.col("window.start").alias("timestamp"), "open", "high",
                "low", "close", "volume", "number_of_trades")
    )
    stream = streaming_candles_cascade(
        read_ticks_stream(spark, sf_small), base_seconds=60, factor=5
    )
    got = run_available_now(stream, "t_cascade_stream")

    def canon(df):
        return {
            (r["symbol"], r["timestamp"]): (
                r["open"], r["high"], r["low"], r["close"],
                round(r["volume"], 6), r["number_of_trades"],
            )
            for r in df.collect()
        }

    b, s = canon(batch5m), canon(got)
    assert set(s) <= set(b)
    assert s, "stream emitted nothing — watermark never closed a window"
    for k in s:
        assert s[k] == b[k], f"window {k} differs"
    # withheld windows are all near the stream tail (inside horizon)
    import datetime

    max_ts = ticks_from_events(spark, sf_small).agg(F.max("timestamp")).first()[0]
    horizon = max_ts - datetime.timedelta(minutes=10)
    for _, ts in set(b) - set(s):
        assert ts + datetime.timedelta(seconds=300) > horizon


def test_observed_metrics_in_streaming_progress(spark, tmp_path):
    """with_observed_quality(name) on a STREAM surfaces the counters
    in StreamingQueryProgress.observedMetrics per micro-batch — the
    production telemetry channel (no extra pass, no extra state)."""
    from auto_trade_data_pipeline_spark.operators.validation import (
        tick_valid_predicate,
        with_observed_quality,
    )

    rows = [
        ("A", "2024-01-02 14:30:00", 10.0, 5.0, 1),
        ("A", "2024-01-02 14:30:01", -1.0, 5.0, 2),  # invalid
        ("B", "2024-01-02 14:30:02", 11.0, 7.0, 3),
    ]
    src = tmp_path / "obs_in"
    src.mkdir()
    df = spark.createDataFrame(
        rows, "symbol string, ts string, price double, volume double, tick_id long"
    ).select(
        "symbol", F.to_timestamp("ts").alias("timestamp"), "price", "volume", "tick_id"
    )
    df.coalesce(1).write.parquet(str(src / "batch0"))
    import glob as _glob
    import shutil as _shutil

    flat = tmp_path / "obs_flat"
    flat.mkdir()
    for i, f in enumerate(_glob.glob(f"{src}/batch0/part-*.parquet")):
        _shutil.copy(f, flat / f"f{i}.parquet")

    stream = (
        spark.readStream.format("parquet")
        .schema("symbol string, timestamp timestamp, price double, volume double, tick_id long")
        .load(str(flat))
    )
    observed = with_observed_quality(stream, tick_valid_predicate(), "quality")
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = [
        p.observedMetrics["quality"]
        for p in (q.recentProgress or [])
        if "quality" in (p.observedMetrics or {})
    ]
    assert metrics, "no observedMetrics arrived in streaming progress"
    total_rows = sum(m["n_rows"] for m in metrics)
    total_invalid = sum(m["n_invalid"] for m in metrics)
    assert total_rows == 3 and total_invalid == 1


@pytest.mark.parametrize("splits", [1, 3])
def test_outer_interval_join_orphan_flush_across_splits(spark, tmp_path, splits):
    """ST10b: the LEFT OUTER stream-stream join must emit (a) exactly
    the batch join's matched pairs and (b) a null row for each orphan
    anchor whose interval end the final watermark passed — and no
    null for the tail anchor the watermark cannot yet prove
    unmatched. Parity must hold however the input is sliced."""
    import datetime as dt
    import glob
    import shutil

    from auto_trade_data_pipeline_spark.streaming import interval_left_outer_orphans

    start = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = []
    # Dense run 0..49 (one tick/30s), a 2h gap, dense run 50..99.
    # Anchors (big volume): i=7 (matched), i=49 (right before the gap
    # -> provable orphan), i=99 (final tick -> orphan but NOT provable:
    # watermark stops 10 min before it).
    for i in range(100):
        ts = start + dt.timedelta(seconds=30 * i + (7200 if i >= 50 else 0))
        big = i in (7, 49, 99)
        rows.append(("A", ts, 100.0 + i, 50_000.0 if big else 100.0, i))

    data_dir = tmp_path / f"oivj_{splits}"
    data_dir.mkdir()
    k = len(rows) // splits
    for b in range(splits):
        part = rows[b * k : (b + 1) * k if b < splits - 1 else len(rows)]
        spark.createDataFrame(part, _TICKS_SCHEMA).coalesce(1).write.parquet(
            f"{tmp_path}/oivb_{splits}_{b}"
        )
        for i, f in enumerate(glob.glob(f"{tmp_path}/oivb_{splits}_{b}/part-*.parquet")):
            shutil.copy(f, data_dir / f"f_{b}_{i}.parquet")

    def _stream():
        return (
            spark.readStream.format("parquet")
            .schema(_TICKS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .load(str(data_dir))
        )

    got = run_available_now(
        interval_left_outer_orphans(
            _stream().filter(F.col("volume") >= 40_000), _stream(), window_seconds=900
        ),
        f"t_oivjoin_{splits}",
    ).collect()
    matched = {(r["anchor_id"], r["tick_id"]) for r in got if r["tick_id"] is not None}
    nulls = {r["anchor_id"] for r in got if r["tick_id"] is None}
    # Batch truth for the matched half.
    batch = spark.createDataFrame(rows, _TICKS_SCHEMA)
    want = interval_left_outer_orphans(
        batch.filter(F.col("volume") >= 40_000), batch, window_seconds=900
    ).collect()
    want_matched = {
        (r["anchor_id"], r["tick_id"]) for r in want if r["tick_id"] is not None
    }
    assert matched == want_matched
    assert len(want_matched) == 30  # anchor 7 catches ticks 8..37 — not vacuous
    # Orphan flush: anchor 49's window closed long before the final
    # watermark (the 2h gap); anchor 99 is unmatched too but its
    # window end is beyond max(event time) - 10min, so it is withheld.
    assert nulls == {49}


def test_stream_cdc_sink_tombstones_exactly_once(spark, tmp_path):
    """The CDC foreachBatch sink applies I/U/D micro-batches with
    tombstone semantics: updates replace, a terminal D removes the
    key, re-delivered batch ids are skipped, and replaying the same
    changelog with fresh batch ids is a value-level no-op."""
    from auto_trade_data_pipeline_spark.streaming.sink import (
        apply_cdc_batch,
        committed_batches,
        stream_cdc_writer,
    )

    schema = "k long, payload string, seq long, op string"
    batches = [
        [(1, "a", 1, "U"), (2, "b", 2, "U"), (3, "c", 3, "U")],
        [(1, "a2", 4, "U"), (2, None, 5, "D"), (4, "d", 6, "U")],
    ]
    data_dir = tmp_path / "in"
    data_dir.mkdir()
    import glob as _glob
    import shutil as _shutil

    for b, part in enumerate(batches):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(f"{tmp_path}/b{b}")
        for i, f in enumerate(_glob.glob(f"{tmp_path}/b{b}/part-*.parquet")):
            _shutil.copy(f, data_dir / f"f_{b}_{i}.parquet")

    target = str(tmp_path / "table")
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(data_dir))
    )
    q = (
        stream.writeStream.foreachBatch(stream_cdc_writer(target, ["k"], "seq"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    expected = {1: "a2", 3: "c", 4: "d"}  # key 2 deleted by tombstone
    got = {r["k"]: r["payload"] for r in spark.read.parquet(target).collect()}
    assert got == expected

    # Committed batch id re-delivery: skipped even with garbage rows.
    bid = max(committed_batches(target))
    garbage = spark.createDataFrame([(9, "z", 99, "U")], schema)
    assert apply_cdc_batch(garbage, bid, target, ["k"], "seq") is False
    assert {r["k"]: r["payload"] for r in spark.read.parquet(target).collect()} == expected

    # Fresh-id replay of the full changelog: value-idempotent.
    replay = spark.createDataFrame(batches[0] + batches[1], schema)
    assert apply_cdc_batch(replay, bid + 1000, target, ["k"], "seq") is True
    assert {r["k"]: r["payload"] for r in spark.read.parquet(target).collect()} == expected
