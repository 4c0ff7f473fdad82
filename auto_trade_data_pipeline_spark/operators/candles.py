"""Candle aggregation — the heart of the reference (A1-A3).

Reference semantics (``src/aggregator_candles.py:181-226``):
  bucket = timestamp.floor(n seconds)                        (:197)
  open   = first price in bucket,  close = last price        (:206,209)
  high   = max, low = min, volume = sum, trades = count      (:200-211)
  vwap   = sum(price*volume)/sum(volume), NULL if sum==0     (:212,147)

Deliberate deviation: the reference's output ``timestamp`` is the
*first tick's* actual timestamp in the bucket
(``grouped["timestamp"].first()``, ``:205``) — which inherits the
nondeterministic input order. We emit the floored bucket boundary
instead: deterministic, stable under re-partitioning, and the natural
(symbol, timestamp) dedup key for downstream merges. Callers that
want the reference's column can add
``F.min_by(ts, struct(ts, tick_id))`` as ``first_tick_ts``.

Ordered-first/last trap (SURVEY §2.4 note): pandas first()/last() are
input-order, which on the concat-merged CSV is nondeterministic. We
implement the *intent* deterministically:
  open  = min_by(price, (timestamp, tick_id))
  close = max_by(price, (timestamp, tick_id))
with ``tick_id`` (monotonic ingest id) breaking sub-second ties.

Scale notes: one hash aggregation, shuffle keyed on
(symbol, bucket_ts) — partial aggregation happens map-side, so 100 TB
of ticks reduces to |symbols|×|buckets| rows before the exchange. No
window function, no sort. ``use_raw`` mirrors the reference's hook
(``:196,312``) for cascading candle-of-candle timeframes
(1s→1m→1h...) where the input price column is ``close``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_ts(col: str, seconds: int) -> F.Column:
    """Tumbling-bucket assignment (A1): floor a timestamp to an
    n-second boundary — ``timestamp.dt.floor(f"{n}s")`` at
    ``src/aggregator_candles.py:197``. Integer math on epoch seconds
    keeps it codegen-friendly; for calendar-aware buckets use
    ``F.window`` instead (streaming module does).
    """
    if seconds <= 0:
        raise ValueError(f"bucket seconds must be positive, got {seconds}")
    epoch = F.unix_timestamp(F.col(col))
    return F.timestamp_seconds((epoch - (epoch % seconds)).cast("long"))


def aggregate_candles(
    ticks: DataFrame,
    timeframe_seconds: int = 1,
    price_col: str = "price",
    volume_col: str = "volume",
    symbol_col: str = "symbol",
    ts_col: str = "timestamp",
    id_col: str = "tick_id",
    first_tick_ts: bool = False,
) -> DataFrame:
    """Grouped OHLCV+VWAP aggregation (A1-A3) →
    schema :data:`schemas.CANDLES`.

    ``price_col='close'`` + a candle input gives the reference's
    ``use_raw=False`` cascading mode (``src/aggregator_candles.py:196``).

    ``first_tick_ts=True`` additionally emits ``first_tick_timestamp``
    — the actual timestamp of the bucket's first tick, which is what
    the reference writes as the candle's ``timestamp`` column
    (``grouped["timestamp"].first()``, ``:205``). Our canonical
    ``timestamp`` stays the floored bucket boundary (deterministic
    dedup/cascade key); this column restores the reference's exact
    output shape for consumers that want it.
    """
    order = F.struct(F.col(ts_col), F.col(id_col))
    price = F.col(price_col)
    vol = F.col(volume_col)
    extra = (
        [F.min_by(F.col(ts_col), order).alias("first_tick_timestamp")]
        if first_tick_ts
        else []
    )
    out = (
        ticks.groupBy(
            F.col(symbol_col).alias("symbol"),
            bucket_ts(ts_col, timeframe_seconds).alias("timestamp"),
        )
        .agg(
            F.min_by(price, order).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, order).alias("close"),
            F.sum(vol).alias("volume"),
            F.count(F.lit(1)).alias("number_of_trades"),
            F.sum(price * vol).alias("pv"),
            *extra,
        )
        .withColumn(
            "vwap",
            F.when(F.col("volume") > 0, F.col("pv") / F.col("volume")),
        )
        .drop("pv")
    )
    return out


def candles_to_ticks(candles: DataFrame) -> DataFrame:
    """Adapter for cascading timeframes: present candles as the tick
    input of the next aggregation level (price := close, the
    reference's ``use_raw=False`` path, ``src/aggregator_candles.py:312``).
    A synthetic monotone id keeps ordered-open/close deterministic."""
    return candles.select(
        "symbol",
        "timestamp",
        F.col("close").alias("price"),
        "volume",
        F.unix_timestamp("timestamp").alias("tick_id"),
    )


def gap_fill_candles(candles: DataFrame, seconds: int = 60) -> DataFrame:
    """Dense the candle series: emit one row per `seconds` bucket on a
    per-(symbol, traded-day) grid, forward-filling `close` across
    gaps (the standard chart/backtest densification the reference
    only *logs* gaps for, ``src/candle_to_calcs.py:113-128``).

    Shape at 100 TB: the grid is generated per (symbol, day) — a
    dimension-sized distinct + one sequence/explode per day row, so
    grid construction parallelizes across days, never one task per
    symbol. The forward fill is a running `last(ignorenulls)` window
    per symbol — inherently sequential per symbol (same class as the
    recursive indicators; Spark evaluates running frames in one
    incremental pass). Filled rows carry volume 0, trades 0, null
    vwap, and an `is_gap_fill` flag; rows before a symbol's first
    candle keep a null close (nothing to fill from).
    """
    from pyspark.sql.window import Window

    day = F.date_trunc("day", F.col("timestamp"))
    step = F.expr(f"INTERVAL {seconds} SECONDS")
    last_slot = F.col("day") + F.expr("INTERVAL 1 DAY") - step
    days = candles.select("symbol", day.alias("day")).distinct()
    grid = days.select(
        "symbol",
        F.explode(F.sequence(F.col("day"), last_slot, step)).alias("timestamp"),
    )
    joined = grid.join(
        candles.select("symbol", "timestamp", "close", "volume", "number_of_trades"),
        ["symbol", "timestamp"],
        "left",
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "symbol",
        "timestamp",
        F.last("close", ignorenulls=True).over(w).alias("close_ff"),
        F.coalesce("volume", F.lit(0.0)).alias("volume"),
        F.coalesce("number_of_trades", F.lit(0)).alias("number_of_trades"),
        F.when(F.col("close").isNull(), 1).otherwise(0).alias("is_gap_fill"),
    )


def interpolate_candles(candles: DataFrame, seconds: int = 60) -> DataFrame:
    """Dense the candle series with LINEAR interpolation across gaps —
    the time-series `resample().interpolate()` counterpart of
    `gap_fill_candles`'s step-function forward fill (the reference
    logs gaps only, ``src/candle_to_calcs.py:113-128``; ML feature
    pipelines want the linear variant so gap length doesn't flatten
    derivatives).

    Per missing slot: close_interp = prev + (next - prev) * elapsed /
    span, where prev/next are the nearest REAL closes (running
    last/first ignorenulls windows — one incremental pass per symbol,
    same execution class as the forward fill) and elapsed/span are
    epoch-second differences. Before the first real candle the next
    value is carried back; after the last, the prev value carries
    forward. The arithmetic is a fixed IEEE expression (sub, div,
    mul, add in one order), so results are bit-identical cross-engine.
    Grid construction parallelizes across (symbol, day) rows exactly
    as in `gap_fill_candles`.
    """
    from pyspark.sql.window import Window

    day = F.date_trunc("day", F.col("timestamp"))
    step = F.expr(f"INTERVAL {seconds} SECONDS")
    last_slot = F.col("day") + F.expr("INTERVAL 1 DAY") - step
    days = candles.select("symbol", day.alias("day")).distinct()
    grid = days.select(
        "symbol",
        F.explode(F.sequence(F.col("day"), last_slot, step)).alias("timestamp"),
    )
    joined = grid.join(
        candles.select("symbol", "timestamp", "close", "volume", "number_of_trades"),
        ["symbol", "timestamp"],
        "left",
    )
    wb = (
        Window.partitionBy("symbol")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The forward neighbor uses a REVERSED descending frame: `first()
    # over (ROWS CURRENT..UNBOUNDED FOLLOWING)` is Spark's O(n^2)
    # re-aggregating frame (measured 11 s on the sf0.1 grid); `last()
    # over descending (UNBOUNDED PRECEDING..CURRENT)` picks the same
    # row — the nearest real close at ts >= current — incrementally.
    wf = (
        Window.partitionBy("symbol")
        .orderBy(F.col("timestamp").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts_sec = F.unix_timestamp("timestamp")
    with_nbrs = joined.select(
        "symbol",
        "timestamp",
        "close",
        F.coalesce("volume", F.lit(0.0)).alias("volume"),
        F.coalesce("number_of_trades", F.lit(0)).alias("number_of_trades"),
        F.last("close", ignorenulls=True).over(wb).alias("__prev"),
        F.last(F.when(F.col("close").isNotNull(), ts_sec), ignorenulls=True)
        .over(wb)
        .alias("__prev_sec"),
        F.last("close", ignorenulls=True).over(wf).alias("__next"),
        F.last(F.when(F.col("close").isNotNull(), ts_sec), ignorenulls=True)
        .over(wf)
        .alias("__next_sec"),
        ts_sec.alias("__sec"),
    )
    frac = (F.col("__sec") - F.col("__prev_sec")).cast("double") / (
        F.col("__next_sec") - F.col("__prev_sec")
    ).cast("double")
    interp = (
        F.when(F.col("close").isNotNull(), F.col("close"))
        .when(F.col("__prev").isNull(), F.col("__next"))
        .when(F.col("__next").isNull(), F.col("__prev"))
        .otherwise(F.col("__prev") + (F.col("__next") - F.col("__prev")) * frac)
    )
    return with_nbrs.select(
        "symbol",
        "timestamp",
        interp.alias("close_interp"),
        "volume",
        "number_of_trades",
        F.when(F.col("close").isNull(), 1).otherwise(0).alias("is_gap_fill"),
    )


def heikin_ashi_candles(candles: DataFrame) -> DataFrame:
    """Heikin-Ashi smoothed candles per symbol (functions.ta.heikin_ashi).

    The ha_open recursion is inherently per-symbol sequential (the
    same constraint as every recursive indicator — SURVEY §2 W-family)
    and runs as the functions.ta.heikin_ashi numpy kernel per symbol
    (operators/scans.py:scan_by_key). All other HA columns are
    pointwise JVM expressions. Parallelism is symbol-keyed; for a
    pathological single-symbol history the bounded-tail chunked
    evaluator recipe of `operators.indicators.enrich_indicators`
    applies unchanged (the recursion contracts by 1/2 per step, far
    faster than EMA's 2/(n+1)).
    """
    from pyspark.sql import functions as F

    from auto_trade_data_pipeline_spark.functions import ta
    from auto_trade_data_pipeline_spark.operators.scans import scan_by_key

    def _ha_open_np(pdf):
        return ta.heikin_ashi(
            pdf["open"].to_numpy(dtype=float),
            pdf["high"].to_numpy(dtype=float),
            pdf["low"].to_numpy(dtype=float),
            pdf["close"].to_numpy(dtype=float),
        )[0]

    with_hc = candles.select(
        "symbol", "timestamp", "open", "high", "low", "close"
    ).withColumn("hc", F.expr("(open + high + low + close) / 4.0"))
    out = scan_by_key(
        with_hc,
        ["symbol"],
        "timestamp",
        ["open", "high", "low", "close", "hc"],
        {"ha_open": ("double", _ha_open_np)},
    )
    return out.select(
        "symbol",
        "timestamp",
        "ha_open",
        F.expr("greatest(high, ha_open, hc)").alias("ha_high"),
        F.expr("least(low, ha_open, hc)").alias("ha_low"),
        F.col("hc").alias("ha_close"),
    )
