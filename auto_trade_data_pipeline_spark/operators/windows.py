"""Native Spark window / expression operators for the stage-3
enrichment surface that does NOT need recursion: typical price (W1),
Bollinger bands (W6), trend labels (W8), volume spikes (W10), session
flags (W12), gap detection (W13), running daily extrema (A7), NY
local-time derivation.

All of these stay inside whole-stage codegen — plain column
expressions or SQL window functions partitioned by symbol (and NY
local date where the semantics are daily). No Python in the hot path.

Per-symbol ordered windows mean per-symbol serial order within the
partition; at scale we parallelize across symbols (SURVEY §4). Frames
are ROWS-based and bounded except the daily running extrema, which is
unbounded-preceding within a (symbol, day) partition — bounded state
either way.

One implementation per family: the Bollinger and volume-spike builders
take the window's ``PARTITION BY … ORDER BY …`` clause, so the
block-parallel entry :func:`with_rolling_features_blocked` runs the
same expressions as :func:`with_bollinger` / :func:`with_volume_spike`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.blocked import blocked_rows_window

NY_TZ = "America/New_York"


def symbol_window(order_cols: tuple[str, ...] = ("timestamp",)) -> Window:
    return Window.partitionBy("symbol").orderBy(*order_cols)


def with_local_time(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """NY wall-clock derivation (``src/candle_to_calcs.py:642-645``):
    local_timestamp/local_date/local_hour/local_minute.

    One ``selectExpr`` call: the Column-object chain cost ~15 py4j
    round trips of driver build latency per query; the string form
    parses to the identical expressions in a single call (round-10
    build-latency pass; semantics pinned by the existing oracles)."""
    local = f"from_utc_timestamp({ts_col}, '{NY_TZ}')"
    return df.selectExpr(
        "*",
        f"{local} AS local_timestamp",
        f"to_date({local}) AS local_date",
        f"hour({local}) AS local_hour",
        f"minute({local}) AS local_minute",
    )


def with_typical_price(df: DataFrame) -> DataFrame:
    """W1 (``src/candle_to_calcs.py:386``)."""
    return df.withColumn(
        "typical_price", (F.col("high") + F.col("low") + F.col("close")) / 3
    )


#: The W12 sessions in reference order (``src/candle_to_calcs.py:366-377``)
#: as half-open NY minute-of-day ranges [start, end) tiling the day; the
#: flags below and the ``SessionCalendar`` UDTF both read this table.
SESSION_BOUNDS = [
    ("is_overnight_early", 0, 120),
    ("is_overnight_late", 120, 240),
    ("is_early_morning", 240, 480),
    ("is_premarket_early", 480, 540),
    ("is_premarket_morn", 540, 570),
    ("is_morning", 570, 660),
    ("is_late_morning", 660, 750),
    ("is_midday", 750, 840),
    ("is_early_afternoon", 840, 930),
    ("is_late_afternoon", 930, 990),
    ("is_closing", 990, 1021),
    ("is_afterhours", 1021, 1440),
]

SESSION_FLAGS = [name for name, _, _ in SESSION_BOUNDS]


def with_session_flags(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """W12: 12 mutually-exclusive NY-session flags
    (``src/candle_to_calcs.py:352-379``). The buckets partition the
    24h day — exactly one flag is 1 per row (FIXTURES.md §C.5)."""
    local = f"from_utc_timestamp({ts_col}, '{NY_TZ}')"
    mod = f"hour({local}) * 60 + minute({local})"
    return df.selectExpr(
        "*",
        *[
            f"CAST(({mod} >= {lo} AND {mod} < {hi}) AS INT) AS {name}"
            for name, lo, hi in SESSION_BOUNDS
        ],
    )


def with_running_daily_extrema(df: DataFrame) -> DataFrame:
    """A7: running day-high/low per (symbol, NY date) in event-time
    order (``src/candle_to_calcs.py:301-311`` tracks these row-by-row;
    here it is one cumulative window, no Python loop).

    The NY date is materialized as a named column before the window:
    partitioning two window specs by the raw *expression* makes
    Catalyst mint a fresh attribute per spec, so the max and min land
    in two Window operators with two Exchange+Sort passes on the same
    key. Named, both specs are identical and collapse into ONE Window
    (one exchange, one sort — measured 2 Exchange -> 1 on
    rolling_window_features)."""
    day = F.to_date(F.from_utc_timestamp(F.col("timestamp"), NY_TZ))
    w = (
        Window.partitionBy("symbol", "__ny_day")
        .orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__ny_day", day)
        .withColumns(
            {
                "running_day_high": F.max("high").over(w),
                "running_day_low": F.min("low").over(w),
            }
        )
        .drop("__ny_day")
    )


_SYMBOL_ORDER = "PARTITION BY symbol ORDER BY timestamp"


def _bollinger(df: DataFrame, order: str, period: int, nbdev: float) -> DataFrame:
    """Bollinger columns over the trailing ``period`` rows of the window
    ``order`` (``PARTITION BY … ORDER BY …``). SQL text: 4 py4j calls
    instead of ~60 Column constructions. Each window aggregate is
    evaluated ONCE into a named column: Catalyst does not dedup window
    expressions, so referencing them from bb_upper/bb_lower as well as
    bb_mid would run 10 running aggregates per row instead of 3."""
    over = f"OVER ({order} ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW)"
    nb = f"CAST({nbdev!r} AS DOUBLE)"
    mid = f"CASE WHEN __bb_cnt >= {period} THEN __bb_avg ELSE close END"
    dev = f"CASE WHEN __bb_cnt >= {period} THEN __bb_sd ELSE CAST(0.0 AS DOUBLE) END"
    out = (
        df.selectExpr(
            "*",
            f"count(close) {over} AS __bb_cnt",
            f"avg(close) {over} AS __bb_avg",
            f"stddev_pop(close) {over} AS __bb_sd",
        )
        .selectExpr(
            "*",
            f"{mid} AS bb_mid",
            f"{mid} + {nb} * {dev} AS bb_upper",
            f"{mid} - {nb} * {dev} AS bb_lower",
        )
        .drop("__bb_cnt", "__bb_avg", "__bb_sd")
    )
    return out.selectExpr(
        "*",
        "bb_upper - bb_lower AS bb_width",
        "CASE WHEN (bb_upper - bb_lower) != 0 THEN (close - bb_lower) / "
        "(bb_upper - bb_lower) ELSE CAST(0.0 AS DOUBLE) END AS bb_pos",
        "CAST((close > bb_upper OR close < bb_lower) AS INT) AS bb_breakout",
    )


def with_bollinger(df: DataFrame, period: int = 20, nbdev: float = 2.0) -> DataFrame:
    """W6: Bollinger(20,2) + width/pos/breakout
    (``src/candle_to_calcs.py:419-425``).

    Spec (pinned, talib-compatible): mid = SMA(period) over the
    trailing ROWS frame, bands = mid ± nbdev·stddev_pop (population
    σ, like talib BBANDS), warm-up rows (<period) fall back to
    ``close`` (the reference's ``fillna(df["close"])``).  The
    reference's div-by-zero guard on bb_pos is a no-op bug
    (``.replace(0,nan).fillna(0)`` round-trips); we implement the
    intent: bb_pos = 0 when the band width is 0.
    """
    return _bollinger(df, _SYMBOL_ORDER, period, nbdev)


def _volume_spike(df: DataFrame, order: str, window: int, spike_multiplier: float) -> DataFrame:
    """Volume-spike columns over the trailing ``window``-row frame of
    the window ``order``, as :func:`_bollinger`."""
    over = f"OVER ({order} ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW)"
    return df.selectExpr(
        "*", f"avg(volume) {over} AS rolling_avg_volume"
    ).selectExpr(
        "*",
        f"CAST((volume > rolling_avg_volume * CAST({spike_multiplier!r} AS DOUBLE))"
        " AS INT) AS is_volume_spike",
    )


def with_volume_spike(
    df: DataFrame, window: int = 60, spike_multiplier: float = 1.5
) -> DataFrame:
    """W10 (``src/candle_to_calcs.py:517-526``): trailing mean volume
    (min_periods=1) and spike flag."""
    return _volume_spike(df, _SYMBOL_ORDER, window, spike_multiplier)


def with_rolling_features_blocked(
    df: DataFrame,
    bb_period: int = 20,
    nbdev: float = 2.0,
    vol_window: int = 60,
    spike_multiplier: float = 1.5,
) -> DataFrame:
    """Bollinger + volume spike in ONE block-parallel pass
    (operators/blocked.py): the builders of :func:`with_bollinger` and
    :func:`with_volume_spike` over the per-(symbol, block) window share
    one sequence/overlap computation and one window exchange (lookback
    = the larger frame); chaining two blocked calls would rescan the
    upstream plan twice."""

    def _both(u: DataFrame, order: str) -> DataFrame:
        u = _bollinger(u, order, bb_period, nbdev)
        return _volume_spike(u, order, vol_window, spike_multiplier)

    return blocked_rows_window(df, max(bb_period, vol_window) - 1, _both)


def with_trend_labels(
    df: DataFrame, slope_col: str = "t3_slope", slope_threshold: float = 0.2
) -> DataFrame:
    """W8 (``src/candle_to_calcs.py:440-452``): threshold the slope into
    is_uptrend / is_downtrend / is_no_trend (complement)."""
    s = F.col(slope_col)
    return (
        df.withColumn("is_uptrend", (s > slope_threshold).cast("int"))
        .withColumn("is_downtrend", (s < -slope_threshold).cast("int"))
        .withColumn(
            "is_no_trend",
            (~((s > slope_threshold) | (s < -slope_threshold))).cast("int"),
        )
    )


def gap_report(df: DataFrame, gap_seconds: float = 1.5, top_n: int = 5) -> DataFrame:
    """W13 + O2 (``src/candle_to_calcs.py:113-128``): per-symbol gap
    count, max gap, and the first ``top_n`` gap-start timestamps joined
    into one comma-separated string (scalar output — list-typed columns
    are not canonicalizable downstream).

    Scale shape: the top-``n`` list is bounded *before* aggregation via
    ``row_number() <= n`` on the filtered gap rows, so per-group state
    is O(top_n), not O(gaps) — no unbounded ``collect_list``.
    """
    w = symbol_window()
    gap = F.unix_micros(F.col("timestamp")) - F.unix_micros(F.lag("timestamp").over(w))
    gaps = df.withColumn("gap_s", gap / 1_000_000.0).filter(F.col("gap_s") > gap_seconds)
    rn = F.row_number().over(symbol_window())
    ranked = gaps.select("symbol", "timestamp", "gap_s").withColumn("__rn", rn)
    # collect_list drops nulls, so the when() keeps only the first top_n
    # per group while count/max still see every gap row.
    top = F.when(
        F.col("__rn") <= top_n, F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    return ranked.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("gap_count"),
        F.max("gap_s").alias("max_gap_seconds"),
        F.array_join(F.array_sort(F.collect_list(top)), ",").alias("gap_starts"),
    )
