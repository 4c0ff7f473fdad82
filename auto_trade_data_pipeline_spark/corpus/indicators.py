"""Indicator corpus (W2-W5, W7-W9, W11, W14): queries over the
applyInPandas kernel (operators/indicators.py).

The recursive families (Wilder/EMA/SAR/T3/prominence) are not
SQL-expressible, so their queries are rows-only at the driver and
pinned instead by pytest golden/property tests (SURVEY §5.3). The
pattern subset whose rules reduce to lag comparisons + trailing
window averages IS independently reimplemented in DuckDB SQL here
(`cdl_patterns_simple`) — a true cross-engine differential test of
the kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.corpus import register
from auto_trade_data_pipeline_spark.corpus.cdl_oracle import cdl_full_oracle_sql
from auto_trade_data_pipeline_spark.corpus.trade import CANDLES_CTE, TS_FMT_DUCK, TS_FMT_SPARK
from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
from auto_trade_data_pipeline_spark.operators.indicators import (
    CDL_NAMES,
    INDICATOR_COLUMNS,
    enrich_indicators,
)
from auto_trade_data_pipeline_spark.operators.windows import (
    SESSION_FLAGS,
    with_bollinger,
    with_local_time,
    with_session_flags,
    with_volume_spike,
)
from auto_trade_data_pipeline_spark.schemas import SchemaMismatchError
from auto_trade_data_pipeline_spark.sources import N_TICK_SYMBOLS, ticks_from_events


def _cdl_full_oracle() -> str:
    return cdl_full_oracle_sql(CANDLES_CTE, TS_FMT_DUCK)


def _enriched(
    spark: SparkSession, sf_dir: str, families: tuple[str, ...] | None = None
) -> DataFrame:
    """Kernel output over the 1 s candle tape. ``families`` is the
    kernel-side column pruning (operators/indicators.py): queries that
    read one family pass it so the kernel skips the others' compute
    and Arrow transfer — values are identical for any subset."""
    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)
    # Pin the kernel exchange at session parallelism: AQE's byte-based
    # coalescing packs the byte-tiny candle exchange to ~4 partitions,
    # serializing two symbols onto one kernel task (the anchored-vwap
    # fix, r09 #10; measured full kernel 0.98 -> 0.81 s at sf0.1).
    # Same exchange count — this replaces the exchange
    # EnsureRequirements would insert for the groupBy.
    candles = candles.repartition(
        spark.sparkContext.defaultParallelism, "symbol"
    )
    return enrich_indicators(candles, families=families)


@register("indicators_chunked_pack", None, tags=("W2", "W3", "W5", "W7", "skew"))
def indicators_chunked_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursive pack via the tail-chunked evaluator
    (``enrich_indicators(chunked=True)``): each symbol's series split
    into parallel blocks, each warmed up by the preceding
    ``buffer_rows`` rows — the extreme-skew answer to the per-symbol
    serial constraint, mirroring the reference's 10k-row streaming
    buffer (``src/candle_to_calcs.py:42,691``). Rows-only; bounded
    divergence vs the exact kernel is pinned by pytest."""
    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)
    e = enrich_indicators(
        candles, chunked=True, buffer_rows=2000, block_rows=2000, families=("pack",)
    )
    return e.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        *[F.round(c, 6).alias(c) for c in ("adx", "macd", "macd_signal", "atr", "t3")],
        "psar_trend",
        "is_uptrend",
        "is_downtrend",
    )


@register("candle_patterns_pack", _cdl_full_oracle(), tags=("W9", "A8"))
def candle_patterns_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 59 CDL pattern columns + candle_pattern_sum
    (``src/candle_to_calcs.py:454-515``), now FULLY ORACLED: every
    pattern rule (max lookback 4 bars) re-expressed in DuckDB as lag
    comparisons + trailing candle-setting averages
    (corpus/cdl_oracle.py) and hash-checked against the numpy kernel
    bit-for-bit, including the horizontal pattern sum (A8)."""
    e = _enriched(spark, sf_dir, families=("cdl",))
    return e.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        *CDL_NAMES,
        "candle_pattern_sum",
    )


_MAJOR_DIST = 10
_MAJOR_PROM = 0.9


def full_peaks_sql(
    series: str,
    kind: str,
    sign: str,
    d: int = _MAJOR_DIST,
    pr: float = _MAJOR_PROM,
    select_cols: str | None = None,
) -> str:
    """scipy find_peaks(distance, prominence) complete: plateau-mid
    local maxima -> greedy suppression by descending height (stable
    ties -> later candidate first, matching argsort[::-1]) as a fold
    over a keep-mask list -> prominence threshold.

    Parameterized over (distance, prominence) and the emitted columns
    so the anchor-machine oracle (corpus/anchors.py) can instantiate
    all three reference scales and read back the kept positions."""
    if select_cols is None:
        select_cols = (
            f"symbol, bs[pp[c]] AS ts, '{kind}' AS kind, round({sign}l[pp[c]], 6) AS level"
        )
    prom = (
        f"l[pp[c]] - greatest("
        f"list_aggregate(l[coalesce(list_max(list_filter(range(1, pp[c]), q -> l[q] > l[pp[c]])), 0) + 1 : pp[c]], 'min'),"
        f"list_aggregate(l[pp[c] : coalesce(list_min(list_filter(range(pp[c] + 1, n + 1), q -> l[q] > l[pp[c]])), n + 1) - 1], 'min'))"
    )
    return f"""
SELECT {select_cols}
FROM (
  SELECT symbol, l, bs, n, pp, hh, p,
    list_reduce(
      [list_transform(range(1, p + 1), c -> 1.0)] ||
      list_transform(
        list_transform(
          list_sort(list_transform(range(1, p + 1), c -> [-hh[c], -CAST(c AS DOUBLE)])),
          e -> -e[2]),
        v -> [v]),
      (acc, x) ->
        CASE WHEN acc[CAST(x[1] AS BIGINT)] = 0.0
             THEN list_transform(acc, vv -> vv + 0.0)
             ELSE list_transform(range(1, p + 1), j ->
                    CASE WHEN j = CAST(x[1] AS BIGINT) THEN 1.0
                         WHEN abs(pp[j] - pp[CAST(x[1] AS BIGINT)]) < {d} THEN 0.0
                         ELSE acc[j] + 0.0 END)
        END) AS keep
  FROM (
    SELECT symbol, any_value(l) AS l, any_value(bs) AS bs, any_value(n) AS n,
           list(m ORDER BY m) AS pp, list(h ORDER BY m) AS hh, count(*) AS p
    FROM (
      SELECT symbol, l, bs, n, (i + j) // 2 AS m, l[i] AS h
      FROM (
        SELECT symbol, l, bs, n, i,
               list_min(list_filter(range(i, n), k -> l[k + 1] != l[i])) AS j
        FROM (SELECT symbol, {series} AS l, bs, len({series}) AS n,
                     unnest(range(2, len({series}))) AS i FROM lists)
        WHERE l[i] > l[i - 1]
      )
      WHERE j IS NOT NULL AND l[j + 1] < l[i]
    )
    GROUP BY symbol
  )
), unnest(range(1, p + 1)) t(c)
WHERE keep[c] = 1.0 AND {prom} >= {pr}
"""



def _peaks_valleys_oracle() -> str:
    """All six peak/valley flags (3 scales x 2 kinds) via the
    parameterized full find_peaks generator: each scale instantiates
    the complete semantics (plateau-mid candidates, greedy descending-
    height distance suppression, prominence threshold), and the flags
    left-join back onto the candle grid."""
    scales = (("major", 10, 0.9), ("minor", 7, 0.7), ("micro", 5, 0.5))
    ctes, joins, flags = [], [], []
    for prefix, d, pr in scales:
        for kind, series in (("peak", "lh"), ("valley", "lnn")):
            n = f"{prefix}_{kind}"
            ctes.append(
                f"{n} AS ({full_peaks_sql(series, kind, '', d, pr, select_cols='symbol, bs[pp[c]] AS ts')})"
            )
            joins.append(
                f"LEFT JOIN {n} ON {n}.symbol = c.symbol AND {n}.ts = strftime(c.timestamp, '{TS_FMT_DUCK}')"
            )
            flags.append(
                f"CAST(CASE WHEN {n}.ts IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS is_{n}"
            )
    cte_block = ",\n".join(ctes)
    join_block = "\n".join(joins)
    flag_block = ",\n       ".join(flags)
    return f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol,
         list(high ORDER BY timestamp) AS lh,
         list(-low ORDER BY timestamp) AS lnn,
         list(strftime(timestamp, '{TS_FMT_DUCK}') ORDER BY timestamp) AS bs
  FROM candles GROUP BY symbol
),
{cte_block}
SELECT c.symbol,
       strftime(c.timestamp, '{TS_FMT_DUCK}') AS bucket_ts,
       {flag_block}
FROM candles c
{join_block}
"""


@register("peaks_valleys", _peaks_valleys_oracle(), tags=("W11",))
def peaks_valleys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak/valley flags at three (distance, prominence) scales
    (``src/candle_to_calcs.py:528-558``), FULLY ORACLED: each scale
    instantiates the complete find_peaks semantics in DuckDB via the
    parameterized generator and the flags are hash-checked against
    the production kernel."""
    e = _enriched(spark, sf_dir, families=("peaks",))
    return e.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        "is_major_peak",
        "is_major_valley",
        "is_minor_peak",
        "is_minor_valley",
        "is_micro_peak",
        "is_micro_valley",
    )


# ---------------------------------------------------------------------------
# Cross-engine differential for the SQL-expressible pattern subset.
# DuckDB reimplements the TA-Lib candle-setting rules independently:
# trailing averages over the 10/5 bars STRICTLY BEFORE each bar
# (NULL while the window is short, matching the kernel's warm-up 0s
# via the CASE gate).
# ---------------------------------------------------------------------------

_CDL_SIMPLE_ORACLE = f"""
WITH {CANDLES_CTE},
anatomy AS (
  SELECT symbol, timestamp, open, high, low, close,
         abs(close - open) AS rb,
         high - low AS hl,
         greatest(close, open) AS top,
         least(close, open) AS bot,
         high - greatest(close, open) AS us,
         least(close, open) - low AS ls,
         CASE WHEN close >= open THEN 1 ELSE -1 END AS color
  FROM candles
),
avgs AS (
  SELECT *,
         CASE WHEN count(*) OVER w10 = 10 THEN avg(hl) OVER w10 END AS hl10,
         CASE WHEN count(*) OVER w10 = 10 THEN avg(rb) OVER w10 END AS rb10,
         CASE WHEN count(*) OVER w10 = 10 THEN avg(us + ls) OVER w10 / 2 END AS ss10,
         CASE WHEN count(*) OVER w5 = 5 THEN avg(hl) OVER w5 END AS hl5
  FROM anatomy
  WINDOW w10 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING),
         w5  AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
),
w AS (
  SELECT *,
         lag(rb) OVER o AS rb_1,
         lag(top) OVER o AS top_1,
         lag(bot) OVER o AS bot_1,
         lag(open) OVER o AS o_1,
         lag(close) OVER o AS c_1,
         lag(high) OVER o AS h_1,
         lag(color) OVER o AS color_1,
         lag(rb10) OVER o AS rb10_1,
         lag(hl10) OVER o AS hl10_1,
         lag(hl5) OVER o AS hl5_1,
         lag(low) OVER o AS l_1
  FROM avgs
  WINDOW o AS (PARTITION BY symbol ORDER BY timestamp)
)
SELECT symbol,
       strftime(timestamp, '{TS_FMT_DUCK}') AS bucket_ts,
       CASE WHEN rb <= 0.1 * hl10 THEN 100 ELSE 0 END AS CDLDOJI,
       CASE WHEN color = 1 AND color_1 = -1 AND close > o_1 AND open < c_1 THEN 100
            WHEN color = -1 AND color_1 = 1 AND open > c_1 AND close < o_1 THEN -100
            ELSE 0 END AS CDLENGULFING,
       CASE WHEN color_1 = -1 AND color = -1 AND abs(close - c_1) <= 0.05 * hl5_1
            THEN 100 ELSE 0 END AS CDLMATCHINGLOW,
       CASE WHEN rb_1 > rb10_1 AND rb <= rb10
                 AND top < top_1 AND bot > bot_1
            THEN -100 * color_1 ELSE 0 END AS CDLHARAMI,
       CASE WHEN rb < rb10 AND us > rb AND ls > rb THEN 100 * color ELSE 0 END AS CDLSPINNINGTOP,
       CASE WHEN rb > rb10 AND us < 0.1 * hl10 AND ls < 0.1 * hl10
            THEN 100 * color ELSE 0 END AS CDLMARUBOZU,
       CASE WHEN rb > rb10 AND ((color = 1 AND ls < 0.1 * hl10) OR (color = -1 AND us < 0.1 * hl10))
            THEN 100 * color ELSE 0 END AS CDLBELTHOLD,
       CASE WHEN rb > rb10 AND us < ss10 AND ls < ss10
            THEN 100 * color ELSE 0 END AS CDLLONGLINE,
       CASE WHEN rb < rb10 AND us > 2 * rb AND ls > 2 * rb
            THEN 100 * color ELSE 0 END AS CDLHIGHWAVE,
       CASE WHEN rb <= 0.1 * hl10 AND us < 0.1 * hl10 AND ls > 0.1 * hl10
            THEN 100 ELSE 0 END AS CDLDRAGONFLYDOJI,
       CASE WHEN rb < rb10 AND ls > rb AND us < 0.1 * hl10
                 AND bot >= h_1 - 0.2 * hl5_1
            THEN -100 ELSE 0 END AS CDLHANGINGMAN,
       CASE WHEN rb <= 0.1 * hl10 AND (ls > rb OR us > rb) THEN 100 ELSE 0 END AS CDLLONGLEGGEDDOJI,
       CASE WHEN rb <= 0.1 * hl10 AND ls < 0.1 * hl10 AND us > 0.1 * hl10
            THEN 100 ELSE 0 END AS CDLGRAVESTONEDOJI,
       CASE WHEN rb <= 0.1 * hl10 AND us < 0.1 * hl10 AND ls > 2 * rb
            THEN 100 ELSE 0 END AS CDLTAKURI,
       CASE WHEN rb <= 0.1 * hl10 AND ls > rb AND us > rb
                 AND bot <= low + hl / 2 + 0.2 * hl5
                 AND top >= low + hl / 2 - 0.2 * hl5
            THEN 100 ELSE 0 END AS CDLRICKSHAWMAN,
       CASE WHEN rb < rb10 AND ls > rb AND us < 0.1 * hl10
                 AND bot <= l_1 + 0.2 * hl5_1
            THEN 100 ELSE 0 END AS CDLHAMMER,
       CASE WHEN rb < rb10 AND us > rb AND ls < 0.1 * hl10 AND top < bot_1
            THEN 100 ELSE 0 END AS CDLINVERTEDHAMMER,
       CASE WHEN rb < rb10 AND us > rb AND ls < 0.1 * hl10 AND bot > top_1
            THEN -100 ELSE 0 END AS CDLSHOOTINGSTAR,
       CASE WHEN rb > rb10 AND ((color = 1 AND us < 0.1 * hl10) OR (color = -1 AND ls < 0.1 * hl10))
            THEN 100 * color ELSE 0 END AS CDLCLOSINGMARUBOZU,
       CASE WHEN rb < rb10 AND us < ss10 AND ls < ss10
            THEN 100 * color ELSE 0 END AS CDLSHORTLINE,
       CASE WHEN rb_1 > rb10_1 AND rb <= 0.1 * hl10
                 AND top < top_1 AND bot > bot_1
            THEN -100 * color_1 ELSE 0 END AS CDLHARAMICROSS,
       CASE WHEN color_1 = -1 AND rb_1 > rb10_1 AND color = 1 AND rb > rb10
                 AND open < l_1 AND close > c_1 + rb_1 * 0.5 AND close < o_1
            THEN 100 ELSE 0 END AS CDLPIERCING,
       CASE WHEN color_1 = 1 AND rb_1 > rb10_1 AND color = -1
                 AND open > h_1 AND close > o_1 AND close < c_1 - rb_1 * 0.5
            THEN -100 ELSE 0 END AS CDLDARKCLOUDCOVER
FROM w
"""


@register("cdl_patterns_simple", _CDL_SIMPLE_ORACLE, tags=("W9",))
def cdl_patterns_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """23 of the 59 CDL patterns — every rule that reduces to lag
    comparisons + trailing setting-averages (all dojis, hammers,
    marubozus, stars, engulfing/harami/piercing families) — emitted
    from the SAME kernel as the full pack and
    verified against an independent DuckDB SQL reimplementation of
    the TA-Lib candle-setting framework — the cross-engine
    differential for W9."""
    e = _enriched(spark, sf_dir, families=("cdl",))
    return e.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        "CDLDOJI",
        "CDLENGULFING",
        "CDLMATCHINGLOW",
        "CDLHARAMI",
        "CDLSPINNINGTOP",
        "CDLMARUBOZU",
        "CDLBELTHOLD",
        "CDLLONGLINE",
        "CDLHIGHWAVE",
        "CDLDRAGONFLYDOJI",
        "CDLHANGINGMAN",
        "CDLLONGLEGGEDDOJI",
        "CDLGRAVESTONEDOJI",
        "CDLTAKURI",
        "CDLRICKSHAWMAN",
        "CDLHAMMER",
        "CDLINVERTEDHAMMER",
        "CDLSHOOTINGSTAR",
        "CDLCLOSINGMARUBOZU",
        "CDLSHORTLINE",
        "CDLHARAMICROSS",
        "CDLPIERCING",
        "CDLDARKCLOUDCOVER",
    )


# ---------------------------------------------------------------------------
# W3/W7 foundation: per-row EMA with a TRUE cross-engine oracle
# ---------------------------------------------------------------------------

def _ema_case(n: int) -> str:
    k = f"(2.0/{n + 1}.0)"
    seed = f"list_reduce(l[1:{n}], (acc,x) -> acc + x) / {n}.0"
    return f"""
  CASE WHEN i < {n} THEN NULL
       WHEN i = {n} THEN round({seed}, 4)
       ELSE round(list_reduce([{seed}] || l[{n + 1}:i],
                              (acc, x) -> (x - acc) * {k} + acc), 4)
  END"""


_EMA_ORACLE = f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol, list(close ORDER BY timestamp) AS l,
         list(timestamp ORDER BY timestamp) AS bs
  FROM candles GROUP BY symbol
),
idx AS (SELECT symbol, l, bs, unnest(range(1, len(l) + 1)) AS i FROM lists)
SELECT symbol, strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts,
       {_ema_case(12)} AS ema12,
       {_ema_case(26)} AS ema26
FROM idx
"""


@register("ema_recursive", _EMA_ORACLE, tags=("W3", "W7"))
def ema_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row EMA(12) and EMA(26) — the recursive foundation of the
    whole W3/W7 family (MACD, T3) — with a REAL DuckDB oracle: the
    oracle replays the kernel's exact arithmetic (sequential-fold SMA
    seed, then `(x - prev) * k + prev`) as a per-row prefix
    `list_reduce`, so the recursion itself is cross-engine verified,
    not just golden-pinned. 4-decimal rounding absorbs the only
    engine difference left (compiler FMA fusion in the last bits).

    Spark side: shape-routed (operators/jvm_folds.py:scan_by_key —
    round 6): the pure-JVM aggregate() scan fold below the measured
    rows-per-key crossover, the bit-identical ta.ema numpy kernel
    above it (tests/test_jvm_folds.py pins exact parity both ways)."""
    from auto_trade_data_pipeline_spark.functions import ta
    from auto_trade_data_pipeline_spark.operators import jvm_folds as jf

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)
    closes = "transform(s, e -> e.close)"

    def _ema_np(p):
        return lambda pdf: ta.ema(pdf["close"].to_numpy(dtype=float), p)

    out = jf.scan_by_key(
        candles.select("symbol", "timestamp", "close"),
        ["symbol"],
        "timestamp",
        ["close"],
        {
            "ema12": jf.ema_scan_sql(closes, 12),
            "ema26": jf.ema_scan_sql(closes, 26),
        },
        numpy_scans={
            "ema12": ("double", _ema_np(12)),
            "ema26": ("double", _ema_np(26)),
        },
        rows_per_key=jf.rows_per_key_estimate(sf_dir, "events", N_TICK_SYMBOLS),
    )
    return out.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        F.round("ema12", 4).alias("ema12"),
        F.round("ema26", 4).alias("ema26"),
    )


# ---------------------------------------------------------------------------
# W11: peak/valley prominence with a TRUE cross-engine oracle
# (distance=1 restricted config — no greedy suppression to replicate)
# ---------------------------------------------------------------------------

_PEAK_PROM = 0.9


def _peaks_sql(series: str, kind: str) -> str:
    """Scipy find_peaks(distance=1, prominence=p) re-derived in SQL
    over a per-symbol list: plateau-midpoint local maxima, then the
    strictly-higher-crossing prominence definition."""
    return f"""
SELECT symbol, bs[m] AS ts, '{kind}' AS kind, l[m] AS level,
       round(l[m] - greatest(
         list_aggregate(l[coalesce(list_max(list_filter(range(1, m), j -> l[j] > l[m])), 0) + 1 : m], 'min'),
         list_aggregate(l[m : coalesce(list_min(list_filter(range(m + 1, n + 1), j -> l[j] > l[m])), n + 1) - 1], 'min')
       ), 6) AS prominence
FROM (
  SELECT symbol, l, bs, n, (i + j) // 2 AS m
  FROM (
    SELECT symbol, l, bs, n, i,
           list_min(list_filter(range(i, n), k -> l[k + 1] != l[i])) AS j
    FROM (SELECT symbol, {series} AS l, bs, len({series}) AS n,
                 unnest(range(2, len({series}))) AS i
          FROM lists)
    WHERE l[i] > l[i - 1]
  )
  WHERE j IS NOT NULL AND l[j + 1] < l[i]
)
WHERE l[m] - greatest(
        list_aggregate(l[coalesce(list_max(list_filter(range(1, m), j -> l[j] > l[m])), 0) + 1 : m], 'min'),
        list_aggregate(l[m : coalesce(list_min(list_filter(range(m + 1, n + 1), j -> l[j] > l[m])), n + 1) - 1], 'min')
      ) >= {_PEAK_PROM}
"""


_PEAKS_ORACLE = f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol,
         list(high ORDER BY timestamp) AS lh,
         list(-low ORDER BY timestamp) AS ln,
         list(strftime(timestamp, '{TS_FMT_DUCK}') ORDER BY timestamp) AS bs
  FROM candles GROUP BY symbol
),
pk AS ({_peaks_sql('lh', 'peak')}),
vl AS ({_peaks_sql('ln', 'valley')})
SELECT symbol, ts AS bucket_ts, kind, round(level, 6) AS level, prominence FROM pk
UNION ALL
SELECT symbol, ts AS bucket_ts, kind, round(-level, 6) AS level, prominence FROM vl
"""


@register("peaks_prominence_d1", _PEAKS_ORACLE, tags=("W11",))
def peaks_prominence_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 with a REAL oracle: scipy-semantics peaks and valleys at
    distance=1, prominence>=0.9 — plateau-midpoint local extrema and
    the strictly-higher-crossing prominence definition, re-derived
    independently in DuckDB list algebra. This cross-engine-verifies
    the prominence machinery itself (the O(n log n) monotonic-stack
    implementation against a direct O(n^2) restatement); the greedy
    distance suppression stays pytest-pinned (`peaks_valleys`).

    Spark side: the production ta.find_peaks kernel per symbol."""
    import numpy as np
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions import ta

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        rows = []
        for series, kind, sign in (
            (pdf["high"].to_numpy(dtype=float), "peak", 1.0),
            (-pdf["low"].to_numpy(dtype=float), "valley", -1.0),
        ):
            idx = ta.find_peaks(series, 1, _PEAK_PROM)
            proms = ta._prominences(series, idx)
            for i, p in zip(idx, proms):
                rows.append(
                    (
                        pdf["symbol"].iloc[0],
                        pdf["timestamp"].iloc[int(i)],
                        kind,
                        float(sign * series[int(i)]),
                        float(p),
                    )
                )
        return pd.DataFrame(
            rows, columns=["symbol", "timestamp", "kind", "level", "prominence"]
        )

    out = candles.select("symbol", "timestamp", "high", "low").groupBy(
        "symbol"
    ).applyInPandas(
        kernel,
        schema="symbol string, timestamp timestamp, kind string, level double, prominence double",
    )
    return out.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        "kind",
        F.round("level", 6).alias("level"),
        F.round("prominence", 6).alias("prominence"),
    )


# ---------------------------------------------------------------------------
# W5: Wilder ATR with a TRUE cross-engine oracle
# ---------------------------------------------------------------------------

_ATR_N = 14

_ATR_ORACLE = f"""
WITH {CANDLES_CTE},
tr AS (
  SELECT symbol, timestamp,
         CASE WHEN lag(close) OVER w IS NULL THEN high - low
              ELSE greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) END AS tr
  FROM candles
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
),
lists AS (
  SELECT symbol, list(tr ORDER BY timestamp) AS t,
         list(timestamp ORDER BY timestamp) AS bs
  FROM tr GROUP BY symbol
),
idx AS (SELECT symbol, t, bs, unnest(range(1, len(t) + 1)) AS i FROM lists)
SELECT symbol, strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts,
  CASE WHEN i <= {_ATR_N} THEN NULL
       WHEN i = {_ATR_N + 1} THEN round(list_reduce(t[2:{_ATR_N + 1}], (acc,x) -> acc + x) / {_ATR_N}.0, 4)
       ELSE round(list_reduce(
              [list_reduce(t[2:{_ATR_N + 1}], (acc,x) -> acc + x) / {_ATR_N}.0] || t[{_ATR_N + 2}:i],
              (acc, x) -> (acc * {_ATR_N - 1}.0 + x) / {_ATR_N}.0), 4)
  END AS atr
FROM idx
"""


@register("atr_recursive", _ATR_ORACLE, tags=("W5",))
def atr_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row Wilder ATR(14) with a REAL DuckDB oracle: true range
    via a lag window, then the TA-Lib seeding (SMA of TR[1..14] at
    index 14) and Wilder recursion ``(prev*13 + tr)/14`` replayed as
    a per-row prefix list_reduce — cross-engine verification of the
    W5 smoothing machinery (the ADX/DI family shares it). Spark side:
    shape-routed (operators/jvm_folds.py:scan_by_key, round 6) —
    pure-JVM aggregate() scan fold below the rows-per-key crossover,
    the bit-identical ta.atr numpy kernel above it. True range is a
    zip_with over the one-element-shifted bar array — identical to
    the kernel's lag semantics."""
    from auto_trade_data_pipeline_spark.functions import ta
    from auto_trade_data_pipeline_spark.operators import jvm_folds as jf

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)
    tr_arr = (
        "zip_with(s, array_insert(slice(s, 1, size(s) - 1), 1, s[0]),"
        " (cur, prv) -> CASE WHEN cur.timestamp = prv.timestamp"
        " THEN cur.high - cur.low"
        " ELSE greatest(cur.high - cur.low, abs(cur.high - prv.close),"
        " abs(cur.low - prv.close)) END)"
    )

    def _atr_np(pdf):
        return ta.atr(
            pdf["high"].to_numpy(dtype=float),
            pdf["low"].to_numpy(dtype=float),
            pdf["close"].to_numpy(dtype=float),
            _ATR_N,
        )

    out = jf.scan_by_key(
        candles.select("symbol", "timestamp", "high", "low", "close"),
        ["symbol"],
        "timestamp",
        ["high", "low", "close"],
        {"atr": jf.wilder_atr_scan_sql(tr_arr, _ATR_N)},
        numpy_scans={"atr": ("double", _atr_np)},
        rows_per_key=jf.rows_per_key_estimate(sf_dir, "events", N_TICK_SYMBOLS),
    )
    return out.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        F.round("atr", 4).alias("atr"),
    )


# ---------------------------------------------------------------------------
# W7: Tillson T3 with a TRUE cross-engine oracle (6 chained EMA folds)
# ---------------------------------------------------------------------------

_T3_P = 60
_T3_V = 0.7
# Exact coefficient doubles, inlined with full-precision repr so both
# engines combine identical constants (power() could differ in the
# last bit).
_T3_C1 = repr(-(_T3_V**3))
_T3_C2 = repr(3 * _T3_V**2 + 3 * _T3_V**3)
_T3_C3 = repr(-6 * _T3_V**2 - 3 * _T3_V - 3 * _T3_V**3)
_T3_C4 = repr(1 + 3 * _T3_V + _T3_V**3 + 3 * _T3_V**2)


def _ema_stage(src: str, valid_from: int, p: int = _T3_P) -> str:
    """One SMA-seeded EMA pass over list `src` whose first finite
    element sits at 1-based index `valid_from` — emitted as a new
    per-index list (NULL before valid_from + p - 1)."""
    k = f"(2.0/{p + 1}.0)"
    seed = f"list_reduce({src}[{valid_from}:{valid_from + p - 1}], (acc,x) -> acc + x) / {p}.0"
    first = valid_from + p - 1
    return f"""list_transform(range(1, n + 1), i ->
      CASE WHEN i < {first} THEN NULL
           WHEN i = {first} THEN {seed}
           ELSE list_reduce([{seed}] || {src}[{first + 1}:i],
                            (acc, x) -> (x - acc) * {k} + acc)
      END)"""


def _t3_oracle() -> str:
    p = _T3_P
    stages = []
    for stage_k in range(1, 7):
        valid_from = (stage_k - 1) * (p - 1) + 1
        src = "c" if stage_k == 1 else "e"
        stages.append(
            f"s{stage_k} AS (SELECT symbol, bs, n, {_ema_stage(src, valid_from)} AS e"
            f" FROM {'lists' if stage_k == 1 else f's{stage_k - 1}'})"
        )
    t3_first = 6 * (p - 1) + 1
    return f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol, list(close ORDER BY timestamp) AS c,
         list(timestamp ORDER BY timestamp) AS bs, len(list(close)) AS n
  FROM candles GROUP BY symbol
),
{"," .join(stages)},
final AS (
  SELECT s6.symbol, s6.bs, s6.n, s6.e AS e6, s5.e AS e5, s4.e AS e4, s3.e AS e3
  FROM s6 JOIN s5 USING (symbol) JOIN s4 USING (symbol) JOIN s3 USING (symbol)
)
SELECT symbol, strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts,
       CASE WHEN i < {t3_first} THEN NULL
            ELSE round({_T3_C1} * e6[i] + {_T3_C2} * e5[i]
                       + {_T3_C3} * e4[i] + {_T3_C4} * e3[i], 4) END AS t3
FROM final, unnest(range(1, n + 1)) AS u(i)
"""


@register("t3_recursive", _t3_oracle(), tags=("W7",))
def t3_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row Tillson T3(60, 0.7) with a REAL DuckDB oracle: all six
    cascaded SMA-seeded EMA stages replayed as chained per-row prefix
    folds, combined with bit-identical inlined coefficients — the
    deepest recursive chain in the indicator surface, cross-engine
    verified end to end. Spark side: the production ta.t3 kernel."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions import ta

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "timestamp": pdf["timestamp"],
                "t3": ta.t3(pdf["close"].to_numpy(dtype=float), _T3_P, _T3_V),
            }
        )

    out = candles.select("symbol", "timestamp", "close").groupBy("symbol").applyInPandas(
        kernel, schema="symbol string, timestamp timestamp, t3 double"
    )
    return out.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        F.round("t3", 4).alias("t3"),
    )


# ---------------------------------------------------------------------------
# W2: Wilder ADX / DI with a TRUE cross-engine oracle
# ---------------------------------------------------------------------------

_ADX_N = 14


def _adx_oracle() -> str:
    p = _ADX_N
    wl = f"(acc, x) -> acc - acc / {p}.0 + x"          # Wilder SUM smoothing
    wa = f"(acc, x) -> (acc * {p - 1}.0 + x) / {p}.0"  # Wilder AVERAGE
    first = p + 1           # 1-based bar of the first DI value
    adx_first = 2 * p       # 1-based bar of the first ADX value

    def smoothed(src: str) -> str:
        seed = f"list_reduce({src}[1:{p}], (acc,x) -> acc + x)"
        return f"""list_transform(range(1, n + 1), i ->
          CASE WHEN i < {first} THEN NULL
               WHEN i = {first} THEN {seed}
               ELSE list_reduce([{seed}] || {src}[{first}:i - 1], {wl})
          END)"""

    return f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol, list(high ORDER BY timestamp) AS ph,
         list(low ORDER BY timestamp) AS pl,
         list(close ORDER BY timestamp) AS pc,
         list(timestamp ORDER BY timestamp) AS bs,
         len(list(high)) AS n
  FROM candles GROUP BY symbol
),
diffs AS (
  SELECT symbol, bs, n,
    list_transform(range(1, n), d ->
      CASE WHEN ph[d+1] - ph[d] > pl[d] - pl[d+1] AND ph[d+1] - ph[d] > 0
           THEN ph[d+1] - ph[d] ELSE 0.0 END) AS pd,
    list_transform(range(1, n), d ->
      CASE WHEN pl[d] - pl[d+1] > ph[d+1] - ph[d] AND pl[d] - pl[d+1] > 0
           THEN pl[d] - pl[d+1] ELSE 0.0 END) AS md,
    list_transform(range(1, n), d ->
      greatest(ph[d+1] - pl[d+1], abs(ph[d+1] - pc[d]), abs(pl[d+1] - pc[d]))) AS trl
  FROM lists
),
sm AS (
  SELECT symbol, bs, n,
         {smoothed('pd')} AS sp,
         {smoothed('md')} AS smn,
         {smoothed('trl')} AS st
  FROM diffs
),
di AS (
  SELECT symbol, bs, n,
    list_transform(range(1, n + 1), i ->
      CASE WHEN st[i] IS NULL THEN NULL
           WHEN st[i] = 0.0 THEN 0.0
           ELSE 100.0 * sp[i] / st[i] END) AS pdi,
    list_transform(range(1, n + 1), i ->
      CASE WHEN st[i] IS NULL THEN NULL
           WHEN st[i] = 0.0 THEN 0.0
           ELSE 100.0 * smn[i] / st[i] END) AS mdi
  FROM sm
),
dx AS (
  SELECT symbol, bs, n, pdi, mdi,
    list_transform(range(1, n - {p} + 1), j ->
      CASE WHEN pdi[{p} + j] + mdi[{p} + j] > 0.0
           THEN 100.0 * abs(pdi[{p} + j] - mdi[{p} + j]) / (pdi[{p} + j] + mdi[{p} + j])
           ELSE 0.0 END) AS dxj
  FROM di
)
SELECT symbol, strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts,
  CASE WHEN i < {adx_first} THEN NULL
       WHEN i = {adx_first} THEN round(list_reduce(dxj[1:{p}], (acc,x) -> acc + x) / {p}.0, 4)
       ELSE round(list_reduce(
              [list_reduce(dxj[1:{p}], (acc,x) -> acc + x) / {p}.0] || dxj[{p + 1}:i - {p}],
              {wa}), 4)
  END AS adx,
  round(pdi[i], 4) AS plus_di,
  round(mdi[i], 4) AS minus_di
FROM dx, unnest(range(1, n + 1)) AS u(i)
"""


@register("adx_recursive", _adx_oracle(), tags=("W2",))
def adx_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row Wilder ADX / +DI / -DI with a REAL DuckDB oracle: the
    directional-movement split, three parallel Wilder SUM smoothings,
    the DI ratios, the DX series, and the Wilder-AVERAGED ADX are all
    replayed as chained per-row prefix folds with the kernel's exact
    arithmetic (including the zero-TR and zero-DI-sum guards) —
    completing cross-engine verification of the Wilder family (W2 +
    W5). Spark side: the production ta.adx_di kernel."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions import ta

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        adx, pdi, mdi = ta.adx_di(
            pdf["high"].to_numpy(dtype=float),
            pdf["low"].to_numpy(dtype=float),
            pdf["close"].to_numpy(dtype=float),
            _ADX_N,
        )
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "timestamp": pdf["timestamp"],
                "adx": adx,
                "plus_di": pdi,
                "minus_di": mdi,
            }
        )

    out = candles.select("symbol", "timestamp", "high", "low", "close").groupBy(
        "symbol"
    ).applyInPandas(
        kernel,
        schema="symbol string, timestamp timestamp, adx double, plus_di double, minus_di double",
    )
    return out.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        F.round("adx", 4).alias("adx"),
        F.round("plus_di", 4).alias("plus_di"),
        F.round("minus_di", 4).alias("minus_di"),
    )


# ---------------------------------------------------------------------------
# W3: full MACD (line / signal / histogram) cross-engine oracle
# ---------------------------------------------------------------------------

def _macd_oracle(fast: int = 12, slow: int = 26, signal: int = 9) -> str:
    first = slow - 1 + signal - 1 + 1  # 1-based first emitted bar (34)
    return f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol, list(close ORDER BY timestamp) AS c,
         list(timestamp ORDER BY timestamp) AS bs, len(list(close)) AS n
  FROM candles GROUP BY symbol
),
emas AS (
  SELECT symbol, bs, n,
         {_ema_stage('c', 1, fast)} AS e12,
         {_ema_stage('c', 1, slow)} AS e26
  FROM lists
),
ml AS (
  SELECT symbol, bs, n,
    list_transform(range(1, n + 1), i ->
      CASE WHEN i < {slow} THEN NULL ELSE e12[i] - e26[i] END) AS ll
  FROM emas
),
sg AS (
  SELECT symbol, bs, n, ll, {_ema_stage('ll', slow, signal)} AS sig FROM ml
)
SELECT symbol, strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts,
       CASE WHEN i >= {first} THEN round(ll[i], 4) END AS macd,
       CASE WHEN i >= {first} THEN round(sig[i], 4) END AS macd_signal,
       CASE WHEN i >= {first} THEN round(ll[i] - sig[i], 4) END AS macd_diff
FROM sg, unnest(range(1, n + 1)) AS u(i)
"""


@register("macd_recursive", _macd_oracle(), tags=("W3",))
def macd_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row MACD(12, 26, 9) — line, signal, histogram — with a
    REAL DuckDB oracle: both component EMAs, the signal EMA over the
    (NaN-leading) macd line, and TA-Lib's histogram-aligned output
    window all replayed exactly. Completes the W3 family's
    cross-engine verification. Spark side: the production ta.macd
    kernel."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions import ta

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        line, sig, hist = ta.macd(pdf["close"].to_numpy(dtype=float), 12, 26, 9)
        import numpy as np

        first = 26 - 1 + 9 - 1
        sig = sig.copy()
        hist = hist.copy()
        if len(sig) > first:
            sig[:first] = np.nan
            hist[:first] = np.nan
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "timestamp": pdf["timestamp"],
                "macd": line,
                "macd_signal": sig,
                "macd_diff": hist,
            }
        )

    out = candles.select("symbol", "timestamp", "close").groupBy("symbol").applyInPandas(
        kernel,
        schema="symbol string, timestamp timestamp, macd double, macd_signal double, macd_diff double",
    )
    return out.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        F.round("macd", 4).alias("macd"),
        F.round("macd_signal", 4).alias("macd_signal"),
        F.round("macd_diff", 4).alias("macd_diff"),
    )


# ---------------------------------------------------------------------------
# W4: Parabolic SAR state machine with a TRUE cross-engine oracle
# ---------------------------------------------------------------------------

#: SAR fold over list-typed state [lng, af, ep, sar] (element k carries
#: [high_k, low_k, high_{k-1}, low_{k-1}]). List state ON PURPOSE:
#: DuckDB 1.0's struct accumulators alias in-place updates across both
#: same-step field copies and vector batches (verified empirically);
#: list accumulators evaluate strictly. Every arithmetic step mirrors
#: ta.psar exactly — separate vectorized ops, no FMA — so branches
#: (reversals!) agree bit-for-bit with the numpy kernel.
_PSAR_LAMBDA = """
  (acc, x) ->
    CASE
    WHEN acc[1] = 1.0 AND x[2] < acc[4] THEN
      [0.0, 0.02, x[2],
       greatest(greatest(acc[3], x[1], x[3]) + 0.02 * (x[2] - greatest(acc[3], x[1], x[3])), x[1], x[3])]
    WHEN acc[1] = 1.0 THEN
      [1.0,
       CASE WHEN x[1] > acc[3] THEN least(acc[2] + 0.02, 0.2) ELSE acc[2] END,
       CASE WHEN x[1] > acc[3] THEN x[1] ELSE acc[3] END,
       least(acc[4] + (CASE WHEN x[1] > acc[3] THEN least(acc[2] + 0.02, 0.2) ELSE acc[2] END)
             * ((CASE WHEN x[1] > acc[3] THEN x[1] ELSE acc[3] END) - acc[4]), x[2], x[4])]
    WHEN acc[1] = 0.0 AND x[1] > acc[4] THEN
      [1.0, 0.02, x[1],
       least(least(acc[3], x[2], x[4]) + 0.02 * (x[1] - least(acc[3], x[2], x[4])), x[2], x[4])]
    ELSE
      [0.0,
       CASE WHEN x[2] < acc[3] THEN least(acc[2] + 0.02, 0.2) ELSE acc[2] END,
       CASE WHEN x[2] < acc[3] THEN x[2] ELSE acc[3] END,
       greatest(acc[4] + (CASE WHEN x[2] < acc[3] THEN least(acc[2] + 0.02, 0.2) ELSE acc[2] END)
                * ((CASE WHEN x[2] < acc[3] THEN x[2] ELSE acc[3] END) - acc[4]), x[1], x[3])]
    END
"""

_PSAR_ORACLE = f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol, list(high ORDER BY timestamp) AS ph,
         list(low ORDER BY timestamp) AS pl,
         list(timestamp ORDER BY timestamp) AS bs,
         len(list(high)) AS n
  FROM candles GROUP BY symbol
),
st AS (
  SELECT *, [CASE WHEN (pl[1] - pl[2] > ph[2] - ph[1]) AND (pl[1] - pl[2] > 0) THEN 0.0 ELSE 1.0 END,
             0.02,
             CASE WHEN (pl[1] - pl[2] > ph[2] - ph[1]) AND (pl[1] - pl[2] > 0) THEN pl[2] ELSE ph[2] END,
             CASE WHEN (pl[1] - pl[2] > ph[2] - ph[1]) AND (pl[1] - pl[2] > 0) THEN ph[1] ELSE pl[1] END] AS s0
  FROM lists
),
rows AS (
  SELECT st.symbol, st.ph, st.pl, st.bs, u.i,
    list_reduce([s0] || list_transform(range(2, u.i), k -> [ph[k], pl[k], ph[k-1], pl[k-1]]),
      {_PSAR_LAMBDA}) AS sp
  FROM st, unnest(range(2, n + 1)) AS u(i)
)
SELECT symbol, strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts,
  round(CASE WHEN sp[1] = 1.0 AND pl[i] < sp[4] THEN greatest(sp[3], ph[i], ph[i-1])
             WHEN sp[1] = 1.0 THEN sp[4] + 0.0
             WHEN sp[1] = 0.0 AND ph[i] > sp[4] THEN least(sp[3], pl[i], pl[i-1])
             ELSE sp[4] + 0.0 END, 4) AS psar
FROM rows
UNION ALL
SELECT symbol, strftime(bs[1], '{TS_FMT_DUCK}') AS bucket_ts, CAST(NULL AS DOUBLE) AS psar
FROM lists
"""


@register("psar_recursive", _PSAR_ORACLE, tags=("W4",))
def psar_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row Parabolic SAR — Wilder's branching state machine
    (trend, acceleration factor, extreme point, reversal clamps) —
    with a REAL DuckDB oracle: the full state machine replayed as a
    per-row prefix fold over list-typed state, BIT-exact including
    every reversal branch (all arithmetic is strict IEEE add/mul/
    min/max on both engines, so float comparisons branch
    identically). This closes the last recursive indicator family;
    only the greedy peak-distance suppression and the anchor machine
    remain golden-pinned. Spark side: the production ta.psar kernel."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions import ta

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "timestamp": pdf["timestamp"],
                "psar": ta.psar(
                    pdf["high"].to_numpy(dtype=float),
                    pdf["low"].to_numpy(dtype=float),
                    0.02,
                    0.2,
                ),
            }
        )

    out = candles.select("symbol", "timestamp", "high", "low").groupBy(
        "symbol"
    ).applyInPandas(kernel, schema="symbol string, timestamp timestamp, psar double")
    return out.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        F.round("psar", 4).alias("psar"),
    )


# ---------------------------------------------------------------------------
# W11 complete: full find_peaks semantics (distance=10, prominence=0.9)
# ---------------------------------------------------------------------------

_FULL_PEAKS_ORACLE = f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol,
         list(high ORDER BY timestamp) AS lh,
         list(-low ORDER BY timestamp) AS lnn,
         list(strftime(timestamp, '{TS_FMT_DUCK}') ORDER BY timestamp) AS bs
  FROM candles GROUP BY symbol
),
pk AS ({full_peaks_sql('lh', 'peak', '')}),
vl AS ({full_peaks_sql('lnn', 'valley', '-')})
SELECT symbol, ts AS bucket_ts, kind, level FROM pk
UNION ALL
SELECT symbol, ts AS bucket_ts, kind, level FROM vl
"""


@register("peaks_major_full", _FULL_PEAKS_ORACLE, tags=("W11",))
def peaks_major_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 at FULL semantics: the major-scale peaks and valleys
    (distance=10, prominence=0.9) — exactly the kernel's
    is_major_peak / is_major_valley flags — with a complete DuckDB
    oracle including the greedy distance suppression (descending
    height, stable-tie order) as a keep-mask fold. Together with
    `peaks_prominence_d1`, the whole scipy find_peaks subset is now
    cross-engine verified; nothing of W11 remains golden-only.
    Spark side: the production ta.find_peaks kernel."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions import ta

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        rows = []
        for series, kind, sign in (
            (pdf["high"].to_numpy(dtype=float), "peak", 1.0),
            (-pdf["low"].to_numpy(dtype=float), "valley", -1.0),
        ):
            for i in ta.find_peaks(series, _MAJOR_DIST, _MAJOR_PROM):
                rows.append(
                    (pdf["symbol"].iloc[0], pdf["timestamp"].iloc[int(i)], kind,
                     float(sign * series[int(i)]))
                )
        return pd.DataFrame(rows, columns=["symbol", "timestamp", "kind", "level"])

    out = candles.select("symbol", "timestamp", "high", "low").groupBy(
        "symbol"
    ).applyInPandas(
        kernel, schema="symbol string, timestamp timestamp, kind string, level double"
    )
    return out.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        "kind",
        F.round("level", 6).alias("level"),
    )


# ---------------------------------------------------------------------------
# The COMPLETE recursive pack, oracled: every indicator family's
# unrounded fold composed per (symbol, i), plus all derived columns
# ---------------------------------------------------------------------------


def _pack_oracle() -> str:
    """indicators_recursive_pack's full DuckDB twin: ADX/DI, MACD,
    PSAR (+trend/reversal), ATR (+norm/change/volatility), T3
    (+slope/trend labels) and typical price — the same per-row prefix
    folds as the standalone oracles but UNROUNDED, joined per
    (symbol, i), with the kernel's nan_to_num / placeholder-fill /
    diff semantics applied before the pack's round-6."""
    p = _ADX_N
    wl = f"(acc, x) -> acc - acc / {p}.0 + x"
    wa = f"(acc, x) -> (acc * {p - 1}.0 + x) / {p}.0"
    first = p + 1
    adx_first = 2 * p

    def smoothed(src: str) -> str:
        seed = f"list_reduce({src}[1:{p}], (acc,x) -> acc + x)"
        return f"""list_transform(range(1, n + 1), i ->
          CASE WHEN i < {first} THEN NULL
               WHEN i = {first} THEN {seed}
               ELSE list_reduce([{seed}] || {src}[{first}:i - 1], {wl})
          END)"""

    atr_seed = f"list_reduce(t[2:{_ATR_N + 1}], (acc,x) -> acc + x) / {_ATR_N}.0"
    atr_expr = f"""list_transform(range(1, n + 1), i ->
      CASE WHEN i <= {_ATR_N} THEN NULL
           WHEN i = {_ATR_N + 1} THEN {atr_seed}
           ELSE list_reduce([{atr_seed}] || t[{_ATR_N + 2}:i],
                            (acc, x) -> (acc * {_ATR_N - 1}.0 + x) / {_ATR_N}.0)
      END)"""

    t3_stages = []
    for stage_k in range(1, 7):
        valid_from = (stage_k - 1) * (_T3_P - 1) + 1
        src = "pc" if stage_k == 1 else "e"
        prev = "lists" if stage_k == 1 else f"ps{stage_k - 1}"
        t3_stages.append(
            f"ps{stage_k} AS (SELECT symbol, n, {_ema_stage(src, valid_from)} AS e"
            f" FROM {prev}" + (" JOIN lists USING (symbol, n)" if stage_k > 1 and False else "") + ")"
        )
    t3_first = 6 * (_T3_P - 1) + 1
    adx_val = f"""CASE WHEN i < {adx_first} THEN NULL
       WHEN i = {adx_first} THEN list_reduce(dxj[1:{p}], (acc,x) -> acc + x) / {p}.0
       ELSE list_reduce(
              [list_reduce(dxj[1:{p}], (acc,x) -> acc + x) / {p}.0] || dxj[{p + 1}:i - {p}],
              {wa})
  END"""

    return f"""
WITH {CANDLES_CTE},
lists AS (
  SELECT symbol, list(high ORDER BY timestamp) AS ph,
         list(low ORDER BY timestamp) AS pl,
         list(close ORDER BY timestamp) AS pc,
         list(timestamp ORDER BY timestamp) AS bs,
         len(list(high)) AS n
  FROM candles GROUP BY symbol
),
diffs AS (
  SELECT symbol, n,
    list_transform(range(1, n), d ->
      CASE WHEN ph[d+1] - ph[d] > pl[d] - pl[d+1] AND ph[d+1] - ph[d] > 0
           THEN ph[d+1] - ph[d] ELSE 0.0 END) AS pd,
    list_transform(range(1, n), d ->
      CASE WHEN pl[d] - pl[d+1] > ph[d+1] - ph[d] AND pl[d] - pl[d+1] > 0
           THEN pl[d] - pl[d+1] ELSE 0.0 END) AS md,
    list_transform(range(1, n), d ->
      greatest(ph[d+1] - pl[d+1], abs(ph[d+1] - pc[d]), abs(pl[d+1] - pc[d]))) AS trl
  FROM lists
),
sm AS (
  SELECT symbol, n,
         {smoothed('pd')} AS sp,
         {smoothed('md')} AS smn,
         {smoothed('trl')} AS st
  FROM diffs
),
dil AS (
  SELECT symbol,
    list_transform(range(1, n + 1), i ->
      CASE WHEN st[i] IS NULL THEN NULL
           WHEN st[i] = 0.0 THEN 0.0
           ELSE 100.0 * sp[i] / st[i] END) AS pdi,
    list_transform(range(1, n + 1), i ->
      CASE WHEN st[i] IS NULL THEN NULL
           WHEN st[i] = 0.0 THEN 0.0
           ELSE 100.0 * smn[i] / st[i] END) AS mdi
  FROM sm
),
dxl AS (
  SELECT symbol, pdi, mdi,
    list_transform(range(1, n - {p} + 1), j ->
      CASE WHEN pdi[{p} + j] + mdi[{p} + j] > 0.0
           THEN 100.0 * abs(pdi[{p} + j] - mdi[{p} + j]) / (pdi[{p} + j] + mdi[{p} + j])
           ELSE 0.0 END) AS dxj
  FROM dil JOIN lists USING (symbol)
),
trn AS (
  SELECT symbol,
    list_transform(range(1, n + 1), i ->
      CASE WHEN i = 1 THEN ph[1] - pl[1]
           ELSE greatest(ph[i] - pl[i], abs(ph[i] - pc[i-1]), abs(pl[i] - pc[i-1])) END) AS t
  FROM lists
),
atrl AS (
  SELECT trn.symbol, {atr_expr} AS atr
  FROM trn JOIN lists USING (symbol)
),
norml AS (
  SELECT atrl.symbol,
    list_transform(range(1, n + 1), i ->
      CASE WHEN pc[i] != 0 THEN coalesce(atr[i], 0.0) / pc[i] ELSE 0.0 END) AS nrm
  FROM atrl JOIN lists USING (symbol)
),
emas AS (
  SELECT symbol, n,
         {_ema_stage('pc', 1, 12)} AS e12,
         {_ema_stage('pc', 1, 26)} AS e26
  FROM lists
),
ml AS (
  SELECT symbol, n,
    list_transform(range(1, n + 1), i ->
      CASE WHEN i < 26 THEN NULL ELSE e12[i] - e26[i] END) AS ll
  FROM emas
),
sg AS (
  SELECT symbol, ll, {_ema_stage('ll', 26, 9)} AS sig FROM ml
),
{", ".join(t3_stages)},
t3f AS (
  SELECT ps6.symbol,
    list_transform(range(1, n + 1), i ->
      CASE WHEN i < {t3_first} THEN NULL
           ELSE {_T3_C1} * ps6.e[i] + {_T3_C2} * ps5.e[i]
                + {_T3_C3} * ps4.e[i] + {_T3_C4} * ps3.e[i] END) AS t3r
  FROM ps6 JOIN ps5 USING (symbol, n) JOIN ps4 USING (symbol, n) JOIN ps3 USING (symbol, n)
),
pst AS (
  SELECT *, [CASE WHEN (pl[1] - pl[2] > ph[2] - ph[1]) AND (pl[1] - pl[2] > 0) THEN 0.0 ELSE 1.0 END,
             0.02,
             CASE WHEN (pl[1] - pl[2] > ph[2] - ph[1]) AND (pl[1] - pl[2] > 0) THEN pl[2] ELSE ph[2] END,
             CASE WHEN (pl[1] - pl[2] > ph[2] - ph[1]) AND (pl[1] - pl[2] > 0) THEN ph[1] ELSE pl[1] END] AS s0
  FROM lists
),
psr AS (
  SELECT pst.symbol, u.i,
    list_reduce([s0] || list_transform(range(2, u.i), k -> [ph[k], pl[k], ph[k-1], pl[k-1]]),
      {_PSAR_LAMBDA}) AS sp
  FROM pst, unnest(range(2, n + 1)) AS u(i)
),
psl0 AS (
  SELECT psr.symbol, psr.i,
    CASE WHEN sp[1] = 1.0 AND pl[i] < sp[4] THEN greatest(sp[3], ph[i], ph[i-1])
         WHEN sp[1] = 1.0 THEN sp[4] + 0.0
         WHEN sp[1] = 0.0 AND ph[i] > sp[4] THEN least(sp[3], pl[i], pl[i-1])
         ELSE sp[4] + 0.0 END AS ps
  FROM psr JOIN lists ON lists.symbol = psr.symbol
),
psl AS (
  SELECT symbol, list(ps ORDER BY i) AS pslist FROM psl0 GROUP BY symbol
),
joined AS (
  SELECT lists.symbol AS symbol, bs, n, ph, pl, pc,
         pdi, mdi, dxj, atr, nrm, ll, sig, t3r, pslist
  FROM lists
  JOIN dxl USING (symbol)
  JOIN atrl ON atrl.symbol = lists.symbol
  JOIN norml ON norml.symbol = lists.symbol
  JOIN sg ON sg.symbol = lists.symbol
  JOIN t3f ON t3f.symbol = lists.symbol
  JOIN psl ON psl.symbol = lists.symbol
)
SELECT symbol,
  strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts,
  round((ph[i] + pl[i] + pc[i]) / 3.0, 6) AS typical_price,
  round(coalesce({adx_val}, 0.0), 6) AS adx,
  round(coalesce(pdi[i], 0.0), 6) AS di_pos,
  round(coalesce(mdi[i], 0.0), 6) AS di_neg,
  round(coalesce(pdi[i], 0.0) - coalesce(mdi[i], 0.0), 6) AS di_diff,
  round(coalesce(CASE WHEN i >= 34 THEN ll[i] END, 0.0), 6) AS macd,
  round(coalesce(sig[i], 0.0), 6) AS macd_signal,
  round(coalesce(ll[i] - sig[i], 0.0), 6) AS macd_diff,
  round(coalesce(CASE WHEN i >= 2 THEN pslist[i - 1] END, pc[i]), 6) AS psar,
  CAST(CASE WHEN pc[i] > coalesce(CASE WHEN i >= 2 THEN pslist[i - 1] END, pc[i])
            THEN 1 ELSE 0 END AS INTEGER) AS psar_trend,
  round(CASE WHEN i = 1 THEN 0.0 ELSE abs(
      (CASE WHEN pc[i] > coalesce(pslist[i - 1], pc[i]) THEN 1.0 ELSE 0.0 END)
      - (CASE WHEN pc[i-1] > coalesce(CASE WHEN i >= 3 THEN pslist[i - 2] END, pc[i-1]) THEN 1.0 ELSE 0.0 END)
    ) END, 6) AS psar_reversal,
  round(coalesce(atr[i], 0.0), 6) AS atr,
  round(nrm[i], 6) AS atr_norm,
  round(CASE WHEN i = 1 THEN 0.0
             ELSE coalesce(atr[i], 0.0) - coalesce(atr[i-1], 0.0) END, 6) AS atr_change,
  CAST(CASE WHEN nrm[i] > coalesce(
          CASE WHEN i >= 14 THEN list_reduce(nrm[i-13:i], (acc,x) -> acc + x) / 14.0 END, 0.0)
       THEN 1 ELSE 0 END AS INTEGER) AS high_volatility,
  round(CASE WHEN n < {_T3_P} THEN pc[i] ELSE coalesce(t3r[i], pc[i]) END, 6) AS t3,
  round(CASE WHEN n < {_T3_P} OR i <= {_T3_P} THEN 0.0
             ELSE coalesce(t3r[i], pc[i]) - coalesce(t3r[i - {_T3_P}], pc[i - {_T3_P}]) END, 6) AS t3_slope,
  CAST(CASE WHEN (CASE WHEN n < {_T3_P} OR i <= {_T3_P} THEN 0.0
             ELSE coalesce(t3r[i], pc[i]) - coalesce(t3r[i - {_T3_P}], pc[i - {_T3_P}]) END) > 0.2
       THEN 1 ELSE 0 END AS INTEGER) AS is_uptrend,
  CAST(CASE WHEN (CASE WHEN n < {_T3_P} OR i <= {_T3_P} THEN 0.0
             ELSE coalesce(t3r[i], pc[i]) - coalesce(t3r[i - {_T3_P}], pc[i - {_T3_P}]) END) < -0.2
       THEN 1 ELSE 0 END AS INTEGER) AS is_downtrend,
  CAST(CASE WHEN abs(CASE WHEN n < {_T3_P} OR i <= {_T3_P} THEN 0.0
             ELSE coalesce(t3r[i], pc[i]) - coalesce(t3r[i - {_T3_P}], pc[i - {_T3_P}]) END) <= 0.2
       THEN 1 ELSE 0 END AS INTEGER) AS is_no_trend
FROM joined, unnest(range(1, n + 1)) AS u(i)
"""


@register("indicators_recursive_pack", _pack_oracle(), tags=("W2", "W3", "W4", "W5", "W7", "W8", "bench"))
def indicators_recursive_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADX/DI, MACD, PSAR, ATR and T3 packs from the per-symbol
    kernel — the reference's recursive indicator surface
    (``src/candle_to_calcs.py:386-452``). FULLY ORACLED: each family's
    per-row prefix fold is composed unrounded per (symbol, i) in
    DuckDB (corpus/indicators.py:_pack_oracle) with the kernel's
    nan_to_num / placeholder-fill / diff semantics, so the whole
    22-column pack is hash-checked cross-engine."""
    e = _enriched(spark, sf_dir, families=("pack",))
    return e.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        *[F.round(c, 6).alias(c) for c in (
            "typical_price", "adx", "di_pos", "di_neg", "di_diff",
            "macd", "macd_signal", "macd_diff", "psar",
        )],
        "psar_trend",
        F.round("psar_reversal", 6).alias("psar_reversal"),
        *[F.round(c, 6).alias(c) for c in ("atr", "atr_norm", "atr_change")],
        "high_volatility",
        F.round("t3", 6).alias("t3"),
        F.round("t3_slope", 6).alias("t3_slope"),
        "is_uptrend",
        "is_downtrend",
        "is_no_trend",
    )


# ---------------------------------------------------------------------------
# The COMPLETE enrichment table (~119 columns), oracled end-to-end
# ---------------------------------------------------------------------------


def _full_enrichment_oracle() -> str:
    """full_enrichment's DuckDB twin: candles + NY-local columns +
    12 session flags + Bollinger/volume-spike + the full recursive
    pack + all 59 patterns + the 6 peak flags, joined per
    (symbol, bucket) — the reference's entire calculated-candle
    table hash-checked as ONE statement (every component oracle
    already exists; this pins their composition)."""
    flags = [
        ("is_overnight_early", "lh >= 0 AND lh < 2"),
        ("is_overnight_late", "lh >= 2 AND lh < 4"),
        ("is_early_morning", "lh >= 4 AND lh < 8"),
        ("is_premarket_early", "lh >= 8 AND lh < 9"),
        ("is_premarket_morn", "lh = 9 AND lm < 30"),
        ("is_morning", "(lh = 9 AND lm >= 30) OR lh = 10"),
        ("is_late_morning", "lh = 11 OR (lh = 12 AND lm < 30)"),
        ("is_midday", "(lh = 12 AND lm >= 30) OR lh = 13"),
        ("is_early_afternoon", "lh = 14 OR (lh = 15 AND lm < 30)"),
        ("is_late_afternoon", "(lh = 15 AND lm >= 30) OR (lh = 16 AND lm < 30)"),
        ("is_closing", "(lh = 16 AND lm >= 30) OR (lh = 17 AND lm < 1)"),
        ("is_afterhours", "(lh = 17 AND lm >= 1) OR lh >= 18"),
    ]
    flag_cols = ",\n    ".join(
        f"CAST(CASE WHEN {cond} THEN 1 ELSE 0 END AS INTEGER) AS {name}"
        for name, cond in flags
    )
    ny = "CAST(timestamp AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS TIMESTAMP)"
    from auto_trade_data_pipeline_spark.functions.cdl import ALL_PATTERNS

    cdl_cols = ", ".join(f"c.{n}" for n in ALL_PATTERNS)
    pack_cols = ", ".join(
        f"p.{n}"
        for n in (
            "typical_price adx di_pos di_neg di_diff macd macd_signal macd_diff "
            "psar psar_trend psar_reversal atr atr_norm atr_change high_volatility "
            "t3 t3_slope is_uptrend is_downtrend is_no_trend"
        ).split()
    )
    pk_cols = ", ".join(
        f"k.is_{sc}_{kd}" for sc in ("major", "minor", "micro") for kd in ("peak", "valley")
    )
    return f"""
WITH {CANDLES_CTE},
fe_loc AS (
  SELECT symbol, timestamp, {ny} AS lts,
         hour({ny}) AS lh, minute({ny}) AS lm
  FROM candles
),
fe_w AS (
  SELECT symbol, timestamp, open, high, low, close, volume, number_of_trades, vwap,
         count(close) OVER roll20 AS cnt20,
         avg(close) OVER roll20 AS sma20,
         stddev_pop(close) OVER roll20 AS sd20,
         avg(volume) OVER roll60 AS rav
  FROM candles
  WINDOW
    roll20 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
    roll60 AS (PARTITION BY symbol ORDER BY timestamp ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
),
fe_b AS (
  SELECT *,
         CASE WHEN cnt20 >= 20 THEN sma20 ELSE close END AS bbm,
         CASE WHEN cnt20 >= 20 THEN sma20 + 2 * sd20 ELSE close END AS bbu,
         CASE WHEN cnt20 >= 20 THEN sma20 - 2 * sd20 ELSE close END AS bbl
  FROM fe_w
),
fe_pack AS ({_pack_oracle()}),
fe_cdl AS ({_cdl_full_oracle()}),
fe_pk AS ({_peaks_valleys_oracle()})
SELECT b.symbol,
  strftime(b.timestamp, '{TS_FMT_DUCK}') AS timestamp,
  round(b.open, 6) AS open,
  round(b.high, 6) AS high,
  round(b.low, 6) AS low,
  round(b.close, 6) AS close,
  round(b.volume, 6) AS volume,
  b.number_of_trades,
  round(b.vwap, 6) AS vwap,
  strftime(l.lts, '{TS_FMT_DUCK}') AS local_timestamp,
  CAST(l.lts AS DATE) AS local_date,
  CAST(l.lh AS INTEGER) AS local_hour,
  CAST(l.lm AS INTEGER) AS local_minute,
  {flag_cols},
  round(b.bbm, 6) AS bb_mid,
  round(b.bbu, 6) AS bb_upper,
  round(b.bbl, 6) AS bb_lower,
  round(b.bbu - b.bbl, 6) AS bb_width,
  round(CASE WHEN b.bbu - b.bbl != 0 THEN (b.close - b.bbl) / (b.bbu - b.bbl) ELSE 0 END, 6) AS bb_pos,
  CAST(CASE WHEN b.close > b.bbu OR b.close < b.bbl THEN 1 ELSE 0 END AS INTEGER) AS bb_breakout,
  round(b.rav, 6) AS rolling_avg_volume,
  CAST(CASE WHEN b.volume > b.rav * 1.5 THEN 1 ELSE 0 END AS INTEGER) AS is_volume_spike,
  {pack_cols},
  {cdl_cols},
  CAST(c.candle_pattern_sum AS BIGINT) AS candle_pattern_sum,
  {pk_cols}
FROM fe_b b
JOIN fe_loc l ON l.symbol = b.symbol AND l.timestamp = b.timestamp
JOIN fe_pack p ON p.symbol = b.symbol AND p.bucket_ts = strftime(b.timestamp, '{TS_FMT_DUCK}')
JOIN fe_cdl c ON c.symbol = b.symbol AND c.bucket_ts = strftime(b.timestamp, '{TS_FMT_DUCK}')
JOIN fe_pk k ON k.symbol = b.symbol AND k.bucket_ts = strftime(b.timestamp, '{TS_FMT_DUCK}')
"""


@register("full_enrichment", _full_enrichment_oracle(), tags=("W14", "P9", "bench"))
def full_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 composition pipeline: the complete calculated-candle table
    — candles -> NY-local columns -> session flags (native) ->
    indicator kernel (recursive pack + patterns + peaks) -> Bollinger
    + volume spike (native windows) — every column family of the
    reference's ``candles_1s_calculated`` (~119 cols,
    ``src/candle_to_calcs.py:316-350``)."""
    # Native (narrow) column families first, the wide applyInPandas
    # kernel last: the window shuffles move ~25-column candle rows,
    # and nothing reshuffles the 119-column kernel output (a
    # kernel-first ordering was measured in round 10 and REJECTED:
    # FlatMapGroupsInPandas does not preserve its child partitioning,
    # so the downstream windows re-exchanged the 119-column output —
    # 2 Exchange -> 3).
    # The explicit symbol repartition pins the one symbol exchange at
    # session parallelism BEFORE the window/kernel chain: the windows
    # and the kernel both reuse it (same exchange count as r9,
    # plans/r10), but AQE's byte-based coalescing can no longer pack
    # two symbols into one kernel task (the anchored-vwap fix,
    # r09 #10 — the kernel stage ran 4 tasks for 5 symbols; measured
    # full kernel 0.98 -> 0.81 s with the pinned repartition).
    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)
    e = candles.repartition(spark.sparkContext.defaultParallelism, "symbol")
    e = with_local_time(e)
    e = with_session_flags(e)
    e = with_bollinger(e)
    e = with_volume_spike(e)
    e = enrich_indicators(e)
    # Stable output: format timestamps, round floating columns — in
    # the reference column order (candles, local time, flags,
    # Bollinger, volume spike, kernel families), independent of the
    # build order above. ONE selectExpr call: the 119-expression
    # projection as F.Column objects costs ~500 py4j round trips of
    # driver latency per build (measured ~0.2 s of full_enrichment's
    # 0.79 s build); the string form ships in a single call and
    # parses to the identical expressions.
    candle_cols = [
        "symbol", "timestamp", "open", "high", "low", "close",
        "volume", "number_of_trades", "vwap",
    ]
    native_cols = (
        ["local_timestamp", "local_date", "local_hour", "local_minute"]
        + SESSION_FLAGS
        + ["bb_mid", "bb_upper", "bb_lower", "bb_width", "bb_pos", "bb_breakout"]
        + ["rolling_avg_volume", "is_volume_spike"]
    )
    ordered = candle_cols + native_cols + [name for name, _t in INDICATOR_COLUMNS]
    if set(ordered) != set(e.columns):
        # The projection is hard-coded: a family that gains, drops or
        # renames a column must fail here, not lose it silently.
        raise SchemaMismatchError(
            "full_enrichment: output column drift; missing "
            f"{sorted(set(ordered) - set(e.columns))}, "
            f"unprojected {sorted(set(e.columns) - set(ordered))}"
        )
    ts_cols = {"timestamp", "local_timestamp"}
    doubles = {f.name for f in e.schema.fields if f.dataType.typeName() == "double"}
    sel = []
    for name in ordered:
        if name in ts_cols:
            sel.append(f"date_format({name}, '{TS_FMT_SPARK}') AS {name}")
        elif name in doubles:
            sel.append(f"round({name}, 6) AS {name}")
        else:
            sel.append(name)
    return e.selectExpr(*sel)
