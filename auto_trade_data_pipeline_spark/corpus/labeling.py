"""Financial-ML sampling, labeling, and feature queries (Lopez de
Prado, *Advances in Financial Machine Learning*) — the layer that
turns the tick/candle tables into model-ready training data:
information-driven bars, triple-barrier labels, leakage-free CV
splits, fractionally-differentiated features, order-flow toxicity.

The reference pipeline stops at indicator enrichment
(``src/candle_to_calcs.py``); these queries are the standard next
stage of the same trading workflow, expressed Spark-first and each
bit-exact against a DuckDB oracle that restates the full mechanism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_trade_data_pipeline_spark.corpus import register, scoped_persist
from auto_trade_data_pipeline_spark.corpus.trade import (
    TICKS_CTE,
    TS_FMT_DUCK,
    TS_FMT_SPARK,
)
from auto_trade_data_pipeline_spark.operators.bars import (
    information_bars,
    triple_barrier_labels,
)
from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
from auto_trade_data_pipeline_spark.sources import ticks_from_events


def _fmt(col):
    return F.date_format(col, TS_FMT_SPARK)


#: Integer-scaled per-tick measures (exact BIGINT everywhere).
VOLUME_BAR_V = 100_000  # ~90 bars/symbol at sf0.01, scales with sf
DOLLAR_BAR_V = 10_000_000

#: Shared oracle CTE: ticks + integer measures + running prior totals.
_MEASURED_CTE = f"""{TICKS_CTE},
m AS (
  SELECT symbol, timestamp, tick_id, price,
         CAST(round(volume) AS BIGINT) AS vol_i,
         CAST(round(price * volume) AS BIGINT) AS dollar_i
  FROM ticks
),
runs AS (
  SELECT symbol, timestamp, tick_id, price, vol_i, dollar_i,
         coalesce(sum(vol_i) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prev_vol,
         coalesce(sum(dollar_i) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prev_dollar
  FROM m
)
"""


def _bars_oracle(measure: str, prev: str, threshold: int, out_name: str) -> str:
    return f"""
WITH {_MEASURED_CTE},
b AS (
  SELECT *, {prev} // {threshold} AS bar_id,
         row_number() OVER (PARTITION BY symbol, {prev} // {threshold}
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, {prev} // {threshold}
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM runs
)
SELECT symbol, CAST(bar_id AS BIGINT) AS bar_id,
       strftime(min(timestamp), '{TS_FMT_DUCK}') AS open_ts,
       strftime(max(timestamp), '{TS_FMT_DUCK}') AS close_ts,
       max(CASE WHEN ra = 1 THEN price END) AS open,
       max(price) AS high,
       min(price) AS low,
       max(CASE WHEN rd = 1 THEN price END) AS close,
       CAST(sum({measure}) AS BIGINT) AS {out_name},
       CAST(count(*) AS BIGINT) AS n_ticks
FROM b GROUP BY symbol, bar_id
"""


def _bars_query(spark: SparkSession, sf_dir: str, measure, threshold: int, name: str) -> DataFrame:
    ticks = ticks_from_events(spark, sf_dir)
    bars = information_bars(ticks, threshold, measure, name)
    return bars.select(
        "symbol",
        F.col("bar_id").cast("long").alias("bar_id"),
        _fmt("open_ts").alias("open_ts"),
        _fmt("close_ts").alias("close_ts"),
        "open",
        "high",
        "low",
        "close",
        name,
        "n_ticks",
    )


@register(
    "volume_bars",
    _bars_oracle("vol_i", "prev_vol", VOLUME_BAR_V, "volume"),
    tags=("A1", "W-", "bench"),
)
def volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume bars (de Prado ch. 2): a new bar opens each time the
    per-symbol running share volume crosses 100k — activity-clock
    sampling, denser where trading is heavier. The running prior
    total is an exact BIGINT prefix sum (one symbol-keyed exchange,
    incremental window), bar assignment is non-negative integer
    division (truncate == floor on both engines), and the OHLC
    aggregate is the same first/last-tiebreak shape as the time-bar
    candles (`operators/bars.py`)."""
    return _bars_query(
        spark, sf_dir, F.round("volume", 0).cast("long"), VOLUME_BAR_V, "volume"
    )


@register(
    "dollar_bars",
    _bars_oracle("dollar_i", "prev_dollar", DOLLAR_BAR_V, "dollar"),
    tags=("A1", "W-"),
)
def dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar bars: the activity clock is traded VALUE (price x
    volume, integer-scaled before summation so the prefix sum stays
    exact BIGINT at any parallelism) — the de Prado ch. 2 variant
    that is robust to price-level drift. Same distributed shape as
    `volume_bars`."""
    return _bars_query(
        spark,
        sf_dir,
        F.round(F.col("price") * F.col("volume"), 0).cast("long"),
        DOLLAR_BAR_V,
        "dollar",
    )


# ---------------------------------------------------------------------------
# Triple-barrier labeling
# ---------------------------------------------------------------------------

_TB_HORIZON = 86_400  # vertical barrier: 1 day
_TB_UP, _TB_DN = "1.5", "0.5"  # exact decimal literals, both engines

_TRIPLE_BARRIER_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('hour', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
entries AS (
  SELECT symbol, bucket + INTERVAL 1 HOUR AS entry_ts,
         max(CASE WHEN rd = 1 THEN price END) AS entry_price
  FROM cb GROUP BY symbol, bucket
),
touched AS (
  SELECT e.symbol, e.entry_ts, e.entry_price,
         min(CASE WHEN t.price >= e.entry_price * {_TB_UP} THEN t.timestamp END) AS up_ts,
         min(CASE WHEN t.price <= e.entry_price * {_TB_DN} THEN t.timestamp END) AS dn_ts
  FROM entries e JOIN ticks t
    ON t.symbol = e.symbol
   AND t.timestamp > e.entry_ts
   AND t.timestamp <= e.entry_ts + INTERVAL {_TB_HORIZON} SECOND
  GROUP BY e.symbol, e.entry_ts, e.entry_price
)
SELECT e.symbol,
       strftime(e.entry_ts, '{TS_FMT_DUCK}') AS entry_ts,
       e.entry_price,
       strftime(t.up_ts, '{TS_FMT_DUCK}') AS up_ts,
       strftime(t.dn_ts, '{TS_FMT_DUCK}') AS dn_ts,
       CAST(CASE WHEN t.up_ts IS NOT NULL AND (t.dn_ts IS NULL OR t.up_ts <= t.dn_ts) THEN 1
                 WHEN t.dn_ts IS NOT NULL THEN -1
                 ELSE 0 END AS INTEGER) AS label
FROM entries e LEFT JOIN touched t
  ON t.symbol = e.symbol AND t.entry_ts = e.entry_ts
"""


@register("triple_barrier_labels", _TRIPLE_BARRIER_ORACLE, tags=("J5", "W-", "bench"))
def triple_barrier_labels_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-barrier first-touch labels (de Prado ch. 3): a position
    entered at each hourly bar close is labeled +1 / -1 / 0 by which
    of profit-take (1.5x), stop-loss (0.5x), or the 1-day vertical
    barrier is hit first. The entry-to-future-tick pairing is a
    BANDED range join (both sides blocked on horizon-sized epoch
    blocks, an entry meets only its own and the next block —
    `operators/bars.py:triple_barrier_labels`), so work scales with
    ticks-per-horizon, never |entries| x |ticks|. Tie rule: equal
    first-touch timestamps resolve to +1 on both engines.

    Ticks persist at their fan-out: the tape feeds both the hourly
    entry bars and the future-tick side of the banded join
    (interleaved A/B warm mins: 0.90s -> 0.76s)."""
    ticks = scoped_persist(ticks_from_events(spark, sf_dir))
    hourly = aggregate_candles(ticks, 3600)
    entries = hourly.select(
        "symbol",
        (F.col("timestamp") + F.expr("INTERVAL 1 HOUR")).alias("entry_ts"),
        F.col("close").alias("entry_price"),
        (F.col("close") * F.lit(float(_TB_UP))).alias("up"),
        (F.col("close") * F.lit(float(_TB_DN))).alias("dn"),
    )
    out = triple_barrier_labels(entries, ticks, _TB_HORIZON)
    return out.select(
        "symbol",
        _fmt("entry_ts").alias("entry_ts"),
        "entry_price",
        _fmt("up_ts").alias("up_ts"),
        _fmt("dn_ts").alias("dn_ts"),
        F.col("label").cast("int").alias("label"),
    )


# ---------------------------------------------------------------------------
# Heikin-Ashi candles (recursive smoothing, list-fold oracle)
# ---------------------------------------------------------------------------

_HA_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket,
         max(CASE WHEN ra = 1 THEN price END) AS open,
         max(price) AS high,
         min(price) AS low,
         max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
lists AS (
  SELECT symbol,
         list(bucket ORDER BY bucket) AS bs,
         list(high ORDER BY bucket) AS lh,
         list(low ORDER BY bucket) AS ll,
         list(((open + high) + low + close) / 4 ORDER BY bucket) AS lhc,
         (min_by(open, bucket) + min_by(close, bucket)) / 2 AS seed
  FROM candles GROUP BY symbol
),
idx AS (SELECT symbol, bs, lh, ll, lhc, seed, unnest(range(1, len(bs) + 1)) AS i FROM lists),
ha AS (
  SELECT symbol, bs[i] AS bucket, lh[i] AS high, ll[i] AS low, lhc[i] AS ha_close,
         list_reduce([seed] || lhc[1:i-1], (acc, x) -> (acc + x) / 2) AS ha_open
  FROM idx
)
SELECT symbol, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
       CAST(round(ha_open * 10000) AS BIGINT) AS ha_open_e4,
       CAST(round(greatest(high, ha_open, ha_close) * 10000) AS BIGINT) AS ha_high_e4,
       CAST(round(least(low, ha_open, ha_close) * 10000) AS BIGINT) AS ha_low_e4,
       CAST(round(ha_close * 10000) AS BIGINT) AS ha_close_e4
FROM ha
"""


@register("heikin_ashi_candles", _HA_ORACLE, tags=("W-", "A1"))
def heikin_ashi_candles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi smoothed candles over the minute grid — a
    RECURSIVE bar transform (ha_open is the midpoint of the previous
    ha_open/ha_close) run as one applyInPandas pass per symbol
    (`operators/candles.py:heikin_ashi_candles`), with the recursion
    itself cross-engine verified: the oracle replays the exact
    left-to-right fold as a per-row prefix list_reduce, the same
    differential pattern as the EMA/PSAR oracles. Outputs
    integer-scaled e4 (explicit multiply on both sides)."""
    from auto_trade_data_pipeline_spark.operators.candles import heikin_ashi_candles

    ticks = ticks_from_events(spark, sf_dir)
    ha = heikin_ashi_candles(aggregate_candles(ticks, 60))
    return ha.select(
        "symbol",
        _fmt("timestamp").alias("bucket_ts"),
        F.round(F.col("ha_open") * 10000, 0).cast("long").alias("ha_open_e4"),
        F.round(F.col("ha_high") * 10000, 0).cast("long").alias("ha_high_e4"),
        F.round(F.col("ha_low") * 10000, 0).cast("long").alias("ha_low_e4"),
        F.round(F.col("ha_close") * 10000, 0).cast("long").alias("ha_close_e4"),
    )


# ---------------------------------------------------------------------------
# Purged k-fold cross-validation with embargo
# ---------------------------------------------------------------------------

_CV_FOLDS = [
    ("2024-01-01", "2024-01-07"),
    ("2024-01-07", "2024-01-13"),
    ("2024-01-13", "2024-01-19"),
    ("2024-01-19", "2024-01-25"),
    ("2024-01-25", "2024-01-31"),
]
_CV_H = 86_400  # label horizon (matches the triple-barrier vertical)
_CV_E = 43_200  # embargo after each test span

_PURGED_CV_ORACLE = f"""
WITH {TICKS_CTE},
units AS (
  SELECT DISTINCT symbol, date_trunc('hour', timestamp) AS t0 FROM ticks
),
folds(fold_id, a, b) AS (VALUES
  {", ".join(f"({i + 1}, TIMESTAMP '{a}', TIMESTAMP '{b}')" for i, (a, b) in enumerate(_CV_FOLDS))}
),
roles AS (
  SELECT f.fold_id, u.symbol, u.t0,
         CASE WHEN u.t0 >= f.a AND u.t0 < f.b THEN 'test'
              WHEN u.t0 < f.a AND u.t0 + INTERVAL {_CV_H} SECOND > f.a THEN 'purged'
              WHEN u.t0 >= f.b AND u.t0 < f.b + INTERVAL {_CV_E} SECOND THEN 'embargo'
              ELSE 'train' END AS role
  FROM units u CROSS JOIN folds f
)
SELECT CAST(fold_id AS INTEGER) AS fold_id, role,
       CAST(count(*) AS BIGINT) AS n_units,
       CAST(count(DISTINCT symbol) AS BIGINT) AS n_symbols,
       strftime(min(t0), '{TS_FMT_DUCK}') AS min_ts,
       strftime(max(t0), '{TS_FMT_DUCK}') AS max_ts
FROM roles GROUP BY fold_id, role
"""


@register("purged_kfold_cv", _PURGED_CV_ORACLE, tags=("W-", "J6"))
def purged_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged k-fold cross-validation with embargo (de Prado ch. 7) —
    the leakage-free split scheme for overlapping-label time series:
    each (symbol, hour) training unit is, per fold, 'test' inside the
    fold span, 'purged' if its 1-day LABEL WINDOW leaks into the test
    span, 'embargo' in the 12 h cooldown after it, else 'train'. The
    fold table is 5 literal rows broadcast against the units (a
    dimension-sized cross join, never row x row), so at 100 TB this
    is one scan + one grouped aggregate."""
    units = (
        ticks_from_events(spark, sf_dir)
        .select("symbol", F.date_trunc("hour", F.col("timestamp")).alias("t0"))
        .distinct()
    )
    folds = spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(_CV_FOLDS)], "fold_id int, a string, b string"
    ).select(
        "fold_id", F.col("a").cast("timestamp").alias("a"), F.col("b").cast("timestamp").alias("b")
    )
    roles = units.crossJoin(F.broadcast(folds)).select(
        "fold_id",
        "symbol",
        "t0",
        F.when((F.col("t0") >= F.col("a")) & (F.col("t0") < F.col("b")), "test")
        .when(
            (F.col("t0") < F.col("a"))
            & (F.col("t0") + F.expr(f"INTERVAL {_CV_H} SECOND") > F.col("a")),
            "purged",
        )
        .when(
            (F.col("t0") >= F.col("b"))
            & (F.col("t0") < F.col("b") + F.expr(f"INTERVAL {_CV_E} SECOND")),
            "embargo",
        )
        .otherwise("train")
        .alias("role"),
    )
    return roles.groupBy("fold_id", "role").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.countDistinct("symbol").alias("n_symbols"),
        _fmt(F.min("t0")).alias("min_ts"),
        _fmt(F.max("t0")).alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# Fractional differentiation (fixed-width FFD)
# ---------------------------------------------------------------------------

def _ffd_weights(d: float, window: int) -> list[float]:
    w = [1.0]
    for k in range(1, window):
        w.append(-w[-1] * (d - k + 1) / k)
    return w


_FFD_D, _FFD_W = 0.4, 8


def _ffd_expr() -> str:
    """One nested left-to-right expression tree shared VERBATIM by the
    Spark side (F.expr) and the oracle, so both engines evaluate the
    identical IEEE operation sequence."""
    ws = _ffd_weights(_FFD_D, _FFD_W)
    expr = f"{ws[-1]!r} * c{_FFD_W - 1}"
    for k in range(_FFD_W - 2, -1, -1):
        expr = f"{ws[k]!r} * c{k} + ({expr})"
    return expr


_FFD_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('hour', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
lagged AS (
  SELECT symbol, bucket, close,
         {", ".join(f"lag(close, {k}) OVER (PARTITION BY symbol ORDER BY bucket) AS c{k}" for k in range(_FFD_W))}
  FROM candles
)
SELECT symbol, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
       CAST(round(close * 10000) AS BIGINT) AS close_e4,
       CAST(round(({_ffd_expr()}) * 1000000) AS BIGINT) AS ffd_e6
FROM lagged
"""


@register("frac_diff_features", _FFD_ORACLE, tags=("W-",))
def frac_diff_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractionally differentiated price features (de Prado ch. 5,
    fixed-width FFD, d=0.4, window=8): the stationarity-vs-memory
    compromise feature, computed as a fixed dot product of lagged
    hourly closes with binomial-expansion weights. The weights are
    Python-computed double literals and the dot product is ONE nested
    left-to-right expression tree shared verbatim with the oracle —
    bit-identical IEEE arithmetic with no rounding slack needed
    beyond the explicit e6 integer scaling. Rows without a full lag
    window emit NULL (exact warm-up semantics). One symbol-keyed
    exchange; lags evaluate incrementally in a single window pass."""
    ticks = ticks_from_events(spark, sf_dir)
    hourly = aggregate_candles(ticks, 3600)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    lagged = hourly.select(
        "symbol",
        "timestamp",
        "close",
        *[F.lag("close", k).over(w).alias(f"c{k}") for k in range(_FFD_W)],
    )
    return lagged.select(
        "symbol",
        _fmt("timestamp").alias("bucket_ts"),
        F.round(F.col("close") * 10000, 0).cast("long").alias("close_e4"),
        F.round(F.expr(_ffd_expr()) * 1000000, 0).cast("long").alias("ffd_e6"),
    )


# ---------------------------------------------------------------------------
# VPIN order-flow toxicity (volume buckets x tick-rule sides)
# ---------------------------------------------------------------------------

_VPIN_N = 10  # trailing buckets in the VPIN average

_VPIN_ORACLE = f"""
WITH {_MEASURED_CTE},
sided AS (
  SELECT symbol, timestamp, tick_id, vol_i,
         prev_vol // {VOLUME_BAR_V} AS bar_id,
         last_value(CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS side
  FROM (
    SELECT *, price - lag(price) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id) AS dp
    FROM runs
  )
),
buckets AS (
  SELECT symbol, bar_id,
         CAST(sum(CASE WHEN side = 1 THEN vol_i ELSE 0 END) AS BIGINT) AS buy_vol,
         CAST(sum(CASE WHEN side = -1 THEN vol_i ELSE 0 END) AS BIGINT) AS sell_vol,
         CAST(sum(vol_i) AS BIGINT) AS total_vol,
         CAST(count(*) AS BIGINT) AS n_ticks
  FROM sided GROUP BY symbol, bar_id
),
vp AS (
  SELECT symbol, bar_id, buy_vol, sell_vol, total_vol, n_ticks,
         sum(abs(buy_vol - sell_vol)) OVER w AS imb_sum,
         sum(total_vol) OVER w AS vol_sum,
         count(*) OVER w AS n_buckets
  FROM buckets
  WINDOW w AS (PARTITION BY symbol ORDER BY bar_id
               ROWS BETWEEN {_VPIN_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT symbol, CAST(bar_id AS BIGINT) AS bar_id, buy_vol, sell_vol, total_vol, n_ticks,
       CAST(CASE WHEN n_buckets = {_VPIN_N} AND vol_sum > 0
                 THEN (imb_sum * 1000000) // vol_sum END AS BIGINT) AS vpin_ppm
FROM vp
"""


@register("vpin_toxicity", _VPIN_ORACLE, tags=("W-", "A1"))
def vpin_toxicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN order-flow toxicity (Easley, Lopez de Prado & O'Hara,
    RFS'12): tick-rule buy/sell classification (running
    last-ignorenulls carry) aggregated into VOLUME buckets (the same
    activity clock as `volume_bars`), then the trailing-10-bucket
    |buy-sell| / V average — the flow-toxicity signal that flags
    informed-trading regimes. Every quantity is an exact BIGINT
    (integer volumes, integer window sums, non-negative ppm
    division), so the whole chain is bit-deterministic at any
    parallelism; NULL until a full trailing window exists."""
    ticks = ticks_from_events(spark, sf_dir)
    wo = Window.partitionBy("symbol").orderBy("timestamp", "tick_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vol_i = F.round("volume", 0).cast("long")
    prev_vol = F.coalesce(
        F.sum(vol_i).over(wo.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    dp = F.col("price") - F.lag("price").over(wo)
    sided = ticks.select(
        "symbol",
        "timestamp",
        "tick_id",
        vol_i.alias("vol_i"),
        prev_vol.alias("prev_vol"),
        dp.alias("dp"),
    ).select(
        "symbol",
        "timestamp",
        "tick_id",
        "vol_i",
        F.expr(f"prev_vol div {VOLUME_BAR_V}").alias("bar_id"),
        F.last(
            F.when(F.col("dp") > 0, 1).when(F.col("dp") < 0, -1), ignorenulls=True
        ).over(wrun).alias("side"),
    )
    buckets = sided.groupBy("symbol", "bar_id").agg(
        F.sum(F.when(F.col("side") == 1, F.col("vol_i")).otherwise(0)).alias("buy_vol"),
        F.sum(F.when(F.col("side") == -1, F.col("vol_i")).otherwise(0)).alias("sell_vol"),
        F.sum("vol_i").alias("total_vol"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
    wv = Window.partitionBy("symbol").orderBy("bar_id").rowsBetween(-(_VPIN_N - 1), 0)
    vp = buckets.select(
        "symbol",
        F.col("bar_id").cast("long").alias("bar_id"),
        "buy_vol",
        "sell_vol",
        "total_vol",
        "n_ticks",
        F.sum(F.abs(F.col("buy_vol") - F.col("sell_vol"))).over(wv).alias("imb_sum"),
        F.sum("total_vol").over(wv).alias("vol_sum"),
        F.count(F.lit(1)).over(wv).alias("n_buckets"),
    )
    vpin = F.when(
        (F.col("n_buckets") == _VPIN_N) & (F.col("vol_sum") > 0),
        F.expr("(imb_sum * 1000000) div vol_sum"),
    ).cast("long")
    return vp.select(
        "symbol", "bar_id", "buy_vol", "sell_vol", "total_vol", "n_ticks",
        vpin.alias("vpin_ppm"),
    )


# ---------------------------------------------------------------------------
# Return autocorrelation (integer-exact co-moments)
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3)


def _acf_cols_sql() -> str:
    outs = []
    for k in _ACF_LAGS:
        outs.append(
            f"""CAST(round(CAST(n{k} * sxy{k} - sx{k} * sy{k} AS DOUBLE)
           / (sqrt(CAST(n{k} * sxx{k} - sx{k} * sx{k} AS DOUBLE))
              * sqrt(CAST(n{k} * syy{k} - sy{k} * sy{k} AS DOUBLE))) * 1000000)
         AS BIGINT) AS acf{k}_ppm"""
        )
    return ",\n       ".join(outs)


_ACF_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
rets AS (
  SELECT symbol, bucket,
         least(greatest(CAST(round((close / nullif(lag(close) OVER w, 0) - 1) * 10000) AS BIGINT),
                        -10000), 10000) AS r
  FROM candles WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
lagged AS (
  SELECT symbol, r,
         {", ".join(f"lag(r, {k}) OVER (PARTITION BY symbol ORDER BY bucket) AS r{k}" for k in _ACF_LAGS)}
  FROM rets
),
s AS (
  SELECT symbol,
         {", ".join(
             f"CAST(count(CASE WHEN r IS NOT NULL AND r{k} IS NOT NULL THEN 1 END) AS BIGINT) AS n{k}, "
             f"CAST(sum(CASE WHEN r{k} IS NOT NULL THEN r END) AS BIGINT) AS sx{k}, "
             f"CAST(sum(CASE WHEN r IS NOT NULL THEN r{k} END) AS BIGINT) AS sy{k}, "
             f"CAST(sum(r * r{k}) AS BIGINT) AS sxy{k}, "
             f"CAST(sum(CASE WHEN r{k} IS NOT NULL THEN r * r END) AS BIGINT) AS sxx{k}, "
             f"CAST(sum(CASE WHEN r IS NOT NULL THEN r{k} * r{k} END) AS BIGINT) AS syy{k}"
             for k in _ACF_LAGS
         )}
  FROM lagged GROUP BY symbol
)
SELECT symbol, n1 AS n_pairs,
       {_acf_cols_sql()}
FROM s
"""


@register("acf_returns", _ACF_ORACLE, tags=("W-", "A7"))
def acf_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol autocorrelation of minute-bar returns at lags 1-3 —
    the mean-reversion/momentum diagnostic behind bar-sampling
    choices (de Prado ch. 2 measures it to compare bar clocks). All
    co-moment sums run on INTEGER-SCALED returns (e4 BIGINT), so
    partial aggregation is exact at any parallelism; the only float
    steps are the final Pearson ratio and IEEE sqrt (correctly
    rounded, engine-identical), snapped to ppm. One scan, one
    symbol-keyed window pass, one grouped aggregate."""
    ticks = ticks_from_events(spark, sf_dir)
    c1m = aggregate_candles(ticks, 60)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r_raw = F.round(
        (F.col("close") / F.expr("nullif(lag(close) OVER (PARTITION BY symbol ORDER BY timestamp), 0.0d)") - 1)
        * 10000,
        0,
    ).cast("long")
    rets = c1m.select(
        "symbol",
        "timestamp",
        F.least(F.greatest(r_raw, F.lit(-10000)), F.lit(10000)).alias("r"),
    )
    lagged = rets.select(
        "symbol",
        "r",
        *[F.lag("r", k).over(w).alias(f"r{k}") for k in _ACF_LAGS],
    )
    aggs = []
    for k in _ACF_LAGS:
        rk = F.col(f"r{k}")
        both = F.col("r").isNotNull() & rk.isNotNull()
        aggs += [
            F.count(F.when(both, 1)).alias(f"n{k}"),
            F.sum(F.when(rk.isNotNull(), F.col("r"))).alias(f"sx{k}"),
            F.sum(F.when(F.col("r").isNotNull(), rk)).alias(f"sy{k}"),
            F.sum(F.col("r") * rk).alias(f"sxy{k}"),
            F.sum(F.when(rk.isNotNull(), F.col("r") * F.col("r"))).alias(f"sxx{k}"),
            F.sum(F.when(F.col("r").isNotNull(), rk * rk)).alias(f"syy{k}"),
        ]
    s = lagged.groupBy("symbol").agg(*aggs)
    outs = [F.col("n1").alias("n_pairs")]
    for k in _ACF_LAGS:
        num = (F.col(f"n{k}") * F.col(f"sxy{k}") - F.col(f"sx{k}") * F.col(f"sy{k}")).cast(
            "double"
        )
        denx = F.sqrt((F.col(f"n{k}") * F.col(f"sxx{k}") - F.col(f"sx{k}") * F.col(f"sx{k}")).cast("double"))
        deny = F.sqrt((F.col(f"n{k}") * F.col(f"syy{k}") - F.col(f"sy{k}") * F.col(f"sy{k}")).cast("double"))
        outs.append(
            F.round(num / (denx * deny) * 1000000, 0).cast("long").alias(f"acf{k}_ppm")
        )
    return s.select("symbol", *outs)


# ---------------------------------------------------------------------------
# Cross-sectional factor standardization (per-day ranks across symbols)
# ---------------------------------------------------------------------------

_CSF_ORACLE = f"""
WITH {TICKS_CTE},
db AS (
  SELECT symbol, date_trunc('day', timestamp) AS day, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('day', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
daily AS (
  SELECT symbol, day, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM db GROUP BY symbol, day
),
rets AS (
  SELECT symbol, day,
         least(greatest(CAST(round((close / nullif(lag(close) OVER (PARTITION BY symbol ORDER BY day), 0) - 1)
                                   * 10000) AS BIGINT), -10000), 10000) AS r_e4
  FROM daily
),
cs AS (
  SELECT symbol, day, r_e4,
         CAST(count(*) OVER wd AS BIGINT) AS n,
         CAST(sum(r_e4) OVER wd AS BIGINT) AS sum_e4,
         CAST(rank() OVER (PARTITION BY day ORDER BY r_e4, symbol) AS INTEGER) AS cs_rank
  FROM rets WHERE r_e4 IS NOT NULL
  WINDOW wd AS (PARTITION BY day)
)
SELECT symbol, strftime(day, '%Y-%m-%d') AS day, r_e4, cs_rank, n,
       r_e4 * n - sum_e4 AS demeaned_e4n
FROM cs
"""


@register("cross_sectional_factor", _CSF_ORACLE, tags=("W-", "A7"))
def cross_sectional_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional factor standardization — the per-timestamp
    rank/demean across the symbol universe that turns a raw signal
    (here: winsorized daily return) into a market-neutral factor, the
    core transform of cross-sectional alpha research. Ranks partition
    by DAY (the cross-section), not symbol — the orthogonal window
    axis to every per-symbol query in the corpus. Demeaning is exact:
    `r*n - sum(r)` keeps everything BIGINT (the mean's division is
    deferred, not performed), so the factor is bit-stable at any
    parallelism. At a realistic universe (10^4 symbols/day) each
    cross-section is one small partition; day-keyed parallelism
    scales with history length."""
    ticks = ticks_from_events(spark, sf_dir)
    wd = Window.partitionBy("symbol", F.date_trunc("day", F.col("timestamp"))).orderBy(
        F.desc("timestamp"), F.desc("tick_id")
    )
    daily = (
        ticks.select(
            "symbol",
            F.date_trunc("day", F.col("timestamp")).alias("day"),
            "price",
            F.row_number().over(wd).alias("rd"),
        )
        .filter(F.col("rd") == 1)
        .select("symbol", "day", F.col("price").alias("close"))
    )
    r_raw = F.round(
        (F.col("close") / F.expr("nullif(lag(close) OVER (PARTITION BY symbol ORDER BY day), 0.0d)") - 1)
        * 10000,
        0,
    ).cast("long")
    rets = daily.select(
        "symbol",
        "day",
        F.least(F.greatest(r_raw, F.lit(-10000)), F.lit(10000)).alias("r_e4"),
    ).filter(F.col("r_e4").isNotNull())
    wcs = Window.partitionBy("day")
    cs = rets.select(
        "symbol",
        "day",
        "r_e4",
        F.count(F.lit(1)).over(wcs).alias("n"),
        F.sum("r_e4").over(wcs).alias("sum_e4"),
        F.rank().over(Window.partitionBy("day").orderBy("r_e4", "symbol")).cast("int").alias("cs_rank"),
    )
    return cs.select(
        "symbol",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "r_e4",
        "cs_rank",
        "n",
        (F.col("r_e4") * F.col("n") - F.col("sum_e4")).alias("demeaned_e4n"),
    )


# ---------------------------------------------------------------------------
# Volume-weighted price quantiles (exact integer first-crossing)
# ---------------------------------------------------------------------------

_WQ_ORACLE = f"""
WITH {_MEASURED_CTE},
c AS (
  SELECT symbol, price, vol_i,
         sum(vol_i) OVER (PARTITION BY symbol ORDER BY price, tick_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(vol_i) OVER (PARTITION BY symbol) AS tot
  FROM runs
)
SELECT symbol,
       CAST(max(tot) AS BIGINT) AS total_vol,
       CAST(round(min(CASE WHEN 4 * cum >= tot THEN price END) * 10000) AS BIGINT) AS wp25_e4,
       CAST(round(min(CASE WHEN 4 * cum >= 2 * tot THEN price END) * 10000) AS BIGINT) AS wmedian_e4,
       CAST(round(min(CASE WHEN 4 * cum >= 3 * tot THEN price END) * 10000) AS BIGINT) AS wp75_e4
FROM c GROUP BY symbol
"""


@register("weighted_price_quantiles", _WQ_ORACLE, tags=("A-quantile", "W-"))
def weighted_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOLUME-weighted price quartiles per symbol — where the traded
    volume actually sat, the liquidity-profile complement of the
    count-weighted percentiles: the weighted q-quantile is the first
    price whose cumulative volume crosses q of the total. Every
    comparison is exact BIGINT (4*cum vs q*tot — no division at all),
    so the crossing row is bit-determined; one price-ordered window
    per symbol, one grouped conditional-min. At 100 TB this is the
    same shape as the equi-depth histogram: symbol-keyed sort,
    incremental cumsum, no Python."""
    ticks = ticks_from_events(spark, sf_dir)
    vol_i = F.round("volume", 0).cast("long")
    t = ticks.select("symbol", "price", "tick_id", vol_i.alias("vol_i"))
    wc = Window.partitionBy("symbol").orderBy("price", "tick_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("symbol")
    c = t.select(
        "symbol",
        "price",
        F.sum("vol_i").over(wc).alias("cum"),
        F.sum("vol_i").over(wt).alias("tot"),
    )

    def crossing(mult: int):
        return F.round(
            F.min(F.when(4 * F.col("cum") >= mult * F.col("tot"), F.col("price")))
            * 10000,
            0,
        ).cast("long")

    return c.groupBy("symbol").agg(
        F.max("tot").alias("total_vol"),
        crossing(1).alias("wp25_e4"),
        crossing(2).alias("wmedian_e4"),
        crossing(3).alias("wp75_e4"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet multi-resolution energy (dyadic-exact signal features)
# ---------------------------------------------------------------------------

_HAAR_BLOCK = 16  # bars per transform block (4 dyadic levels)

_HAAR_MINUTE_CTE = f"""{TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
seq AS (
  SELECT symbol, bucket,
         CAST(round(close * 10000) AS BIGINT) AS x,
         row_number() OVER (PARTITION BY symbol ORDER BY bucket) - 1 AS rn
  FROM candles
),
blocks AS (
  SELECT symbol, rn // {_HAAR_BLOCK} AS blk, rn % {_HAAR_BLOCK} AS pos, x,
         strftime(min(bucket) OVER (PARTITION BY symbol, rn // {_HAAR_BLOCK}),
                  '{TS_FMT_DUCK}') AS block_start,
         count(*) OVER (PARTITION BY symbol, rn // {_HAAR_BLOCK}) AS bn
  FROM seq
),
full_blocks AS (SELECT * FROM blocks WHERE bn = {_HAAR_BLOCK})
"""


def _haar_level_sql(k: int) -> str:
    half = 1 << (k - 1)
    return f"""
e{k} AS (
  SELECT symbol, blk, CAST(sum(d * d) AS BIGINT) AS e{k}
  FROM (
    SELECT symbol, blk, pos // {1 << k} AS grp,
           sum(CASE WHEN pos % {1 << k} < {half} THEN x ELSE -x END) AS d
    FROM full_blocks GROUP BY symbol, blk, pos // {1 << k}
  ) GROUP BY symbol, blk
)"""


_HAAR_ORACLE = f"""
WITH {_HAAR_MINUTE_CTE},
base AS (
  SELECT symbol, blk, max(block_start) AS block_start,
         CAST(sum(x) AS BIGINT) AS approx_sum_e4
  FROM full_blocks GROUP BY symbol, blk
),
{", ".join(_haar_level_sql(k).strip() for k in (1, 2, 3, 4))}
SELECT b.symbol, CAST(b.blk AS BIGINT) AS blk, b.block_start, b.approx_sum_e4,
       e1.e1, e2.e2, e3.e3, e4.e4
FROM base b
JOIN e1 ON b.symbol = e1.symbol AND b.blk = e1.blk
JOIN e2 ON b.symbol = e2.symbol AND b.blk = e2.blk
JOIN e3 ON b.symbol = e3.symbol AND b.blk = e3.blk
JOIN e4 ON b.symbol = e4.symbol AND b.blk = e4.blk
"""


@register("haar_wavelet_energy", _HAAR_ORACLE, tags=("W-",))
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet multi-resolution energy decomposition over
    16-bar blocks of e4-scaled minute closes — which TIME SCALE the
    price variation lives at (level 1 = bar-to-bar noise, level 4 =
    block-scale drift), the classic signal feature for regime
    detection. The Haar basis is dyadic, so on integer-scaled inputs
    every detail coefficient (signed sums) and energy (sum of
    squares) is EXACT BIGINT arithmetic — no floats anywhere. Each
    level is a grouped aggregate on a coarser split of the same
    (symbol, block) key, so all four levels re-use aligned
    partitioning; incomplete trailing blocks are dropped on both
    sides."""
    ticks = ticks_from_events(spark, sf_dir)
    c1m = aggregate_candles(ticks, 60)
    wseq = Window.partitionBy("symbol").orderBy("timestamp")
    seq = c1m.select(
        "symbol",
        "timestamp",
        F.round(F.col("close") * 10000, 0).cast("long").alias("x"),
        (F.row_number().over(wseq) - 1).alias("rn"),
    )
    wblk = Window.partitionBy("symbol", F.expr(f"rn div {_HAAR_BLOCK}"))
    blocks = seq.select(
        "symbol",
        F.expr(f"rn div {_HAAR_BLOCK}").alias("blk"),
        (F.col("rn") % _HAAR_BLOCK).alias("pos"),
        "x",
        _fmt(F.min("timestamp").over(wblk)).alias("block_start"),
        F.count(F.lit(1)).over(wblk).alias("bn"),
    ).filter(F.col("bn") == _HAAR_BLOCK)

    base = blocks.groupBy("symbol", "blk").agg(
        F.max("block_start").alias("block_start"),
        F.sum("x").alias("approx_sum_e4"),
    )
    out = base
    for k in (1, 2, 3, 4):
        half = 1 << (k - 1)
        d = blocks.groupBy(
            "symbol", "blk", F.expr(f"pos div {1 << k}").alias("grp")
        ).agg(
            F.sum(
                F.when(F.col("pos") % (1 << k) < half, F.col("x")).otherwise(-F.col("x"))
            ).alias("d")
        )
        ek = d.groupBy("symbol", "blk").agg(F.sum(F.col("d") * F.col("d")).alias(f"e{k}"))
        out = out.join(ek, ["symbol", "blk"])
    return out.select(
        "symbol",
        F.col("blk").cast("long").alias("blk"),
        "block_start",
        "approx_sum_e4",
        "e1",
        "e2",
        "e3",
        "e4",
    )


# ---------------------------------------------------------------------------
# Per-symbol risk metrics (return / drawdown / volatility / Sharpe)
# ---------------------------------------------------------------------------

_RISK_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
seq AS (
  SELECT symbol, bucket,
         CAST(round(close * 10000) AS BIGINT) AS x,
         least(greatest(CAST(round((close / nullif(lag(close) OVER w, 0) - 1) * 10000) AS BIGINT),
                        -10000), 10000) AS r
  FROM candles WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
dd AS (
  SELECT symbol, x, r,
         max(x) OVER (PARTITION BY symbol ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax,
         first_value(x) OVER (PARTITION BY symbol ORDER BY bucket) AS first_x,
         last_value(x) OVER (PARTITION BY symbol ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_x
  FROM seq
),
agg AS (
  SELECT symbol,
         max(CASE WHEN runmax > 0 THEN ((runmax - x) * 1000000) // runmax ELSE 0 END)
           AS max_dd_ppm,
         CAST(round((CAST(max(last_x) AS DOUBLE) / nullif(CAST(max(first_x) AS DOUBLE), 0) - 1)
                    * 1000000) AS BIGINT) AS total_return_ppm,
         CAST(count(r) AS BIGINT) AS n_rets,
         CAST(sum(r) AS BIGINT) AS sr,
         CAST(sum(r * r) AS BIGINT) AS srr
  FROM dd GROUP BY symbol
)
SELECT symbol, total_return_ppm, CAST(max_dd_ppm AS BIGINT) AS max_dd_ppm, n_rets,
       CAST(round(sqrt(CAST(n_rets * srr - sr * sr AS DOUBLE)
                       / CAST(n_rets * (n_rets - 1) AS DOUBLE)) * 100) AS BIGINT)
         AS vol_r_e4_e2,
       CAST(round((CAST(sr AS DOUBLE) / CAST(n_rets AS DOUBLE))
                  / sqrt(CAST(n_rets * srr - sr * sr AS DOUBLE)
                         / CAST(n_rets * (n_rets - 1) AS DOUBLE)) * 1000000) AS BIGINT)
         AS sharpe_ppm
FROM agg
"""


@register("risk_metrics_report", _RISK_ORACLE, tags=("W-", "A7"))
def risk_metrics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol risk report — total return, MAX DRAWDOWN (the
    running-peak shortfall, computed entirely in BIGINT ppm off
    e4-scaled closes), return volatility, and the Sharpe ratio of
    winsorized minute returns. Co-moments are integer-exact (same
    recipe as `acf_returns`); the only float steps are the final
    shared-literal divisions and IEEE sqrt. The drawdown running max
    is one incremental window pass per symbol — the canonical ordered
    prefix shape."""
    ticks = ticks_from_events(spark, sf_dir)
    c1m = aggregate_candles(ticks, 60)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    r_raw = F.round(
        (F.col("close") / F.expr("nullif(lag(close) OVER (PARTITION BY symbol ORDER BY timestamp), 0.0d)") - 1)
        * 10000,
        0,
    ).cast("long")
    seq = c1m.select(
        "symbol",
        "timestamp",
        F.round(F.col("close") * 10000, 0).cast("long").alias("x"),
        F.least(F.greatest(r_raw, F.lit(-10000)), F.lit(10000)).alias("r"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dd = seq.select(
        "symbol",
        "x",
        "r",
        F.max("x").over(wrun).alias("runmax"),
        F.first("x").over(w).alias("first_x"),
        F.last("x").over(wall).alias("last_x"),
    )
    agg = dd.groupBy("symbol").agg(
        F.max(
            F.expr(
                "CASE WHEN runmax > 0 THEN ((runmax - x) * 1000000) div runmax ELSE 0 END"
            )
        ).alias("max_dd_ppm"),
        F.round(
            (
                F.max("last_x").cast("double")
                / F.expr("nullif(CAST(max(first_x) AS DOUBLE), 0.0d)")
                - 1
            )
            * 1000000,
            0,
        )
        .cast("long")
        .alias("total_return_ppm"),
        F.count("r").alias("n_rets"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    )
    var = (F.col("n_rets") * F.col("srr") - F.col("sr") * F.col("sr")).cast("double") / (
        F.col("n_rets") * (F.col("n_rets") - 1)
    ).cast("double")
    sd = F.sqrt(var)
    mean = F.col("sr").cast("double") / F.col("n_rets").cast("double")
    return agg.select(
        "symbol",
        "total_return_ppm",
        F.col("max_dd_ppm").cast("long").alias("max_dd_ppm"),
        "n_rets",
        F.round(sd * 100, 0).cast("long").alias("vol_r_e4_e2"),
        F.round(mean / sd * 1000000, 0).cast("long").alias("sharpe_ppm"),
    )


# ---------------------------------------------------------------------------
# Label backtest: realized PnL of triple-barrier exits (composition)
# ---------------------------------------------------------------------------

_BACKTEST_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('hour', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
entries AS (
  SELECT symbol, bucket + INTERVAL 1 HOUR AS entry_ts,
         max(CASE WHEN rd = 1 THEN price END) AS entry_price
  FROM cb GROUP BY symbol, bucket
),
touched AS (
  SELECT e.symbol, e.entry_ts, e.entry_price,
         min(CASE WHEN t.price >= e.entry_price * {_TB_UP} THEN t.timestamp END) AS up_ts,
         min(CASE WHEN t.price <= e.entry_price * {_TB_DN} THEN t.timestamp END) AS dn_ts
  FROM entries e JOIN ticks t
    ON t.symbol = e.symbol
   AND t.timestamp > e.entry_ts
   AND t.timestamp <= e.entry_ts + INTERVAL {_TB_HORIZON} SECOND
  GROUP BY e.symbol, e.entry_ts, e.entry_price
),
trades AS (
  SELECT e.symbol, e.entry_ts, e.entry_price,
         CASE WHEN t.up_ts IS NOT NULL AND (t.dn_ts IS NULL OR t.up_ts <= t.dn_ts) THEN 1
              WHEN t.dn_ts IS NOT NULL THEN -1
              ELSE 0 END AS label,
         CASE WHEN t.up_ts IS NOT NULL AND (t.dn_ts IS NULL OR t.up_ts <= t.dn_ts) THEN t.up_ts
              WHEN t.dn_ts IS NOT NULL THEN t.dn_ts
              ELSE e.entry_ts + INTERVAL {_TB_HORIZON} SECOND END AS exit_target
  FROM entries e LEFT JOIN touched t
    ON t.symbol = e.symbol AND t.entry_ts = e.entry_ts
),
tick1 AS (
  SELECT symbol, timestamp, max_by(price, tick_id) AS price
  FROM ticks GROUP BY symbol, timestamp
),
exits AS (
  SELECT tr.symbol, tr.entry_ts, tr.entry_price, tr.label,
         tr.exit_target, k.timestamp AS exit_ts, k.price AS exit_price
  FROM trades tr ASOF LEFT JOIN tick1 k
    ON tr.symbol = k.symbol AND k.timestamp <= tr.exit_target
),
pnl AS (
  SELECT symbol, label,
         CASE WHEN exit_ts IS NULL OR exit_ts <= entry_ts OR entry_price = 0 THEN 0
              ELSE CAST(round((exit_price / entry_price - 1) * 1000000) AS BIGINT)
         END AS pnl_ppm,
         CASE WHEN exit_ts IS NULL OR exit_ts <= entry_ts THEN 0
              ELSE CAST(date_diff('second', entry_ts, exit_ts) AS BIGINT)
         END AS holding_sec
  FROM exits
)
SELECT symbol, CAST(label AS INTEGER) AS label,
       CAST(count(*) AS BIGINT) AS n_trades,
       CAST(sum(pnl_ppm) AS BIGINT) AS total_pnl_ppm,
       CAST(sum(holding_sec) AS BIGINT) AS total_holding_sec
FROM pnl GROUP BY symbol, label
"""


@register("label_backtest_pnl", _BACKTEST_ORACLE, tags=("J5", "W-"))
def label_backtest_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-PnL evaluation of the triple-barrier exits — the
    composition that closes the labeling loop: each hourly entry is
    held to its FIRST barrier touch (or the vertical horizon), the
    exit PRICE is recovered with a backward AS-OF join to the tick
    tape (ticks pre-reduced to one row per instant so tie semantics
    are engine-identical), and PnL/holding-time aggregate per
    (symbol, outcome-label). Exercises banded range join + as-of join
    + grouped rollup in one pipeline; the oracle replays it on
    DuckDB's native ASOF LEFT JOIN. Entries whose horizon contains no
    tick carry zero PnL by contract."""
    from auto_trade_data_pipeline_spark.operators.dedup import dedup_keep_last
    from auto_trade_data_pipeline_spark.operators.joins import asof_join

    ticks = ticks_from_events(spark, sf_dir)
    hourly = aggregate_candles(ticks, 3600)
    entries = hourly.select(
        "symbol",
        (F.col("timestamp") + F.expr("INTERVAL 1 HOUR")).alias("entry_ts"),
        F.col("close").alias("entry_price"),
        (F.col("close") * F.lit(float(_TB_UP))).alias("up"),
        (F.col("close") * F.lit(float(_TB_DN))).alias("dn"),
    )
    labeled = triple_barrier_labels(entries, ticks, _TB_HORIZON)
    trades = labeled.select(
        "symbol",
        "entry_ts",
        "entry_price",
        "label",
        F.when(F.col("label") == 1, F.col("up_ts"))
        .when(F.col("label") == -1, F.col("dn_ts"))
        .otherwise(F.col("entry_ts") + F.expr(f"INTERVAL {_TB_HORIZON} SECOND"))
        .alias("timestamp"),
    )
    tick1 = dedup_keep_last(
        ticks.select("symbol", "timestamp", "price", "tick_id"),
        keys=["symbol", "timestamp"],
        order_cols=["tick_id"],
    ).select("symbol", "timestamp", "price", F.col("timestamp").alias("tick_ts"))
    exits = asof_join(trades, tick1, on=["symbol"], ts="timestamp")
    valid = (
        F.col("tick_ts").isNotNull()
        & (F.col("tick_ts") > F.col("entry_ts"))
        & (F.col("entry_price") != 0)
    )
    pnl = exits.select(
        "symbol",
        "label",
        F.when(
            valid,
            F.round((F.col("price") / F.col("entry_price") - 1) * 1000000, 0).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("pnl_ppm"),
        F.when(
            valid,
            (F.unix_timestamp("tick_ts") - F.unix_timestamp("entry_ts")).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("holding_sec"),
    )
    return pnl.groupBy("symbol", F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum("pnl_ppm").alias("total_pnl_ppm"),
        F.sum("holding_sec").alias("total_holding_sec"),
    )


# ---------------------------------------------------------------------------
# CUSUM event filter (integer-exact recursive sampling)
# ---------------------------------------------------------------------------

_CUSUM_H = 1_000_000  # threshold in e4 price units (100.0 in price)


def _cusum_fold(kind: str) -> str:
    """Prefix fold of the S+ (kind='up') or S- (kind='dn') monitor
    over the BIGINT increment list `l`, rows 1..i — exact integer
    recursion, replaying functions.ta.cusum_events."""
    if kind == "up":
        step = f"CASE WHEN greatest(CAST(0 AS BIGINT), acc + x) > {_CUSUM_H} THEN 0 ELSE greatest(CAST(0 AS BIGINT), acc + x) END"
    else:
        step = f"CASE WHEN least(CAST(0 AS BIGINT), acc + x) < -{_CUSUM_H} THEN 0 ELSE least(CAST(0 AS BIGINT), acc + x) END"
    return f"list_reduce([CAST(0 AS BIGINT)] || l[1:i-1], (acc, x) -> {step})"


_CUSUM_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
seq AS (
  SELECT symbol, bucket,
         coalesce(CAST(round(close * 10000) AS BIGINT)
                  - lag(CAST(round(close * 10000) AS BIGINT))
                      OVER (PARTITION BY symbol ORDER BY bucket), 0) AS dp
  FROM candles
),
lists AS (
  SELECT symbol, list(dp ORDER BY bucket) AS l, list(bucket ORDER BY bucket) AS bs
  FROM seq GROUP BY symbol
),
idx AS (SELECT symbol, l, bs, unnest(range(1, len(l) + 1)) AS i FROM lists)
SELECT symbol, strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts,
       l[i] AS dp_e4,
       CAST(CASE WHEN greatest(CAST(0 AS BIGINT), {_cusum_fold("up")} + l[i]) > {_CUSUM_H}
                 THEN 1 ELSE 0 END AS INTEGER) AS up_event,
       CAST(CASE WHEN least(CAST(0 AS BIGINT), {_cusum_fold("dn")} + l[i]) < -{_CUSUM_H}
                 THEN 1 ELSE 0 END AS INTEGER) AS dn_event
FROM idx
"""


@register("cusum_event_filter", _CUSUM_ORACLE, tags=("W-",))
def cusum_event_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric CUSUM event filter (de Prado ch. 2): sample a
    training event whenever cumulative upward (S+) or downward (S-)
    price drift exceeds a threshold, then reset — the event-based
    sampling that replaces fixed clocks for regime-sensitive models.
    The recursion runs on INTEGER e4 price increments
    (functions/ta.py:cusum_events), so state is exact int64 and the
    oracle replays the exact fold as a per-row BIGINT prefix
    list_reduce — a recursive state machine with reset, cross-engine
    bit-exact (the EMA/PSAR differential pattern, but with zero
    float tolerance). One applyInPandas pass per symbol."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions.ta import cusum_events

    ticks = ticks_from_events(spark, sf_dir)
    c1m = aggregate_candles(ticks, 60)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp").reset_index(drop=True)
        import numpy as np

        x = np.round(pdf["close"].to_numpy(dtype="float64") * 10000).astype(np.int64)
        dp = np.diff(x, prepend=x[:1])  # first row: 0
        up, dn = cusum_events(dp, _CUSUM_H)
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "timestamp": pdf["timestamp"],
                "dp_e4": dp,
                "up_event": up.astype("int32"),
                "dn_event": dn.astype("int32"),
            }
        )

    schema = (
        "symbol string, timestamp timestamp, dp_e4 long, up_event int, dn_event int"
    )
    out = c1m.select("symbol", "timestamp", "close").groupBy("symbol").applyInPandas(
        kernel, schema=schema
    )
    return out.select(
        "symbol", _fmt("timestamp").alias("bucket_ts"), "dp_e4", "up_event", "dn_event"
    )


# ---------------------------------------------------------------------------
# Sample weights by label uniqueness (overlapping-label concurrency)
# ---------------------------------------------------------------------------

_UNIQ_H_HOURS = 24

_UNIQ_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('hour', timestamp) AS bucket
  FROM ticks GROUP BY symbol, date_trunc('hour', timestamp)
),
entries AS (SELECT symbol, bucket + INTERVAL 1 HOUR AS entry_ts FROM cb),
units AS (
  SELECT symbol, entry_ts, entry_ts + to_hours(CAST(k AS BIGINT)) AS u
  FROM entries, unnest(range(1, {_UNIQ_H_HOURS + 1})) AS t(k)
),
conc AS (
  SELECT symbol, u, CAST(count(*) AS BIGINT) AS c FROM units GROUP BY symbol, u
)
SELECT un.symbol,
       strftime(un.entry_ts, '{TS_FMT_DUCK}') AS entry_ts,
       CAST(count(*) AS BIGINT) AS n_units,
       CAST(sum(1000000 // co.c) AS BIGINT) AS uniq_sum_ppm,
       CAST(sum(1000000 // co.c) // count(*) AS BIGINT) AS avg_uniq_ppm
FROM units un JOIN conc co ON un.symbol = co.symbol AND un.u = co.u
GROUP BY un.symbol, un.entry_ts
"""


@register("label_uniqueness_weights", _UNIQ_ORACLE, tags=("W-", "J4"))
def label_uniqueness_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample weights by average label uniqueness (de Prado ch. 4):
    hourly entries carry 24-hour label windows that OVERLAP, so
    naive training over-weights redundant samples; each entry's
    weight is the average over its window's hour-units of 1/(number
    of concurrent label windows). Expressed as the standard
    interval-to-unit expansion (bounded 24x explode), a grouped
    concurrency count, and a join back — every weight an exact
    non-negative integer ppm (floor division, engine-parity safe).
    At 100 TB the explode factor is the horizon, a constant."""
    ticks = ticks_from_events(spark, sf_dir)
    entries = (
        ticks.select(
            "symbol", F.date_trunc("hour", F.col("timestamp")).alias("bucket")
        )
        .distinct()
        .select(
            "symbol", (F.col("bucket") + F.expr("INTERVAL 1 HOUR")).alias("entry_ts")
        )
    )
    units = entries.select(
        "symbol",
        "entry_ts",
        F.explode(F.expr(f"sequence(1, {_UNIQ_H_HOURS})")).alias("k"),
    ).select(
        "symbol", "entry_ts", F.expr("timestampadd(HOUR, k, entry_ts)").alias("u")
    )
    conc = units.groupBy("symbol", "u").agg(F.count(F.lit(1)).alias("c"))
    j = units.join(conc, ["symbol", "u"])
    return j.groupBy("symbol", "entry_ts").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(F.expr("1000000 div c")).alias("uniq_sum_ppm"),
        F.expr("sum(1000000 div c) div count(*)").alias("avg_uniq_ppm"),
    ).select(
        "symbol",
        _fmt("entry_ts").alias("entry_ts"),
        "n_units",
        "uniq_sum_ppm",
        "avg_uniq_ppm",
    )


# ---------------------------------------------------------------------------
# Rolling pair beta (co-moment windows over a joined return grid)
# ---------------------------------------------------------------------------

_BETA_W = 60

_PAIR_BETA_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
rets AS (
  SELECT symbol, bucket,
         least(greatest(CAST(round((close / nullif(lag(close) OVER w, 0) - 1) * 10000) AS BIGINT),
                        -10000), 10000) AS r
  FROM candles WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
grid AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.bucket, a.r AS x, b.r AS y
  FROM rets a JOIN rets b ON a.bucket = b.bucket AND a.symbol < b.symbol
  WHERE a.r IS NOT NULL AND b.r IS NOT NULL
),
roll AS (
  SELECT sym_a, sym_b, bucket, x, y,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
  FROM grid
  WINDOW w AS (PARTITION BY sym_a, sym_b ORDER BY bucket
               ROWS BETWEEN {_BETA_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT sym_a, sym_b, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
       CAST(CASE WHEN n = {_BETA_W} AND n * sxx - sx * sx != 0
                 THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                            / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000)
            END AS BIGINT) AS beta_ppm
FROM roll
"""


@register("rolling_pair_beta", _PAIR_BETA_ORACLE, tags=("W-", "J4"))
def rolling_pair_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 60-observation regression beta of symbol B's minute
    return on symbol A's, for every symbol pair — the pairs-trading /
    hedging-ratio monitor. The pair grid is a bucket-aligned
    self-join (A < B), rolling co-moments are exact BIGINT window
    sums over winsorized e4 returns, and beta is one shared IEEE
    division snapped to ppm (NULL until the window fills or when
    variance degenerates). At a large universe the pair grid is the
    quadratic object — production bounds it to a candidate pair list
    (broadcast), which this query's shape accommodates unchanged."""
    ticks = ticks_from_events(spark, sf_dir)
    c1m = aggregate_candles(ticks, 60)
    r_raw = F.round(
        (F.col("close") / F.expr("nullif(lag(close) OVER (PARTITION BY symbol ORDER BY timestamp), 0.0d)") - 1)
        * 10000,
        0,
    ).cast("long")
    rets = c1m.select(
        "symbol",
        F.col("timestamp").alias("bucket"),
        F.least(F.greatest(r_raw, F.lit(-10000)), F.lit(10000)).alias("r"),
    ).filter(F.col("r").isNotNull())
    a = rets.select(
        F.col("symbol").alias("sym_a"), "bucket", F.col("r").alias("x")
    )
    b = rets.select(
        F.col("symbol").alias("sym_b"), "bucket", F.col("r").alias("y")
    )
    grid = a.join(b, "bucket").where(F.col("sym_a") < F.col("sym_b"))
    wr = Window.partitionBy("sym_a", "sym_b").orderBy("bucket").rowsBetween(
        -(_BETA_W - 1), 0
    )
    roll = grid.select(
        "sym_a",
        "sym_b",
        "bucket",
        F.count(F.lit(1)).over(wr).alias("n"),
        F.sum("x").over(wr).alias("sx"),
        F.sum("y").over(wr).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(wr).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wr).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    beta = F.when(
        (F.col("n") == _BETA_W) & (den != 0),
        F.round(num / den.cast("double") * 1000000, 0),
    ).cast("long")
    return roll.select(
        "sym_a", "sym_b", _fmt("bucket").alias("bucket_ts"), beta.alias("beta_ppm")
    )


# ---------------------------------------------------------------------------
# Market microstructure metrics (Roll spread / Amihud / Kyle lambda)
# ---------------------------------------------------------------------------

_MICRO_ORACLE = f"""
WITH {_MEASURED_CTE},
d AS (
  SELECT symbol, timestamp, tick_id, vol_i, dollar_i,
         least(greatest(CAST(round(price * 10000) AS BIGINT)
                        - lag(CAST(round(price * 10000) AS BIGINT))
                            OVER (PARTITION BY symbol ORDER BY timestamp, tick_id),
                        -1000000), 1000000) AS dp,
         price - lag(price) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id)
           AS dpr
  FROM runs
),
roll AS (
  SELECT symbol,
         CAST(count(CASE WHEN dp IS NOT NULL AND dp1 IS NOT NULL THEN 1 END) AS BIGINT) AS n,
         CAST(sum(CASE WHEN dp1 IS NOT NULL THEN dp END) AS BIGINT) AS sx,
         CAST(sum(CASE WHEN dp IS NOT NULL THEN dp1 END) AS BIGINT) AS sy,
         CAST(sum(dp * dp1) AS BIGINT) AS sxy
  FROM (SELECT symbol, dp,
               lag(dp) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id) AS dp1
        FROM d)
  GROUP BY symbol
),
sided AS (
  SELECT symbol, timestamp, vol_i, dp,
         last_value(CASE WHEN dpr > 0 THEN 1 WHEN dpr < 0 THEN -1 END IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS side
  FROM d
),
mins AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket,
         CAST(sum(coalesce(side, 0) * vol_i) AS BIGINT) AS sv,
         CAST(sum(coalesce(dp, 0)) AS BIGINT) AS dpm
  FROM sided GROUP BY symbol, bucket
),
kyle AS (
  SELECT symbol,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(sv) AS BIGINT) AS sx, CAST(sum(dpm) AS BIGINT) AS sy,
         CAST(sum(sv * dpm) AS BIGINT) AS sxy, CAST(sum(sv * sv) AS BIGINT) AS sxx
  FROM mins GROUP BY symbol
),
dayrows AS (
  SELECT symbol, date_trunc('day', timestamp) AS day, price, dollar_i,
         row_number() OVER (PARTITION BY symbol, date_trunc('day', timestamp)
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, date_trunc('day', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM runs
),
days AS (
  SELECT symbol, day,
         CAST(sum(dollar_i) AS BIGINT) AS dollar,
         CAST(round((max(CASE WHEN rd = 1 THEN price END)
                     / nullif(max(CASE WHEN ra = 1 THEN price END), 0) - 1) * 1000000) AS BIGINT)
           AS r_ppm
  FROM dayrows GROUP BY symbol, day
),
amihud AS (
  SELECT symbol,
         CAST(sum(CASE WHEN dollar > 0 THEN (abs(coalesce(r_ppm, 0)) * 1000000000) // dollar
                       ELSE 0 END) // count(*) AS BIGINT) AS amihud_scaled
  FROM days GROUP BY symbol
)
SELECT r.symbol,
       CAST(CASE WHEN CAST(r.n AS DOUBLE) * CAST(r.sxy AS DOUBLE)
                      - CAST(r.sx AS DOUBLE) * CAST(r.sy AS DOUBLE) < 0
                 THEN round(2 * sqrt(-((CAST(r.n AS DOUBLE) * CAST(r.sxy AS DOUBLE)
                                        - CAST(r.sx AS DOUBLE) * CAST(r.sy AS DOUBLE))
                                       / (CAST(r.n AS DOUBLE) * CAST(r.n - 1 AS DOUBLE)))))
            END AS BIGINT) AS roll_spread_e4,
       CAST(CASE WHEN CAST(k.n AS DOUBLE) * CAST(k.sxx AS DOUBLE)
                      - CAST(k.sx AS DOUBLE) * CAST(k.sx AS DOUBLE) != 0
                 THEN round((CAST(k.n AS DOUBLE) * CAST(k.sxy AS DOUBLE)
                             - CAST(k.sx AS DOUBLE) * CAST(k.sy AS DOUBLE))
                            / (CAST(k.n AS DOUBLE) * CAST(k.sxx AS DOUBLE)
                               - CAST(k.sx AS DOUBLE) * CAST(k.sx AS DOUBLE)) * 1000000)
            END AS BIGINT) AS kyle_lambda_ppm,
       a.amihud_scaled
FROM roll r JOIN kyle k ON r.symbol = k.symbol JOIN amihud a ON r.symbol = a.symbol
"""


@register("microstructure_metrics", _MICRO_ORACLE, tags=("W-", "A7"))
def microstructure_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-microstructure liquidity metrics per symbol: Roll's
    implied effective spread (2*sqrt(-cov) of successive winsorized
    e4 price changes, NULL when the serial covariance is
    non-negative), Kyle's lambda (price impact: regression of minute
    price change on tick-rule SIGNED volume), and the Amihud
    illiquidity ratio (per-day |return|/dollar-volume, floor-averaged
    in integer space). Every co-moment is an exact BIGINT; finals are
    shared IEEE sqrt/divisions. Three grouped passes over one
    symbol-keyed exchange lineage — the microstructure dashboard a
    trading pipeline runs nightly."""
    ticks = ticks_from_events(spark, sf_dir)
    wo = Window.partitionBy("symbol").orderBy("timestamp", "tick_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p_e4 = F.round(F.col("price") * 10000, 0).cast("long")
    vol_i = F.round("volume", 0).cast("long")
    dollar_i = F.round(F.col("price") * F.col("volume"), 0).cast("long")
    d = ticks.select(
        "symbol",
        "timestamp",
        "tick_id",
        "price",
        vol_i.alias("vol_i"),
        dollar_i.alias("dollar_i"),
        F.least(
            F.greatest(p_e4 - F.lag(p_e4).over(wo), F.lit(-1000000)), F.lit(1000000)
        ).alias("dp"),
        (F.col("price") - F.lag("price").over(wo)).alias("dpr"),
    )
    # Roll: serial covariance of successive price changes.
    lagged = d.select(
        "symbol", "timestamp", "tick_id", "dp", F.lag("dp").over(wo).alias("dp1")
    )
    roll = lagged.groupBy("symbol").agg(
        F.count(F.when(F.col("dp").isNotNull() & F.col("dp1").isNotNull(), 1)).alias("n"),
        F.sum(F.when(F.col("dp1").isNotNull(), F.col("dp"))).alias("sx"),
        F.sum(F.when(F.col("dp").isNotNull(), F.col("dp1"))).alias("sy"),
        F.sum(F.col("dp") * F.col("dp1")).alias("sxy"),
    )
    # Kyle: minute price change vs signed volume.
    side = F.last(
        F.when(F.col("dpr") > 0, 1).when(F.col("dpr") < 0, -1), ignorenulls=True
    ).over(wrun)
    mins = (
        d.select("symbol", "timestamp", "vol_i", "dp", side.alias("side"))
        .groupBy("symbol", F.date_trunc("minute", F.col("timestamp")).alias("bucket"))
        .agg(
            F.sum(F.coalesce(F.col("side"), F.lit(0)) * F.col("vol_i")).alias("sv"),
            F.sum(F.coalesce(F.col("dp"), F.lit(0))).alias("dpm"),
        )
    )
    kyle = mins.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sv").alias("sx"),
        F.sum("dpm").alias("sy"),
        F.sum(F.col("sv") * F.col("dpm")).alias("sxy"),
        F.sum(F.col("sv") * F.col("sv")).alias("sxx"),
    )
    # Amihud: daily |open-to-close-extremes proxy return| / dollar volume.
    wday = Window.partitionBy("symbol", F.date_trunc("day", F.col("timestamp")))
    days = (
        d.select(
            "symbol",
            F.date_trunc("day", F.col("timestamp")).alias("day"),
            "price",
            "dollar_i",
            F.row_number().over(wday.orderBy("timestamp", "tick_id")).alias("ra"),
            F.row_number()
            .over(wday.orderBy(F.desc("timestamp"), F.desc("tick_id")))
            .alias("rd"),
        )
        .groupBy("symbol", "day")
        .agg(
            F.sum("dollar_i").alias("dollar"),
            F.round(
                (
                    F.max(F.when(F.col("rd") == 1, F.col("price")))
                    / F.expr("nullif(max(CASE WHEN ra = 1 THEN price END), 0.0d)")
                    - 1
                )
                * 1000000,
                0,
            )
            .cast("long")
            .alias("r_ppm"),
        )
    )
    amihud = days.groupBy("symbol").agg(
        F.expr(
            "sum(CASE WHEN dollar > 0 THEN (abs(coalesce(r_ppm, 0)) * 1000000000) div dollar"
            " ELSE 0 END) div count(*)"
        )
        .cast("long")
        .alias("amihud_scaled")
    )
    rn, rsxy, rsx, rsy = (
        F.col("r.n").cast("double"),
        F.col("r.sxy").cast("double"),
        F.col("r.sx").cast("double"),
        F.col("r.sy").cast("double"),
    )
    rcov_num = rn * rsxy - rsx * rsy
    rden = rn * (F.col("r.n") - 1).cast("double")
    roll_spread = F.when(
        rcov_num < 0, F.round(2 * F.sqrt(-(rcov_num / rden)), 0)
    ).cast("long")
    kn, ksxy, ksx, ksy, ksxx = (
        F.col("k.n").cast("double"),
        F.col("k.sxy").cast("double"),
        F.col("k.sx").cast("double"),
        F.col("k.sy").cast("double"),
        F.col("k.sxx").cast("double"),
    )
    kden = kn * ksxx - ksx * ksx
    kyle_l = F.when(
        kden != 0, F.round((kn * ksxy - ksx * ksy) / kden * 1000000, 0)
    ).cast("long")
    return (
        roll.alias("r")
        .join(kyle.alias("k"), F.col("r.symbol") == F.col("k.symbol"))
        .join(amihud.alias("a"), F.col("r.symbol") == F.col("a.symbol"))
        .select(
            F.col("r.symbol").alias("symbol"),
            roll_spread.alias("roll_spread_e4"),
            kyle_l.alias("kyle_lambda_ppm"),
            F.col("a.amihud_scaled").alias("amihud_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Execution schedule (largest-remainder volume-profile apportionment)
# ---------------------------------------------------------------------------

_EXEC_N = 10_000  # parent order size (shares)

_EXEC_ORACLE = f"""
WITH {_MEASURED_CTE},
prof AS (
  SELECT symbol, CAST(extract(hour FROM timestamp) AS INTEGER) AS hour,
         CAST(sum(vol_i) AS BIGINT) AS vol_h
  FROM runs GROUP BY symbol, hour
),
tot AS (
  SELECT symbol, hour, vol_h,
         sum(vol_h) OVER (PARTITION BY symbol) AS tot,
         ({_EXEC_N} * vol_h) // sum(vol_h) OVER (PARTITION BY symbol) AS base,
         ({_EXEC_N} * vol_h) % sum(vol_h) OVER (PARTITION BY symbol) AS rem
  FROM prof
),
ranked AS (
  SELECT symbol, hour, vol_h, base, rem,
         {_EXEC_N} - sum(base) OVER (PARTITION BY symbol) AS deficit,
         row_number() OVER (PARTITION BY symbol ORDER BY rem DESC, hour) AS rk
  FROM tot
)
SELECT symbol, hour, vol_h,
       CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS qty
FROM ranked
"""


@register("execution_schedule_profile", _EXEC_ORACLE, tags=("W-", "A4"))
def execution_schedule_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VWAP-style execution schedule: a 10,000-share parent order is
    apportioned across hour-of-day slots proportionally to each
    symbol's historical volume profile using Hamilton's
    largest-remainder method — floor quotas plus one extra share to
    the largest remainders (ties broken by hour), so the child
    quantities are EXACT integers that sum to the parent exactly.
    The whole computation is BIGINT window arithmetic on one small
    per-symbol profile — the standard way a trading engine turns
    history into an executable schedule."""
    ticks = ticks_from_events(spark, sf_dir)
    vol_i = F.round("volume", 0).cast("long")
    prof = ticks.groupBy(
        "symbol", F.hour("timestamp").cast("int").alias("hour")
    ).agg(F.sum(vol_i).alias("vol_h"))
    wsym = Window.partitionBy("symbol")
    tot = prof.select(
        "symbol",
        "hour",
        "vol_h",
        F.expr(f"({_EXEC_N} * vol_h) div sum(vol_h) OVER (PARTITION BY symbol)").alias(
            "base"
        ),
        (F.lit(_EXEC_N) * F.col("vol_h") % F.sum("vol_h").over(wsym)).alias("rem"),
    )
    ranked = tot.select(
        "symbol",
        "hour",
        "vol_h",
        "base",
        (F.lit(_EXEC_N) - F.sum("base").over(wsym)).alias("deficit"),
        F.row_number()
        .over(Window.partitionBy("symbol").orderBy(F.desc("rem"), "hour"))
        .alias("rk"),
    )
    return ranked.select(
        "symbol",
        "hour",
        "vol_h",
        (F.col("base") + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0))
        .cast("long")
        .alias("qty"),
    )


# ---------------------------------------------------------------------------
# Meta-labeling (primary side + barrier outcome)
# ---------------------------------------------------------------------------

_META_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('hour', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
hourly AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
primaries AS (
  SELECT symbol, bucket + INTERVAL 1 HOUR AS entry_ts, close AS entry_price,
         CASE WHEN close > lag(close) OVER w THEN 1
              WHEN close < lag(close) OVER w THEN -1 END AS side
  FROM hourly WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
entries AS (SELECT * FROM primaries WHERE side IS NOT NULL),
touched AS (
  SELECT e.symbol, e.entry_ts, e.entry_price, e.side,
         min(CASE WHEN t.price >= e.entry_price * {_TB_UP} THEN t.timestamp END) AS up_ts,
         min(CASE WHEN t.price <= e.entry_price * {_TB_DN} THEN t.timestamp END) AS dn_ts
  FROM entries e JOIN ticks t
    ON t.symbol = e.symbol
   AND t.timestamp > e.entry_ts
   AND t.timestamp <= e.entry_ts + INTERVAL {_TB_HORIZON} SECOND
  GROUP BY e.symbol, e.entry_ts, e.entry_price, e.side
),
labeled AS (
  SELECT e.symbol, e.entry_ts, e.side,
         CASE WHEN t.up_ts IS NOT NULL AND (t.dn_ts IS NULL OR t.up_ts <= t.dn_ts) THEN 1
              WHEN t.dn_ts IS NOT NULL THEN -1
              ELSE 0 END AS barrier
  FROM entries e LEFT JOIN touched t
    ON t.symbol = e.symbol AND t.entry_ts = e.entry_ts
)
SELECT symbol,
       strftime(entry_ts, '{TS_FMT_DUCK}') AS entry_ts,
       CAST(side AS INTEGER) AS side,
       CAST(CASE WHEN barrier = side THEN 1 ELSE 0 END AS INTEGER) AS meta_label
FROM labeled
"""


@register("meta_labels", _META_ORACLE, tags=("J5", "W-"))
def meta_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-labeling (de Prado ch. 3.6): the PRIMARY model picks a
    side (here: previous-hour momentum sign) and the meta-label
    records only whether trading that side would have PAID — the
    barrier hit first equals the primary's direction. This is the
    binary target a secondary bet-sizing classifier trains on (the
    in-engine GD trainer consumes exactly this shape). Same banded
    range join as `triple_barrier_labels`; flat entries (no momentum
    signal) are excluded on both sides."""
    ticks = ticks_from_events(spark, sf_dir)
    hourly = aggregate_candles(ticks, 3600)
    w = Window.partitionBy("symbol").orderBy("timestamp")
    side = (
        F.when(F.col("close") > F.lag("close").over(w), 1)
        .when(F.col("close") < F.lag("close").over(w), -1)
    )
    entries = hourly.select(
        "symbol",
        (F.col("timestamp") + F.expr("INTERVAL 1 HOUR")).alias("entry_ts"),
        F.col("close").alias("entry_price"),
        side.alias("side"),
        (F.col("close") * F.lit(float(_TB_UP))).alias("up"),
        (F.col("close") * F.lit(float(_TB_DN))).alias("dn"),
    ).filter(F.col("side").isNotNull())
    labeled = triple_barrier_labels(
        entries.select("symbol", "entry_ts", "entry_price", "up", "dn"), ticks, _TB_HORIZON
    )
    j = labeled.join(
        entries.select("symbol", "entry_ts", "side"), ["symbol", "entry_ts"]
    )
    return j.select(
        "symbol",
        _fmt("entry_ts").alias("entry_ts"),
        F.col("side").cast("int").alias("side"),
        F.when(F.col("label") == F.col("side"), 1).otherwise(0).cast("int").alias("meta_label"),
    )


# ---------------------------------------------------------------------------
# Realized volatility estimators (range-based, ppm-snapped logs)
# ---------------------------------------------------------------------------

_RV_4LN2 = "2.772588722239781"  # 4*ln(2), shared double literal
_RV_2LN2M1 = "0.3862943611198906"  # 2*ln(2)-1

_RV_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('hour', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket,
         max(CASE WHEN ra = 1 THEN price END) AS open,
         max(price) AS high,
         min(price) AS low,
         max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
logs AS (
  SELECT symbol, date_trunc('day', bucket) AS day,
         CAST(round(ln(high / low) * 1000000) AS BIGINT) AS hl,
         CAST(round(ln(close / open) * 1000000) AS BIGINT) AS co,
         CAST(round(ln(high / close) * 1000000) AS BIGINT) AS hc,
         CAST(round(ln(high / open) * 1000000) AS BIGINT) AS ho,
         CAST(round(ln(low / close) * 1000000) AS BIGINT) AS lc,
         CAST(round(ln(low / open) * 1000000) AS BIGINT) AS lo
  FROM candles
  WHERE open > 0 AND low > 0 AND close > 0
),
s AS (
  SELECT symbol, day,
         CAST(count(*) AS BIGINT) AS n_bars,
         CAST(sum(hl * hl) AS BIGINT) AS s_hl2,
         CAST(sum(co * co) AS BIGINT) AS s_co2,
         CAST(sum(hc * ho + lc * lo) AS BIGINT) AS s_rs
  FROM logs GROUP BY symbol, day
)
SELECT symbol, strftime(day, '%Y-%m-%d') AS day, n_bars,
       CAST(round(CAST(s_hl2 AS DOUBLE)
                  / CAST('{_RV_4LN2}' AS DOUBLE) / CAST(n_bars AS DOUBLE)) AS BIGINT)
         AS parkinson_var_e12,
       CAST(round(0.5 * CAST(s_hl2 AS DOUBLE) / CAST(n_bars AS DOUBLE)
                  - CAST('{_RV_2LN2M1}' AS DOUBLE) * CAST(s_co2 AS DOUBLE)
                    / CAST(n_bars AS DOUBLE)) AS BIGINT) AS gk_var_e12,
       CAST(round(CAST(s_rs AS DOUBLE) / CAST(n_bars AS DOUBLE)) AS BIGINT)
         AS rs_var_e12
FROM s
"""


@register("realized_vol_estimators", _RV_ORACLE, tags=("W-", "A7"))
def realized_vol_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based realized-variance estimators per (symbol, day)
    from hourly OHLC bars: Parkinson (high-low range), Garman-Klass
    (range + open-close drift correction), and Rogers-Satchell
    (drift-robust) — the volatility inputs of every risk/position-
    sizing model, 5-14x more efficient than close-to-close variance.
    Each per-bar log-ratio is snapped to an INTEGER ppm (same IEEE
    division + ln on both engines — the BM25/bigram recipe), so the
    squared/cross sums aggregate exactly at any parallelism; the
    estimator constants are shared double literals applied once per
    output row."""
    ticks = ticks_from_events(spark, sf_dir)
    c1h = aggregate_candles(ticks, 3600)

    def lppm(a, b):
        return F.round(F.log(F.col(a) / F.col(b)) * 1000000, 0).cast("long")

    logs = c1h.filter(
        (F.col("open") > 0) & (F.col("low") > 0) & (F.col("close") > 0)
    ).select(
        "symbol",
        F.date_trunc("day", F.col("timestamp")).alias("day"),
        lppm("high", "low").alias("hl"),
        lppm("close", "open").alias("co"),
        lppm("high", "close").alias("hc"),
        lppm("high", "open").alias("ho"),
        lppm("low", "close").alias("lc"),
        lppm("low", "open").alias("lo"),
    )
    s = logs.groupBy("symbol", "day").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.sum(F.col("hl") * F.col("hl")).alias("s_hl2"),
        F.sum(F.col("co") * F.col("co")).alias("s_co2"),
        F.sum(F.col("hc") * F.col("ho") + F.col("lc") * F.col("lo")).alias("s_rs"),
    )
    n = F.col("n_bars").cast("double")
    return s.select(
        "symbol",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_bars",
        F.round(F.col("s_hl2").cast("double") / F.lit(float(_RV_4LN2)) / n, 0)
        .cast("long")
        .alias("parkinson_var_e12"),
        F.round(
            0.5 * F.col("s_hl2").cast("double") / n
            - F.lit(float(_RV_2LN2M1)) * F.col("s_co2").cast("double") / n,
            0,
        )
        .cast("long")
        .alias("gk_var_e12"),
        F.round(F.col("s_rs").cast("double") / n, 0).cast("long").alias("rs_var_e12"),
    )


# ---------------------------------------------------------------------------
# As-of join with tolerance (pandas merge_asof parity)
# ---------------------------------------------------------------------------

_ASOF_TOL = 300  # seconds

_ASOF_TOL_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
bars AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
grid AS (
  SELECT symbol, unnest(generate_series(date_trunc('hour', mn), mx, INTERVAL 1 HOUR)) AS ts
  FROM (SELECT symbol, min(bucket) AS mn, max(bucket) AS mx FROM bars GROUP BY symbol)
),
j AS (
  SELECT g.symbol, g.ts, b.bucket AS bar_ts, b.close
  FROM grid g ASOF LEFT JOIN bars b
    ON g.symbol = b.symbol AND b.bucket <= g.ts
)
SELECT symbol, strftime(ts, '{TS_FMT_DUCK}') AS grid_ts,
       CASE WHEN bar_ts IS NOT NULL AND ts - bar_ts <= INTERVAL {_ASOF_TOL} SECOND
            THEN strftime(bar_ts, '{TS_FMT_DUCK}') END AS matched_ts,
       CASE WHEN bar_ts IS NOT NULL AND ts - bar_ts <= INTERVAL {_ASOF_TOL} SECOND
            THEN close END AS close,
       CAST(CASE WHEN bar_ts IS NULL THEN 'none'
                 WHEN ts - bar_ts <= INTERVAL {_ASOF_TOL} SECOND THEN 'fresh'
                 ELSE 'stale' END AS VARCHAR) AS match_kind
FROM j
"""


@register("asof_join_tolerance", _ASOF_TOL_ORACLE, tags=("J5",))
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join WITH TOLERANCE (pandas `merge_asof
    (tolerance=...)` parity): an hourly query grid takes each
    symbol's latest minute bar, but matches older than 5 minutes are
    REJECTED as stale — the staleness gate every feature-store
    point-in-time join needs so silently-old features can't leak into
    training rows. Built on the single-shuffle union+window as-of
    operator; the tolerance is one post-filter on the matched
    timestamp, and the match disposition (fresh/stale/none) is
    emitted for audit. Oracle: DuckDB native ASOF LEFT JOIN + the
    same CASE gate."""
    from auto_trade_data_pipeline_spark.operators.joins import asof_join

    ticks = ticks_from_events(spark, sf_dir)
    bars = aggregate_candles(ticks, 60).select(
        "symbol", F.col("timestamp").alias("bar_ts2"), "close"
    )
    spans = bars.groupBy("symbol").agg(
        F.date_trunc("hour", F.min("bar_ts2")).alias("mn"), F.max("bar_ts2").alias("mx")
    )
    grid = spans.select(
        "symbol",
        F.explode(F.expr("sequence(mn, mx, INTERVAL 1 HOUR)")).alias("timestamp"),
    )
    right = bars.select(
        "symbol",
        F.col("bar_ts2").alias("timestamp"),
        F.col("bar_ts2").alias("bar_ts"),
        "close",
    )
    j = asof_join(grid, right, on=["symbol"], ts="timestamp")
    fresh = F.col("bar_ts").isNotNull() & (
        F.col("timestamp").cast("long") - F.col("bar_ts").cast("long") <= _ASOF_TOL
    )
    return j.select(
        "symbol",
        _fmt("timestamp").alias("grid_ts"),
        F.when(fresh, _fmt("bar_ts")).alias("matched_ts"),
        F.when(fresh, F.col("close")).alias("close"),
        F.when(F.col("bar_ts").isNull(), "none")
        .when(fresh, "fresh")
        .otherwise("stale")
        .alias("match_kind"),
    )


# ---------------------------------------------------------------------------
# Imbalance bars (signed-flow information bars, reset-fold assignment)
# ---------------------------------------------------------------------------

_IMB_T = 20_000  # signed-flow threshold per bar


_IMB_STEP = (
    f"CASE WHEN abs(acc + x) > {_IMB_T} THEN CAST(0 AS BIGINT) ELSE acc + x END"
)

_IMBALANCE_BARS_ORACLE = f"""
WITH {_MEASURED_CTE},
sided AS (
  SELECT symbol, timestamp, tick_id, price, vol_i,
         coalesce(last_value(CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) * vol_i AS s
  FROM (
    SELECT *, price - lag(price) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id) AS dp
    FROM runs
  )
),
lists AS (
  SELECT symbol,
         list(s ORDER BY timestamp, tick_id) AS l,
         list(timestamp ORDER BY timestamp, tick_id) AS ts,
         list(tick_id ORDER BY timestamp, tick_id) AS ids,
         list(price ORDER BY timestamp, tick_id) AS ps,
         list(vol_i ORDER BY timestamp, tick_id) AS vs
  FROM sided GROUP BY symbol
),
idx AS (SELECT symbol, l, ts, ids, ps, vs, unnest(range(1, len(l) + 1)) AS i FROM lists),
flagged AS (
  SELECT symbol, ts[i] AS timestamp, ids[i] AS tick_id, ps[i] AS price, vs[i] AS vol_i,
         CASE WHEN abs(list_reduce([CAST(0 AS BIGINT)] || l[1:i-1],
                                   (acc, x) -> {_IMB_STEP}) + l[i]) > {_IMB_T}
              THEN 1 ELSE 0 END AS trig
  FROM idx
),
barids AS (
  SELECT symbol, timestamp, tick_id, price, vol_i,
         coalesce(sum(trig) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bar_id
  FROM flagged
),
assigned AS (
  SELECT symbol, timestamp, tick_id, price, vol_i, bar_id,
         row_number() OVER (PARTITION BY symbol, bar_id
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, bar_id
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM barids
)
SELECT symbol, CAST(bar_id AS BIGINT) AS bar_id,
       strftime(min(timestamp), '{TS_FMT_DUCK}') AS open_ts,
       strftime(max(timestamp), '{TS_FMT_DUCK}') AS close_ts,
       max(CASE WHEN ra = 1 THEN price END) AS open,
       max(price) AS high,
       min(price) AS low,
       max(CASE WHEN rd = 1 THEN price END) AS close,
       CAST(sum(vol_i) AS BIGINT) AS volume,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM assigned GROUP BY symbol, bar_id
"""


@register("imbalance_bars", _IMBALANCE_BARS_ORACLE, tags=("A1", "W-"))
def imbalance_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Imbalance bars (de Prado ch. 2): a bar closes when the RUNNING
    SIGNED order flow (tick-rule side x volume) breaches a threshold
    — sampling that keys on one-sided pressure rather than raw
    activity, the information-driven clock for flow-sensitive
    models. The side carry is relational (running last-ignorenulls);
    the bar assignment is an exact int64 reset fold
    (functions/ta.py:imbalance_bar_ids) run once per symbol via
    applyInPandas, and the oracle replays the fold as a BIGINT prefix
    list_reduce then rebuilds bar ids as the prefix count of
    triggers. OHLC aggregation is the shared information-bar shape."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions.ta import imbalance_bar_ids

    ticks = ticks_from_events(spark, sf_dir)
    wo = Window.partitionBy("symbol").orderBy("timestamp", "tick_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dp = F.col("price") - F.lag("price").over(wo)
    side = F.coalesce(
        F.last(
            F.when(F.col("dp") > 0, 1).when(F.col("dp") < 0, -1), ignorenulls=True
        ).over(wrun),
        F.lit(0),
    )
    vol_i = F.round("volume", 0).cast("long")
    sided = ticks.select(
        "symbol", "timestamp", "tick_id", "price", vol_i.alias("vol_i"), dp.alias("dp")
    ).select(
        "symbol",
        "timestamp",
        "tick_id",
        "price",
        "vol_i",
        (side * F.col("vol_i")).alias("s"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["timestamp", "tick_id"], kind="mergesort").reset_index(
            drop=True
        )
        pdf["bar_id"] = imbalance_bar_ids(pdf["s"].to_numpy(), _IMB_T)
        return pdf[["symbol", "timestamp", "tick_id", "price", "vol_i", "bar_id"]]

    schema = (
        "symbol string, timestamp timestamp, tick_id long, price double,"
        " vol_i long, bar_id long"
    )
    assigned = sided.groupBy("symbol").applyInPandas(kernel, schema=schema)
    wbar = Window.partitionBy("symbol", "bar_id")
    marked = assigned.withColumn(
        "ra", F.row_number().over(wbar.orderBy("timestamp", "tick_id"))
    ).withColumn(
        "rd", F.row_number().over(wbar.orderBy(F.desc("timestamp"), F.desc("tick_id")))
    )
    return marked.groupBy("symbol", "bar_id").agg(
        _fmt(F.min("timestamp")).alias("open_ts"),
        _fmt(F.max("timestamp")).alias("close_ts"),
        F.max(F.when(F.col("ra") == 1, F.col("price"))).alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max(F.when(F.col("rd") == 1, F.col("price"))).alias("close"),
        F.sum("vol_i").alias("volume"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


# ---------------------------------------------------------------------------
# Intraday seasonality profile (hour-of-day activity curve)
# ---------------------------------------------------------------------------

_SEASONALITY_ORACLE = f"""
WITH {TICKS_CTE},
m AS (
  SELECT symbol, CAST(extract(hour FROM timestamp) AS BIGINT) AS hod,
         CAST(round(volume) AS BIGINT) AS vol_i
  FROM ticks
),
h AS (
  SELECT symbol, hod, CAST(sum(vol_i) AS BIGINT) AS vol,
         CAST(count(*) AS BIGINT) AS n_ticks
  FROM m GROUP BY symbol, hod
),
t AS (
  SELECT *, CAST(sum(vol) OVER (PARTITION BY symbol) AS BIGINT) AS tot,
         row_number() OVER (PARTITION BY symbol ORDER BY vol DESC, hod) AS hr
  FROM h
)
SELECT symbol, hod, vol, n_ticks,
       CAST(vol * 1000000 // nullif(tot, 0) AS BIGINT) AS share_ppm,
       CAST(hr AS BIGINT) AS hour_rank
FROM t
"""


@register("intraday_seasonality", _SEASONALITY_ORACLE, tags=("A4", "W-"))
def intraday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity curve per symbol — the intraday volume
    seasonality profile behind VWAP execution schedules and
    deseasonalized anomaly detection (the reference samples fixed
    trading sessions at `src/candle_to_calcs.py`'s session flags;
    this is the data-driven generalization). One map-side-combinable
    groupBy over (symbol, hour); the per-symbol total rides an
    unordered partition window over the 24-row-per-symbol aggregate
    (dimension-sized, never the tick tape); shares are exact integer
    ppm (positive operands — engine div parity)."""
    ticks = ticks_from_events(spark, sf_dir)
    h = (
        ticks.select(
            "symbol",
            F.hour("timestamp").cast("long").alias("hod"),
            F.round("volume", 0).cast("long").alias("vol_i"),
        )
        .groupBy("symbol", "hod")
        .agg(F.sum("vol_i").alias("vol"), F.count(F.lit(1)).alias("n_ticks"))
    )
    w = Window.partitionBy("symbol")
    t = h.withColumn("tot", F.sum("vol").over(w)).withColumn(
        "hr", F.row_number().over(Window.partitionBy("symbol").orderBy(F.desc("vol"), "hod"))
    )
    return t.select(
        "symbol",
        "hod",
        "vol",
        "n_ticks",
        F.expr("vol * 1000000 div nullif(tot, 0)").cast("long").alias("share_ppm"),
        F.col("hr").cast("long").alias("hour_rank"),
    )


# ---------------------------------------------------------------------------
# Bet sizing: concurrent-bet position averaging (de Prado ch. 10)
# ---------------------------------------------------------------------------

_BET_HOLD_HOURS = 3

_BET_SIZING_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('hour', timestamp) AS bucket, price,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
hourly AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
sided AS (
  SELECT symbol, bucket,
         CASE WHEN close > lag(close) OVER (PARTITION BY symbol ORDER BY bucket) THEN 1
              WHEN close < lag(close) OVER (PARTITION BY symbol ORDER BY bucket) THEN -1
              ELSE 0 END AS side
  FROM hourly
),
units AS (
  SELECT symbol,
         to_timestamp(epoch(bucket) + k * 3600) AS hour_ts,
         side
  FROM sided, (SELECT unnest(range(1, {_BET_HOLD_HOURS} + 1)) AS k)
  WHERE side <> 0
)
SELECT symbol, strftime(hour_ts, '{TS_FMT_DUCK}') AS hour_ts,
       CAST(count(*) AS BIGINT) AS n_bets,
       CAST(sum(side) AS BIGINT) AS net_side,
       CAST((sum(side) + count(*)) * 1000000 // (2 * count(*)) AS BIGINT) AS pos_unit_ppm
FROM units GROUP BY symbol, hour_ts
"""


@register("bet_sizing_positions", _BET_SIZING_ORACLE, tags=("W-", "A4"))
def bet_sizing_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-bet position averaging (de Prado ch. 10): each
    hourly momentum signal opens a +1/-1 bet held for the next
    {H} hours; the strategy's net position per (symbol, hour) is the
    average of the active bet signs — mapped to [0, 1e6] as
    (net + n) * 1e6 // (2n) so the integer division stays on a
    positive numerator (Spark `div` truncates, DuckDB `//` floors;
    they agree only there). The interval-to-unit expansion is BOUNDED
    (exactly {H} rows per bet — the label_uniqueness_weights recipe),
    so work scales with bets, never bets x hours.""".replace(
        "{H}", str(_BET_HOLD_HOURS)
    )
    ticks = ticks_from_events(spark, sf_dir)
    hourly = aggregate_candles(ticks, 3600).select("symbol", "timestamp", "close")
    wo = Window.partitionBy("symbol").orderBy("timestamp")
    prev = F.lag("close").over(wo)
    sided = hourly.select(
        "symbol",
        "timestamp",
        F.when(F.col("close") > prev, 1).when(F.col("close") < prev, -1).otherwise(0).alias("side"),
    ).filter(F.col("side") != 0)
    units = sided.select(
        "symbol",
        F.explode(F.sequence(F.lit(1), F.lit(_BET_HOLD_HOURS))).alias("k"),
        "side",
        "timestamp",
    ).select(
        "symbol",
        F.timestamp_seconds(F.unix_timestamp("timestamp") + F.col("k") * 3600).alias("hour_ts"),
        "side",
    )
    return units.groupBy("symbol", "hour_ts").agg(
        F.count(F.lit(1)).alias("n_bets"),
        F.sum("side").alias("net_side"),
        F.expr("(sum(side) + count(*)) * 1000000 div (2 * count(*))")
        .cast("long")
        .alias("pos_unit_ppm"),
    ).select(
        "symbol",
        _fmt("hour_ts").alias("hour_ts"),
        "n_bets",
        "net_side",
        "pos_unit_ppm",
    )


# ---------------------------------------------------------------------------
# Kalman price smoothing (recursive state estimation, struct-fold oracle)
# ---------------------------------------------------------------------------

_KAL_Q = 0.01
_KAL_R = 1.0

#: Minute-close bars shared by the Kalman / LZ78 queries.
_MINUTE_CLOSE_CTE = f"""{TICKS_CTE},
mb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
mclose AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM mb GROUP BY symbol, bucket
)
"""

_KALMAN_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
lists AS (
  SELECT symbol, list(close ORDER BY bucket) AS l, list(bucket ORDER BY bucket) AS bs
  FROM mclose GROUP BY symbol
),
idx AS (SELECT symbol, l, bs, unnest(range(1, len(l) + 1)) AS i FROM lists)
SELECT symbol, strftime(bs[i], '{TS_FMT_DUCK}') AS bucket_ts, l[i] AS close,
       CAST(round((CASE WHEN i = 1 THEN l[1] ELSE
         (list_reduce(
            [{{'x': l[1], 'p': CAST(1.0 AS DOUBLE)}}] ||
            list_transform(l[2:i], z -> {{'x': CAST(z AS DOUBLE), 'p': CAST(0.0 AS DOUBLE)}}),
            (acc, el) -> {{'x': acc.x + ((acc.p + {_KAL_Q}) / (acc.p + {_KAL_Q} + {_KAL_R})) * (el.x - acc.x),
                           'p': (1.0 - (acc.p + {_KAL_Q}) / (acc.p + {_KAL_Q} + {_KAL_R})) * (acc.p + {_KAL_Q})}}
         )).x END) * 10000) AS BIGINT) AS kalman_e4
FROM idx
"""


@register("kalman_price_smooth", _KALMAN_ORACLE, tags=("W-", "W3", "bench"))
def kalman_price_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute Kalman-filtered price level (1-D random-walk state
    model) — the optimal-gain counterpart of the reference's EMA
    smoothing family, and a fourth independently-oracled recursive
    state machine (after EMA, PSAR, and the anchor machine): the
    DuckDB oracle replays the gain/level/variance recursion per row
    as a STRUCT-accumulator prefix list_reduce, bit-for-bit in IEEE
    doubles (functions/ta.py:kalman_filter). Spark side: the
    ta.kalman_filter numpy kernel per symbol
    (operators/scans.py:scan_by_key); e4 integer scaling absorbs the
    last-bit FMA-fusion difference (the EMA oracle convention)."""
    from auto_trade_data_pipeline_spark.functions import ta
    from auto_trade_data_pipeline_spark.operators.scans import scan_by_key

    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")

    def _kal_np(pdf):
        return ta.kalman_filter(pdf["close"].to_numpy(dtype=float), _KAL_Q, _KAL_R)

    out = scan_by_key(mclose, ["symbol"], "timestamp", ["close"], {"kx": ("double", _kal_np)})
    return out.select(
        "symbol",
        _fmt("timestamp").alias("bucket_ts"),
        "close",
        F.expr("CAST(round(kx * 10000) AS BIGINT)").alias("kalman_e4"),
    )


# ---------------------------------------------------------------------------
# LZ78 sequence complexity of return signs (entropy features, ch. 18)
# ---------------------------------------------------------------------------

_LZ78_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
sided AS (
  SELECT symbol, CAST(bucket AS DATE) AS day, bucket,
         CASE WHEN close > lag(close) OVER w THEN 'u'
              WHEN close < lag(close) OVER w THEN 'd'
              ELSE 'f' END AS sgn,
         lag(close) OVER w IS NULL AS is_first
  FROM mclose
  WINDOW w AS (PARTITION BY symbol, CAST(bucket AS DATE) ORDER BY bucket)
),
seqs AS (
  SELECT symbol, day, string_agg(sgn, '' ORDER BY bucket) AS s,
         CAST(count(*) AS BIGINT) AS n_moves
  FROM sided WHERE NOT is_first GROUP BY symbol, day
),
folded AS (
  SELECT symbol, day, n_moves,
         list_reduce(
           [['']] || list_transform(list_transform(range(1, len(s) + 1), i -> s[i]),
                                    c -> [c]),
           (acc, el) -> CASE WHEN list_contains(acc[2:], acc[1] || el[1])
                             THEN [acc[1] || el[1]] || acc[2:]
                             ELSE [''] || acc[2:] || [acc[1] || el[1]] END
         ) AS st
  FROM seqs
)
SELECT symbol, strftime(day, '%Y-%m-%d') AS day, n_moves,
       CAST(len(st) - 1 + (CASE WHEN st[1] <> '' THEN 1 ELSE 0 END) AS BIGINT) AS lz78_phrases,
       CAST((len(st) - 1 + (CASE WHEN st[1] <> '' THEN 1 ELSE 0 END)) * 1000000
            // n_moves AS BIGINT) AS complexity_ppm
FROM folded
"""


@register("sign_lz78_complexity", _LZ78_ORACLE, tags=("W-", "EXT4"))
def sign_lz78_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZ78 sequence complexity of the per-day minute return-sign
    string (de Prado ch. 18 entropy features): the number of phrases
    in the greedy LZ78 incremental parse — low for trending/repeating
    regimes, high near the randomness ceiling — plus the
    per-move normalized rate in ppm. The parse is a PURE-JVM
    higher-order fold (F.aggregate with a struct accumulator carrying
    the current phrase + dictionary): no UDF, no Python, whole-stage
    codegen end to end; work is one minute-bar aggregation plus an
    O(len * phrases) fold per (symbol, day). The oracle replays the
    identical fold as a DuckDB list_reduce over a list-of-varchar
    accumulator."""
    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy("timestamp")
    prev = F.lag("close").over(w)
    sided = mclose.select(
        "symbol",
        F.to_date("timestamp").alias("day"),
        "timestamp",
        F.when(F.col("close") > prev, "u")
        .when(F.col("close") < prev, "d")
        .otherwise("f")
        .alias("sgn"),
        prev.isNull().alias("is_first"),
    ).filter(~F.col("is_first"))
    seqs = sided.groupBy("symbol", "day").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(timestamp, sgn))), x -> x.sgn)"
        ).alias("arr"),
        F.count(F.lit(1)).alias("n_moves"),
    )
    phrases = F.expr(
        """
        aggregate(
          arr,
          struct(CAST('' AS STRING) AS cur, CAST(array() AS ARRAY<STRING>) AS d),
          (acc, ch) -> IF(array_contains(acc.d, concat(acc.cur, ch)),
                          named_struct('cur', concat(acc.cur, ch), 'd', acc.d),
                          named_struct('cur', '', 'd',
                                       concat(acc.d, array(concat(acc.cur, ch))))),
          acc -> size(acc.d) + IF(acc.cur != '', 1, 0)
        )
        """
    ).cast("long")
    return seqs.select(
        "symbol",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_moves",
        phrases.alias("lz78_phrases"),
        F.expr(
            """
            CAST(aggregate(
              arr,
              struct(CAST('' AS STRING) AS cur, CAST(array() AS ARRAY<STRING>) AS d),
              (acc, ch) -> IF(array_contains(acc.d, concat(acc.cur, ch)),
                              named_struct('cur', concat(acc.cur, ch), 'd', acc.d),
                              named_struct('cur', '', 'd',
                                           concat(acc.d, array(concat(acc.cur, ch))))),
              acc -> size(acc.d) + IF(acc.cur != '', 1, 0)
            ) AS BIGINT) * 1000000 div n_moves
            """
        ).cast("long").alias("complexity_ppm"),
    )


# ---------------------------------------------------------------------------
# Inverse-variance portfolio allocation (de Prado ch. 16's IVP base case)
# ---------------------------------------------------------------------------

_IVP_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
r AS (
  SELECT symbol,
         greatest(least(CAST(round((close - lag(close) OVER w)
                        / nullif(lag(close) OVER w, 0) * 1000000) AS BIGINT),
                  1000000), -1000000) AS r_ppm
  FROM mclose WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
s AS (
  SELECT symbol, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r_ppm) AS BIGINT) AS sx,
         CAST(sum(r_ppm * r_ppm) AS BIGINT) AS sxx
  FROM r WHERE r_ppm IS NOT NULL GROUP BY symbol
),
iv AS (
  SELECT symbol, n, sx,
         CAST(round(CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                              / (CAST(n AS DOUBLE) * (n - 1)) > 0
                    THEN 1e18 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                 / (CAST(n AS DOUBLE) * (n - 1))) END) AS BIGINT)
           AS ivar_sc
  FROM s WHERE n >= 2
),
tot AS (SELECT CAST(sum(ivar_sc) AS BIGINT) AS t FROM iv)
SELECT symbol, n AS n_returns, sx AS sum_r_ppm, ivar_sc,
       CAST(round(CAST(ivar_sc AS DOUBLE) * 1000000 / tot.t) AS BIGINT) AS weight_ppm
FROM iv, tot
"""


@register("inverse_variance_weights", _IVP_ORACLE, tags=("A-", "W-"))
def inverse_variance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-variance portfolio allocation (the IVP allocator that
    seeds de Prado's HRP, ch. 16): each symbol's weight is
    proportional to 1 / Var(minute returns). Returns are winsorized
    (±100%) integer ppm so the co-moment SUMS are exact BIGINTs at
    any parallelism; the variance COMBINATION runs in fixed-order
    DOUBLE (the int64-overflow convention); inverse variances are
    integer-scaled BEFORE the cross-symbol total so no
    order-dependent float summation exists anywhere. The total rides
    a one-row broadcast. Zero-variance symbols drop via the > 0
    guard; zero prices route through nullif (ANSI-safe at 10x
    scale)."""
    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")
    wo = Window.partitionBy("symbol").orderBy("timestamp")
    prev = F.lag("close").over(wo)
    r = mclose.select(
        "symbol",
        F.greatest(
            F.least(
                F.expr(
                    "CAST(round((close - lag(close) OVER (PARTITION BY symbol ORDER BY timestamp))"
                    " / nullif(lag(close) OVER (PARTITION BY symbol ORDER BY timestamp), 0)"
                    " * 1000000) AS BIGINT)"
                ),
                F.lit(1000000),
            ),
            F.lit(-1000000),
        ).alias("r_ppm"),
    ).filter(F.col("r_ppm").isNotNull())
    s = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_ppm").alias("sx"),
        F.sum(F.col("r_ppm") * F.col("r_ppm")).alias("sxx"),
    ).filter(F.col("n") >= 2)
    var = (
        (F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    iv = s.select(
        "symbol",
        F.col("n").alias("n_returns"),
        F.col("sx").alias("sum_r_ppm"),
        F.round(F.when(var > 0, F.lit(1e18) / var))
        .cast("long")
        .alias("ivar_sc"),
    )
    tot = iv.agg(F.sum("ivar_sc").alias("t"))
    return iv.crossJoin(F.broadcast(tot)).select(
        "symbol",
        "n_returns",
        "sum_r_ppm",
        "ivar_sc",
        F.expr("CAST(round(CAST(ivar_sc AS DOUBLE) * 1000000 / t) AS BIGINT)").alias(
            "weight_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# EWMA covariance / hedge beta (RiskMetrics lambda = 0.94)
# ---------------------------------------------------------------------------

_EWMA_LAM = 0.94
_EWMA_1ML = 1.0 - _EWMA_LAM  # spelled identically on both engines

_EWMA_BETA_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
rets AS (
  SELECT symbol, bucket,
         least(greatest(CAST(round((close / nullif(lag(close) OVER w, 0) - 1) * 10000) AS BIGINT),
                        -10000), 10000) AS r
  FROM candles WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
pair AS (
  SELECT symbol, row_number() OVER (ORDER BY symbol) AS rk
  FROM (SELECT DISTINCT symbol FROM candles)
  QUALIFY rk <= 2
),
grid AS (
  SELECT a.bucket,
         CAST(a.r AS DOUBLE) * b.r AS xy,
         CAST(b.r AS DOUBLE) * b.r AS yy,
         min(a.symbol) OVER () AS sym_a, min(b.symbol) OVER () AS sym_b
  FROM rets a
  JOIN pair pa ON a.symbol = pa.symbol AND pa.rk = 1
  JOIN rets b ON a.bucket = b.bucket
  JOIN pair pb ON b.symbol = pb.symbol AND pb.rk = 2
  WHERE a.r IS NOT NULL AND b.r IS NOT NULL
),
lists AS (
  SELECT sym_a, sym_b,
         list(bucket ORDER BY bucket) AS bs,
         list(xy ORDER BY bucket) AS lxy,
         list(yy ORDER BY bucket) AS lyy
  FROM grid GROUP BY sym_a, sym_b
),
idx AS (SELECT sym_a, sym_b, bs, lxy, lyy, unnest(range(1, len(bs) + 1)) AS i FROM lists),
folded AS (
  SELECT sym_a, sym_b, bs[i] AS bucket,
         list_reduce(
           [{{'a': lxy[1], 'b': lyy[1]}}] ||
           list_transform(range(2, i + 1), j -> {{'a': lxy[j], 'b': lyy[j]}}),
           (acc, el) -> {{'a': {_EWMA_LAM} * acc.a + {_EWMA_1ML!r} * el.a,
                          'b': {_EWMA_LAM} * acc.b + {_EWMA_1ML!r} * el.b}}
         ) AS st
  FROM idx
)
SELECT sym_a, sym_b, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
       CAST(CASE WHEN st.b != 0 THEN round(st.a / st.b * 1000000) END AS BIGINT)
         AS ewma_beta_e6
FROM folded
"""


@register("ewma_beta_recursive", _EWMA_BETA_ORACLE, tags=("W-", "W3"))
def ewma_beta_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA hedge beta (lambda = 0.94) between the two
    lexicographically-first symbols: exponentially-weighted covariance
    and variance recursions over the bucket-aligned minute-return
    grid, beta = cov / var per row. EWMA is LINEAR in the cross
    products, so the two-state recursion folds elementwise — the
    DuckDB oracle replays it as a struct-accumulator prefix
    list_reduce with the exact literals ({lam} and 1 - {lam} spelled
    identically on both engines), bit-exact in IEEE doubles; e6 snap
    on the final ratio only. Returns are winsorized integer e4 before
    any float math (scale-safe under zero prices via nullif).""".replace(
        "{lam}", str(_EWMA_LAM)
    )
    import pandas as pd

    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")
    wo = Window.partitionBy("symbol").orderBy("timestamp")
    r = mclose.select(
        "symbol",
        F.col("timestamp").alias("bucket"),
        F.least(
            F.greatest(
                F.expr(
                    "CAST(round((close / nullif(lag(close) OVER (PARTITION BY symbol"
                    " ORDER BY timestamp), 0) - 1) * 10000) AS BIGINT)"
                ),
                F.lit(-10000),
            ),
            F.lit(10000),
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    pair = (
        r.select("symbol")
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy("symbol")))
        .filter(F.col("rk") <= 2)
    )
    a = r.join(F.broadcast(pair.filter(F.col("rk") == 1)), "symbol").select(
        F.col("symbol").alias("sym_a"), "bucket", F.col("r").alias("ra")
    )
    b = r.join(F.broadcast(pair.filter(F.col("rk") == 2)), "symbol").select(
        F.col("symbol").alias("sym_b"), "bucket", F.col("r").alias("rb")
    )
    grid = a.join(b, "bucket").select(
        "sym_a",
        "sym_b",
        "bucket",
        (F.col("ra").cast("double") * F.col("rb")).alias("xy"),
        (F.col("rb").cast("double") * F.col("rb")).alias("yy"),
    )

    lam, oml = _EWMA_LAM, _EWMA_1ML

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket", kind="mergesort").reset_index(drop=True)
        xy = pdf["xy"].to_numpy(dtype=float)
        yy = pdf["yy"].to_numpy(dtype=float)
        c = v = 0.0
        cs, vs = [], []
        for t in range(len(xy)):
            if t == 0:
                c, v = xy[0], yy[0]
            else:
                c = lam * c + oml * xy[t]
                v = lam * v + oml * yy[t]
            cs.append(c)
            vs.append(v)
        pdf["c"] = cs
        pdf["v"] = vs
        return pdf[["sym_a", "sym_b", "bucket", "c", "v"]]

    out = grid.groupBy("sym_a", "sym_b").applyInPandas(
        kernel, schema="sym_a string, sym_b string, bucket timestamp, c double, v double"
    )
    return out.select(
        "sym_a",
        "sym_b",
        _fmt("bucket").alias("bucket_ts"),
        F.expr("CAST(CASE WHEN v != 0 THEN round(c / v * 1000000) END AS BIGINT)").alias(
            "ewma_beta_e6"
        ),
    )


# ---------------------------------------------------------------------------
# Corwin-Schultz high-low spread estimator (JF 2012)
# ---------------------------------------------------------------------------

#: 3 - 2*sqrt(2), spelled as one shared literal on both engines.
_CS_DENOM = 3.0 - 2.0 * (2.0 ** 0.5)

_CS_ORACLE = f"""
WITH {TICKS_CTE},
daily AS (
  SELECT symbol, CAST(timestamp AS DATE) AS day,
         max(price) AS hi, min(price) AS lo
  FROM ticks GROUP BY symbol, CAST(timestamp AS DATE)
),
paired AS (
  SELECT symbol, day, hi, lo,
         lag(hi) OVER w AS hi1, lag(lo) OVER w AS lo1
  FROM daily WINDOW w AS (PARTITION BY symbol ORDER BY day)
),
terms AS (
  SELECT symbol, day,
         CASE WHEN lo > 0 AND lo1 > 0 THEN
           ln(hi1 / lo1) * ln(hi1 / lo1) + ln(hi / lo) * ln(hi / lo) END AS beta,
         CASE WHEN lo > 0 AND lo1 > 0 THEN
           ln(greatest(hi, hi1) / least(lo, lo1)) * ln(greatest(hi, hi1) / least(lo, lo1))
         END AS gamma
  FROM paired WHERE hi1 IS NOT NULL
),
est AS (
  SELECT symbol, day, beta, gamma,
         (sqrt(2.0 * beta) - sqrt(beta)) / {_CS_DENOM!r} - sqrt(gamma / {_CS_DENOM!r})
           AS alpha
  FROM terms
)
SELECT symbol, strftime(day, '%Y-%m-%d') AS day,
       CAST(round(beta * 1000000) AS BIGINT) AS beta_e6,
       CAST(round(gamma * 1000000) AS BIGINT) AS gamma_e6,
       CAST(round((2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha))) * 1000000) AS BIGINT)
         AS spread_e6
FROM est
"""


@register("corwin_schultz_spread", _CS_ORACLE, tags=("W-", "A4"))
def corwin_schultz_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz bid-ask spread estimator (JF 2012) from daily
    high-low ranges — the third microstructure liquidity measure next
    to Roll and Amihud (`microstructure_metrics`): beta from two
    consecutive days' squared log ranges, gamma from the two-day
    range, alpha via the closed form, spread = 2(e^a - 1)/(1 + e^a).
    One daily aggregate + one lag window; every transcendental is
    evaluated on IDENTICAL double inputs through an expression tree
    shared verbatim with the oracle (3 - 2*sqrt(2) spelled as one
    literal), e6-snapped outputs absorbing the <=1-ulp libm
    difference. Degenerate days (zero/negative lows — real at 10x
    scale) return NULL via the > 0 guard."""
    ticks = ticks_from_events(spark, sf_dir)
    daily = ticks.groupBy("symbol", F.to_date("timestamp").alias("day")).agg(
        F.max("price").alias("hi"), F.min("price").alias("lo")
    )
    w = Window.partitionBy("symbol").orderBy("day")
    paired = daily.select(
        "symbol",
        "day",
        "hi",
        "lo",
        F.lag("hi").over(w).alias("hi1"),
        F.lag("lo").over(w).alias("lo1"),
    ).filter(F.col("hi1").isNotNull())
    ok = (F.col("lo") > 0) & (F.col("lo1") > 0)
    beta = F.when(
        ok,
        F.expr("ln(hi1 / lo1) * ln(hi1 / lo1) + ln(hi / lo) * ln(hi / lo)"),
    )
    gamma = F.when(
        ok,
        F.expr(
            "ln(greatest(hi, hi1) / least(lo, lo1)) * ln(greatest(hi, hi1) / least(lo, lo1))"
        ),
    )
    terms = paired.select(
        "symbol", "day", beta.alias("beta"), gamma.alias("gamma")
    )
    d = repr(_CS_DENOM)
    est = terms.withColumn(
        "alpha", F.expr(f"(sqrt(2.0 * beta) - sqrt(beta)) / {d} - sqrt(gamma / {d})")
    )
    return est.select(
        "symbol",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.expr("CAST(round(beta * 1000000) AS BIGINT)").alias("beta_e6"),
        F.expr("CAST(round(gamma * 1000000) AS BIGINT)").alias("gamma_e6"),
        F.expr(
            "CAST(round((2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha))) * 1000000) AS BIGINT)"
        ).alias("spread_e6"),
    )


# ---------------------------------------------------------------------------
# Supertrend bands (ATR band ratchet + trend-flip recursion)
# ---------------------------------------------------------------------------

_ST_P = 10
_ST_M = 3.0


def _st_bub(j: str) -> str:
    return f"(lh[{j}] + ll[{j}]) / 2 + {_ST_M} * la[{j}]"


def _st_blb(j: str) -> str:
    return f"(lh[{j}] + ll[{j}]) / 2 - {_ST_M} * la[{j}]"


#: Band-ratchet step expressions (repeated inline — lambdas have no
#: let-binding). acc/el share one struct shape {ub, lb, d, x}: acc
#: carries (final_ub, final_lb, dir, unused); el carries
#: (basic_ub, basic_lb, close, prev_close).
_ST_NUB = "CASE WHEN el.ub < acc.ub OR el.x > acc.ub THEN el.ub ELSE acc.ub END"
_ST_NLB = "CASE WHEN el.lb > acc.lb OR el.x < acc.lb THEN el.lb ELSE acc.lb END"
_ST_ND = (
    f"CASE WHEN acc.d = -1.0 THEN (CASE WHEN el.d > ({_ST_NUB}) THEN 1.0 ELSE -1.0 END) "
    f"ELSE (CASE WHEN el.d < ({_ST_NLB}) THEN -1.0 ELSE 1.0 END) END"
)

_ST_FOLD = f"""
list_reduce(
  [{{'ub': {_st_bub(str(_ST_P + 1))}, 'lb': {_st_blb(str(_ST_P + 1))},
     'd': -1.0, 'x': 0.0}}] ||
  list_transform(range({_ST_P + 2}, i + 1),
                 j -> {{'ub': {_st_bub('j')}, 'lb': {_st_blb('j')},
                        'd': lc[j], 'x': lc[j-1]}}),
  (acc, el) -> {{'ub': {_ST_NUB}, 'lb': {_ST_NLB}, 'd': {_ST_ND}, 'x': 0.0}}
)
"""

_SUPERTREND_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol, bucket, max(price) AS high, min(price) AS low,
         max(CASE WHEN rd = 1 THEN price END) AS close
  FROM cb GROUP BY symbol, bucket
),
lists AS (
  SELECT symbol,
         list(bucket ORDER BY bucket) AS bs,
         list(high ORDER BY bucket) AS lh,
         list(low ORDER BY bucket) AS ll,
         list(close ORDER BY bucket) AS lc
  FROM candles GROUP BY symbol
),
witht AS (
  SELECT symbol, bs, lh, ll, lc,
         list_transform(range(1, len(lc) + 1),
           i -> CASE WHEN i = 1 THEN lh[1] - ll[1]
                     ELSE greatest(lh[i] - ll[i], abs(lh[i] - lc[i-1]),
                                   abs(ll[i] - lc[i-1])) END) AS lt
  FROM lists
),
witha AS (
  SELECT symbol, bs, lh, ll, lc,
         list_transform(range(1, len(lc) + 1),
           i -> CASE WHEN i <= {_ST_P} THEN NULL
                     WHEN i = {_ST_P + 1}
                       THEN list_reduce(lt[2:{_ST_P + 1}], (acc, x) -> acc + x) / {_ST_P}.0
                     ELSE list_reduce(
                       [list_reduce(lt[2:{_ST_P + 1}], (acc, x) -> acc + x) / {_ST_P}.0]
                         || lt[{_ST_P + 2}:i],
                       (acc, x) -> (acc * {_ST_P - 1}.0 + x) / {_ST_P}.0) END) AS la
  FROM witht
),
idx AS (SELECT symbol, bs, lh, ll, lc, la, unnest(range(1, len(lc) + 1)) AS i FROM witha),
folded AS (
  SELECT symbol, bs[i] AS bucket,
         CASE WHEN i <= {_ST_P} THEN NULL ELSE {_ST_FOLD} END AS st
  FROM idx
)
SELECT symbol, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
       CAST(st.d AS INTEGER) AS trend_dir,
       CAST(round((CASE WHEN st.d = 1.0 THEN st.lb ELSE st.ub END) * 10000) AS BIGINT)
         AS supertrend_e4
FROM folded
"""


@register("supertrend_recursive", _SUPERTREND_ORACLE, tags=("W-", "W5"))
def supertrend_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supertrend bands over minute candles
    (functions/ta.py:supertrend): basic hl2 +/- 3*ATR(10) bands pass
    through the band-RATCHET recursion (the upper band only falls
    while price holds below it, the lower band only rises above) and
    the trend flips when the close crosses the active band — a FIFTH
    independently-oracled recursive state machine, with conditional
    three-field state (the PSAR class, not a linear fold): the DuckDB
    oracle replays ATR seeding + Wilder smoothing + the ratchet/flip
    fold per row in list algebra, bit-exact; e4 snap on the line
    only. Spark side: one Arrow-batched applyInPandas per symbol."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions import ta

    ticks = ticks_from_events(spark, sf_dir)
    candles = aggregate_candles(ticks, 60).select(
        "symbol", "timestamp", "high", "low", "close"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        line, d = ta.supertrend(
            pdf["high"].to_numpy(float),
            pdf["low"].to_numpy(float),
            pdf["close"].to_numpy(float),
            _ST_P,
            _ST_M,
        )
        pdf["line"] = line
        pdf["d"] = d
        return pdf[["symbol", "timestamp", "line", "d"]]

    out = candles.groupBy("symbol").applyInPandas(
        kernel, schema="symbol string, timestamp timestamp, line double, d double"
    )
    return out.select(
        "symbol",
        _fmt("timestamp").alias("bucket_ts"),
        F.when(F.col("d") != 0, F.col("d").cast("int")).alias("trend_dir"),
        F.when(
            ~F.isnan("line"), F.expr("CAST(round(line * 10000) AS BIGINT)")
        ).alias("supertrend_e4"),
    )


# ---------------------------------------------------------------------------
# HRP-style cluster risk parity (de Prado ch. 16, depth-1 bisection)
# ---------------------------------------------------------------------------

_HRP_MERGES = 3  # 5 symbols -> 2 top-level clusters


def _hrp_frames(spark: SparkSession, sf_dir: str):
    """Shared Spark-side pipeline: returns, own/pair co-moments,
    correlation distances, column distances."""
    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")
    r = mclose.select(
        "symbol",
        F.col("timestamp").alias("bucket"),
        F.least(
            F.greatest(
                F.expr(
                    "CAST(round((close / nullif(lag(close) OVER (PARTITION BY symbol"
                    " ORDER BY timestamp), 0) - 1) * 10000) AS BIGINT)"
                ),
                F.lit(-10000),
            ),
            F.lit(10000),
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    own = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("sx"),
        F.sum(F.col("r") * F.col("r")).alias("sxx"),
    ).filter(F.col("n") >= 2)
    a = r.select(F.col("symbol").alias("s1"), "bucket", F.col("r").alias("ra"))
    b = r.select(F.col("symbol").alias("s2"), "bucket", F.col("r").alias("rb"))
    pw = (
        a.join(b, "bucket")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ra").alias("sa"),
            F.sum("rb").alias("sb"),
            F.sum(F.col("ra") * F.col("rb")).alias("sab"),
            F.sum(F.col("ra") * F.col("ra")).alias("saa"),
            F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        )
        .filter(F.col("n") >= 2)
    )
    num = "CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb"
    dena = "sqrt(CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)"
    denb = "sqrt(CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)"
    pw = pw.select(
        "s1",
        "s2",
        F.expr(f"({num}) / (CAST(n AS DOUBLE) * (n - 1))").alias("cov"),
        F.expr(
            f"sqrt(0.5 * (1.0 - ({num}) / nullif(({dena}) * ({denb}), 0.0)))"
        ).alias("d"),
    )
    syms = own.select("symbol")
    dsym = (
        pw.select(F.col("s1").alias("i"), F.col("s2").alias("k"), "d")
        .unionByName(pw.select(F.col("s2").alias("i"), F.col("s1").alias("k"), "d"))
        .unionByName(syms.select(F.col("symbol").alias("i"), F.col("symbol").alias("k"), F.lit(0.0).alias("d")))
    )
    di = dsym.select(F.col("i"), F.col("k"), F.col("d").alias("dik"))
    dj = dsym.select(F.col("i").alias("j"), F.col("k"), F.col("d").alias("djk"))
    dt = (
        di.join(dj, "k")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.expr("CAST(round((dik - djk) * (dik - djk) * 1e12) AS BIGINT)")
            ).alias("sq_e12")
        )
        .select(
            "i", "j", F.expr("sqrt(CAST(sq_e12 AS DOUBLE) / 1e12)").alias("dt")
        )
    )
    # These frames are dimension-sized (|universe| and |universe|^2
    # rows), but the merge loop embeds them in its plan twice per
    # iteration — persist so the tick-level co-moment aggregation
    # runs once, not 4^merges times (the chained-iteration trap the
    # PageRank oracle documents; there the fix was MATERIALIZED CTEs,
    # here a persist of tiny tables).
    own = scoped_persist(own)
    pw = scoped_persist(pw)
    dt = scoped_persist(dt)
    return own, pw, syms, dt


@register("hrp_cluster_allocation", None, tags=())  # oracle attached below
def hrp_cluster_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical risk parity, depth-1 (de Prado ch. 16): the
    correlation-distance matrix (d = sqrt((1-rho)/2), then Euclidean
    column distance) is single-linkage clustered to the TOP-LEVEL
    bisection (3 deterministic merges over 5 symbols, argmin by
    (distance, labels)); capital splits across the two clusters by
    inverse CLUSTER variance (w'Σw with intra-cluster
    inverse-variance weights) and within clusters by IVP — the full
    HRP recipe truncated at one bisection level, honest about it.

    Determinism at any parallelism: co-moment sums exact BIGINT over
    winsorized e4 integer returns; every float reduction is snapped
    to an integer scale BEFORE summation (column-distance squares at
    e12, cluster-variance terms at ppm-products / 1e6); cluster
    picks order by (double distance, label, label) where the doubles
    are exact functions of integer sums. The whole pipeline after
    the two co-moment aggregations is dimension-sized (|universe|^2
    rows). The DuckDB oracle replays the merges unrolled step by
    step."""
    own, pw, syms, dt = _hrp_frames(spark, sf_dir)
    lbl = syms.select("symbol", F.col("symbol").alias("lbl"))
    dtsym = dt.unionByName(
        dt.select(F.col("j").alias("i"), F.col("i").alias("j"), "dt")
    )
    for _ in range(_HRP_MERGES):
        la = lbl.select(F.col("symbol").alias("i"), F.col("lbl").alias("la"))
        lb = lbl.select(F.col("symbol").alias("j"), F.col("lbl").alias("lb"))
        pairdist = (
            dtsym.join(la, "i")
            .join(lb, "j")
            .filter(F.col("la") < F.col("lb"))
            .groupBy("la", "lb")
            .agg(F.min("dt").alias("dist"))
        )
        pick = pairdist.orderBy("dist", "la", "lb").limit(1).select(
            F.col("la").alias("pa"), F.col("lb").alias("pb")
        )
        lbl = lbl.crossJoin(F.broadcast(pick)).select(
            "symbol",
            F.when(F.col("lbl") == F.col("pb"), F.col("pa"))
            .otherwise(F.col("lbl"))
            .alias("lbl"),
        ).localCheckpoint()  # 5 rows; truncates per-step pick lineage
    # Intra-cluster IVP weights (the inverse_variance_weights recipe,
    # per cluster).
    var = (
        "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " / (CAST(n AS DOUBLE) * (n - 1))"
    )
    iv = own.select(
        "symbol",
        F.col("n").alias("n_returns"),
        F.expr(
            f"CAST(round(CASE WHEN {var} > 0 THEN 1e18 / ({var}) END) AS BIGINT)"
        ).alias("iv"),
    ).join(lbl, "symbol")
    ctot = iv.groupBy("lbl").agg(F.sum("iv").alias("civ"))
    w = iv.join(F.broadcast(ctot), "lbl").select(
        "symbol",
        "lbl",
        "n_returns",
        F.expr("CAST(round(CAST(iv AS DOUBLE) * 1000000 / civ) AS BIGINT)").alias(
            "w_intra_ppm"
        ),
    )
    # Cluster variance w'Σw: off-diagonal terms doubled, each term
    # snapped to an integer before the exact sum.
    wi = w.select(F.col("symbol").alias("s1"), F.col("lbl"), F.col("w_intra_ppm").alias("w1"))
    wj = w.select(F.col("symbol").alias("s2"), F.col("lbl").alias("lbl2"), F.col("w_intra_ppm").alias("w2"))
    off = (
        pw.join(wi, "s1")
        .join(wj, "s2")
        .filter(F.col("lbl") == F.col("lbl2"))
        .select(
            "lbl",
            F.expr(
                "CAST(round(CAST(w1 AS DOUBLE) * w2 * cov * 2.0 / 1e6) AS BIGINT)"
            ).alias("t"),
        )
    )
    diag = (
        own.join(lbl, "symbol")
        .join(w.select("symbol", F.col("w_intra_ppm").alias("wd")), "symbol")
        .select(
            "lbl",
            F.expr(
                f"CAST(round(CAST(wd AS DOUBLE) * wd * ({var}) / 1e6) AS BIGINT)"
            ).alias("t"),
        )
    )
    cvar = off.unionByName(diag).groupBy("lbl").agg(F.sum("t").alias("vc"))
    civ = cvar.select(
        "lbl",
        F.expr(
            "CAST(round(CASE WHEN vc > 0 THEN 1e18 / CAST(vc AS DOUBLE) END) AS BIGINT)"
        ).alias("icv"),
    )
    tot = civ.agg(F.sum("icv").alias("t"))
    alloc = civ.crossJoin(F.broadcast(tot)).select(
        "lbl",
        F.expr("CAST(round(CAST(icv AS DOUBLE) * 1000000 / t) AS BIGINT)").alias(
            "cluster_alloc_ppm"
        ),
    )
    return w.join(F.broadcast(alloc), "lbl").select(
        "symbol",
        F.col("lbl").alias("cluster"),
        "n_returns",
        "w_intra_ppm",
        "cluster_alloc_ppm",
        F.expr(
            "CAST(round(CAST(w_intra_ppm AS DOUBLE) * cluster_alloc_ppm / 1e6) AS BIGINT)"
        ).alias("w_final_ppm"),
    )


_HRP_VAR_O = ("(CAST(o.n AS DOUBLE) * o.sxx - CAST(o.sx AS DOUBLE) * o.sx)"
              " / (CAST(o.n AS DOUBLE) * (o.n - 1))")


def _hrp_merge_sql(k: int) -> str:
    prev = f"l{k - 1}"
    return f"""
p{k} AS MATERIALIZED (
  SELECT la, lb FROM (
    SELECT la.lbl AS la, lb.lbl AS lb, min(dts.dt) AS dist
    FROM dts JOIN {prev} la ON dts.i = la.symbol
             JOIN {prev} lb ON dts.j = lb.symbol
    WHERE la.lbl < lb.lbl GROUP BY la.lbl, lb.lbl
  ) ORDER BY dist, la, lb LIMIT 1
),
l{k} AS MATERIALIZED (
  SELECT symbol,
         CASE WHEN lbl = (SELECT lb FROM p{k}) THEN (SELECT la FROM p{k})
              ELSE lbl END AS lbl
  FROM {prev}
),"""


def _hrp_oracle() -> str:
    merges = "".join(_hrp_merge_sql(k) for k in range(1, _HRP_MERGES + 1))
    return f"""
WITH {TICKS_CTE},
mb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
mclose AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM mb GROUP BY symbol, bucket
),
r AS (
  SELECT symbol, bucket,
         least(greatest(CAST(round((close / nullif(lag(close) OVER w, 0) - 1) * 10000) AS BIGINT),
                        -10000), 10000) AS r
  FROM mclose WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
rr AS MATERIALIZED (SELECT * FROM r WHERE r IS NOT NULL),
own AS MATERIALIZED (
  SELECT symbol, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r) AS BIGINT) AS sx, CAST(sum(r * r) AS BIGINT) AS sxx
  FROM rr GROUP BY symbol HAVING count(*) >= 2
),
pw AS MATERIALIZED (
  SELECT a.symbol AS s1, b.symbol AS s2, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.r) AS BIGINT) AS sa, CAST(sum(b.r) AS BIGINT) AS sb,
         CAST(sum(a.r * b.r) AS BIGINT) AS sab,
         CAST(sum(a.r * a.r) AS BIGINT) AS saa,
         CAST(sum(b.r * b.r) AS BIGINT) AS sbb
  FROM rr a JOIN rr b ON a.bucket = b.bucket AND a.symbol < b.symbol
  GROUP BY a.symbol, b.symbol HAVING count(*) >= 2
),
pwd AS MATERIALIZED (
  SELECT s1, s2,
         (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
           / (CAST(n AS DOUBLE) * (n - 1)) AS cov,
         sqrt(0.5 * (1.0 - (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
           / nullif(sqrt(CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                    * sqrt(CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb), 0.0)))
           AS d
  FROM pw
),
syms AS (SELECT symbol FROM own),
dsym AS MATERIALIZED (
  SELECT s1 AS i, s2 AS k, d FROM pwd
  UNION ALL SELECT s2, s1, d FROM pwd
  UNION ALL SELECT symbol, symbol, 0.0 FROM syms
),
dtp AS (
  SELECT di.i, dj.j,
         CAST(sum(CAST(round((di.d - dj.d) * (di.d - dj.d) * 1e12) AS BIGINT)) AS BIGINT)
           AS sq
  FROM dsym di JOIN (SELECT i AS j, k, d FROM dsym) dj ON di.k = dj.k
  WHERE di.i < dj.j GROUP BY di.i, dj.j
),
dt AS MATERIALIZED (SELECT i, j, sqrt(CAST(sq AS DOUBLE) / 1e12) AS dt FROM dtp),
dts AS MATERIALIZED (SELECT i, j, dt FROM dt UNION ALL SELECT j, i, dt FROM dt),
l0 AS MATERIALIZED (SELECT symbol, symbol AS lbl FROM syms),{merges}
iv AS (
  SELECT o.symbol, o.n AS n_returns, l.lbl,
         CAST(round(CASE WHEN {_HRP_VAR_O} > 0 THEN 1e18 / ({_HRP_VAR_O}) END) AS BIGINT)
           AS iv
  FROM own o JOIN l{_HRP_MERGES} l ON o.symbol = l.symbol
),
ctot AS (SELECT lbl, CAST(sum(iv) AS BIGINT) AS civ FROM iv GROUP BY lbl),
w AS (
  SELECT iv.symbol, iv.lbl, iv.n_returns,
         CAST(round(CAST(iv.iv AS DOUBLE) * 1000000 / ctot.civ) AS BIGINT) AS w_intra_ppm
  FROM iv JOIN ctot ON iv.lbl = ctot.lbl
),
offd AS (
  SELECT w1.lbl,
         CAST(round(CAST(w1.w_intra_ppm AS DOUBLE) * w2.w_intra_ppm * pwd.cov * 2.0 / 1e6)
              AS BIGINT) AS t
  FROM pwd JOIN w w1 ON pwd.s1 = w1.symbol JOIN w w2 ON pwd.s2 = w2.symbol
  WHERE w1.lbl = w2.lbl
),
diagd AS (
  SELECT w.lbl,
         CAST(round(CAST(w.w_intra_ppm AS DOUBLE) * w.w_intra_ppm * ({_HRP_VAR_O}) / 1e6)
              AS BIGINT) AS t
  FROM own o JOIN w ON o.symbol = w.symbol
),
cvar AS (
  SELECT lbl, CAST(sum(t) AS BIGINT) AS vc
  FROM (SELECT * FROM offd UNION ALL SELECT * FROM diagd) GROUP BY lbl
),
icvt AS (
  SELECT lbl,
         CAST(round(CASE WHEN vc > 0 THEN 1e18 / CAST(vc AS DOUBLE) END) AS BIGINT) AS icv
  FROM cvar
),
tot AS (SELECT CAST(sum(icv) AS BIGINT) AS t FROM icvt),
alloc AS (
  SELECT lbl, CAST(round(CAST(icv AS DOUBLE) * 1000000 / tot.t) AS BIGINT)
           AS cluster_alloc_ppm
  FROM icvt, tot
)
SELECT w.symbol, w.lbl AS cluster, w.n_returns, w.w_intra_ppm, a.cluster_alloc_ppm,
       CAST(round(CAST(w.w_intra_ppm AS DOUBLE) * a.cluster_alloc_ppm / 1e6) AS BIGINT)
         AS w_final_ppm
FROM w JOIN alloc a ON w.lbl = a.lbl
"""


# Attach the replayed-merge oracle to the registered query.
from auto_trade_data_pipeline_spark.corpus import REGISTRY as _REG

_REG["hrp_cluster_allocation"].oracle = _hrp_oracle()
_REG["hrp_cluster_allocation"].tags = ("A-", "W-")


# ---------------------------------------------------------------------------
# Holt double exponential smoothing (level + trend coupled recursion)
# ---------------------------------------------------------------------------

_HW_ALPHA = 0.5
_HW_BETA = 0.3
#: IEEE complements precomputed in Python and embedded as DOUBLE-cast
#: reprs: DuckDB evaluates a bare ``1.0 - 0.3`` in DECIMAL (exact 0.7,
#: whose nearest double differs from Python's ``1.0 - 0.3`` by 1 ulp),
#: which would desynchronize the fold from the numpy kernel.
_HW_A = f"CAST({_HW_ALPHA!r} AS DOUBLE)"
_HW_AC = f"CAST({1.0 - _HW_ALPHA!r} AS DOUBLE)"
_HW_B = f"CAST({_HW_BETA!r} AS DOUBLE)"
_HW_BC = f"CAST({1.0 - _HW_BETA!r} AS DOUBLE)"

_HOLT_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
lists AS (
  SELECT symbol, list(close ORDER BY bucket) AS l, list(bucket ORDER BY bucket) AS bs
  FROM mclose GROUP BY symbol
),
idx AS (SELECT symbol, l, bs, unnest(range(1, len(l) + 1)) AS i FROM lists),
st AS (
  -- coupled level/trend fold over a LIST accumulator [level, trend].
  -- NOT a struct accumulator: DuckDB 1.0 list_reduce over a struct
  -- updates the accumulator fields IN PLACE from the second
  -- iteration on, so a later field reading acc.l observes the
  -- just-written new level (observed: trend diverged 2x while level
  -- matched). List-element construction evaluates against the OLD
  -- accumulator (probed), so the trend slot can inline the new-level
  -- expression — IEEE-identical to the numpy kernel's order.
  SELECT symbol, bs[i] AS bucket, l[i] AS close,
         CASE WHEN i = 1 THEN [CAST(l[1] AS DOUBLE), CAST(0.0 AS DOUBLE)]
         ELSE list_reduce(
            [[CAST(l[1] AS DOUBLE), CAST(0.0 AS DOUBLE)]] ||
            list_transform(l[2:i], z -> [CAST(z AS DOUBLE), CAST(0.0 AS DOUBLE)]),
            (acc, el) -> [
              {_HW_A} * el[1] + {_HW_AC} * (acc[1] + acc[2]),
              {_HW_B} * (({_HW_A} * el[1] + {_HW_AC} * (acc[1] + acc[2])) - acc[1])
                   + {_HW_BC} * acc[2]]
         ) END AS s
  FROM idx
)
SELECT symbol, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts, close,
       CAST(round(s[1] * 10000) AS BIGINT) AS hw_level_e4,
       CAST(round(s[2] * 1000000) AS BIGINT) AS hw_trend_e6,
       CAST(round((s[1] + s[2]) * 10000) AS BIGINT) AS hw_forecast_e4
FROM st
"""


@register("holt_winters_smooth", _HOLT_ORACLE, tags=("W-", "W3"))
def holt_winters_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing over minute closes — level
    AND trend state (the forecasting upgrade of the reference's EMA
    family: a one-step-ahead forecast is level + trend). A fifth
    independently-oracled recursive state machine: the DuckDB oracle
    replays the COUPLED two-variable recursion per row as a
    struct-accumulator prefix list_reduce, bit-for-bit in IEEE
    doubles (functions/ta.py:holt_winters); e4/e6 integer snaps
    absorb last-bit FMA fusion. Spark side: the ta.holt_linear numpy
    kernel per symbol (operators/scans.py:scan_by_key), one
    ``struct<l, b>`` per row."""
    from auto_trade_data_pipeline_spark.functions import ta
    from auto_trade_data_pipeline_spark.operators.scans import scan_by_key

    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")

    def _hw_np(pdf):
        lev, tr = ta.holt_linear(
            pdf["close"].to_numpy(dtype=float), _HW_ALPHA, _HW_BETA
        )
        return [{"l": float(li), "b": float(bi)} for li, bi in zip(lev, tr)]

    out = scan_by_key(
        mclose,
        ["symbol"],
        "timestamp",
        ["close"],
        {"hw": ("struct<l: double, b: double>", _hw_np)},
    )
    return out.select(
        "symbol",
        _fmt("timestamp").alias("bucket_ts"),
        "close",
        F.expr("CAST(round(hw.l * 10000) AS BIGINT)").alias("hw_level_e4"),
        F.expr("CAST(round(hw.b * 1000000) AS BIGINT)").alias("hw_trend_e6"),
        F.expr("CAST(round((hw.l + hw.b) * 10000) AS BIGINT)").alias("hw_forecast_e4"),
    )


# ---------------------------------------------------------------------------
# Engle-Granger cointegration scan (pairs-trading stationarity test)
# ---------------------------------------------------------------------------

#: Shared OLS/ADF formula strings — evaluated on identical exact
#: BIGINT sums by both engines, so every double op runs in the same
#: order (the co-moment combination convention: sums exact BIGINT,
#: combinations fixed-order DOUBLE to dodge int64 overflow).
_EG_BETA = (
    "CASE WHEN CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx = 0.0 THEN NULL "
    "ELSE (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * sy) "
    "/ (CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx) END"
)
_EG_ALPHA = f"(CAST(sy AS DOUBLE) - ({_EG_BETA}) * sx) / n"
_EG_RESID = (
    "CAST(round(CAST(y AS DOUBLE) - beta_d * CAST(x AS DOUBLE) - alpha_d) AS BIGINT)"
)
_EG_PHI = "CAST(sed AS DOUBLE) / see"
_EG_S2 = f"(CAST(sdd AS DOUBLE) - ({_EG_PHI}) * sed) / (n2 - 1)"
_EG_T = (
    f"CASE WHEN see = 0 OR n2 <= 1 OR ({_EG_S2}) <= 0.0 THEN NULL "
    f"ELSE ({_EG_PHI}) / sqrt(({_EG_S2}) / CAST(see AS DOUBLE)) END"
)

_COINT_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
e4 AS (
  SELECT symbol, bucket, CAST(round(CAST(close AS DOUBLE) * 10000) AS BIGINT) AS p
  FROM mclose
),
grid AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.bucket,
         a.p AS x, b.p AS y
  FROM e4 a JOIN e4 b ON a.bucket = b.bucket AND a.symbol < b.symbol
),
ols AS (
  SELECT sym_a, sym_b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM grid GROUP BY sym_a, sym_b
),
fitted AS (
  SELECT sym_a, sym_b, n, {_EG_BETA} AS beta_d, {_EG_ALPHA} AS alpha_d
  FROM ols
),
resid AS (
  SELECT g.sym_a, g.sym_b, g.bucket, f.n, f.beta_d, f.alpha_d,
         {_EG_RESID} AS r
  FROM grid g JOIN fitted f ON g.sym_a = f.sym_a AND g.sym_b = f.sym_b
),
lagged AS (
  SELECT sym_a, sym_b, n, beta_d, alpha_d, r,
         lag(r) OVER (PARTITION BY sym_a, sym_b ORDER BY bucket) AS rp
  FROM resid
),
adf AS (
  SELECT sym_a, sym_b, any_value(n) AS n, any_value(beta_d) AS beta_d,
         CAST(count(*) AS BIGINT) AS n2,
         CAST(sum(rp * (r - rp)) AS BIGINT) AS sed,
         CAST(sum(rp * rp) AS BIGINT) AS see,
         CAST(sum((r - rp) * (r - rp)) AS BIGINT) AS sdd
  FROM lagged WHERE rp IS NOT NULL GROUP BY sym_a, sym_b
)
SELECT sym_a, sym_b, n,
       CAST(round(beta_d * 1000000) AS BIGINT) AS beta_ppm,
       CAST(round(({_EG_T}) * 1000000) AS BIGINT) AS adf_t_e6
FROM adf
"""


@register("cointegration_scan", _COINT_ORACLE, tags=("W-", "J4", "A-"))
def cointegration_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test over every symbol
    pair — the pairs-trading gate: (1) static OLS hedge ratio of B on
    A over the aligned minute-close grid (exact BIGINT co-moments on
    e4-scaled prices, combined in fixed-order DOUBLE), (2) integer-
    snapped OLS residuals, (3) a lag-0 Dickey-Fuller regression of
    the residual increments on the lagged residual, reported as the
    ADF t-statistic (unit root rejected when strongly negative) — a
    mechanism the rolling-beta monitor (rolling_pair_beta) cannot
    answer: whether the SPREAD itself is stationary.

    The residual snap to integer e4 price units makes the second-stage
    sums exact at any parallelism (summing float residuals would be
    order-dependent); the snap error is <1e-4 price units, far below
    any trading-relevant resolution.

    Scale shape: one aligned self-join on the minute bucket, one
    per-pair aggregate, a broadcast of the tiny per-pair fit back to
    the grid, one lag window, one final aggregate. The pair grid is
    the quadratic object — production bounds it to a candidate list
    (sector buckets), same as rolling_pair_beta."""
    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")
    e4 = mclose.select(
        "symbol",
        F.col("timestamp").alias("bucket"),
        F.expr("CAST(round(CAST(close AS DOUBLE) * 10000) AS BIGINT)").alias("p"),
    )
    a = e4.select(
        F.col("symbol").alias("sym_a"), "bucket", F.col("p").alias("x")
    )
    b = e4.select(
        F.col("symbol").alias("sym_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("p").alias("y"),
    )
    grid = a.join(
        b,
        (F.col("bucket") == F.col("bucket_b")) & (F.col("sym_a") < F.col("sym_b")),
    ).drop("bucket_b")
    ols = grid.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    fitted = ols.select(
        "sym_a",
        "sym_b",
        "n",
        F.expr(_EG_BETA).alias("beta_d"),
        F.expr(_EG_ALPHA).alias("alpha_d"),
    )
    resid = grid.join(F.broadcast(fitted), ["sym_a", "sym_b"]).select(
        "sym_a",
        "sym_b",
        "bucket",
        "n",
        "beta_d",
        F.expr(_EG_RESID).alias("r"),
    )
    w = Window.partitionBy("sym_a", "sym_b").orderBy("bucket")
    lagged = resid.withColumn("rp", F.lag("r").over(w)).filter(F.col("rp").isNotNull())
    adf = lagged.groupBy("sym_a", "sym_b").agg(
        F.any_value("n").alias("n"),
        F.any_value("beta_d").alias("beta_d"),
        F.count(F.lit(1)).alias("n2"),
        F.sum(F.col("rp") * (F.col("r") - F.col("rp"))).alias("sed"),
        F.sum(F.col("rp") * F.col("rp")).alias("see"),
        F.sum((F.col("r") - F.col("rp")) * (F.col("r") - F.col("rp"))).alias("sdd"),
    )
    return adf.select(
        "sym_a",
        "sym_b",
        "n",
        F.expr("CAST(round(beta_d * 1000000) AS BIGINT)").alias("beta_ppm"),
        F.expr(f"CAST(round(({_EG_T}) * 1000000) AS BIGINT)").alias("adf_t_e6"),
    )


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation scan (price-discovery lead detection)
# ---------------------------------------------------------------------------

_LL_MAX_LAG = 5

#: Pearson correlation from exact BIGINT co-moments, combined in
#: fixed-order DOUBLE (int64 would overflow at ~10x), shared verbatim
#: by both engines; degenerate variance yields NULL.
_LL_CORR = (
    "CASE WHEN (CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx) <= 0.0 "
    "OR (CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * sy) <= 0.0 THEN NULL "
    "ELSE (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * sy) "
    "/ (sqrt(CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx) "
    "* sqrt(CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * sy)) END"
)

_LEAD_LAG_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
r AS (
  SELECT symbol, bucket,
         greatest(least(CAST(round((close - lag(close) OVER w)
                        / nullif(lag(close) OVER w, 0) * 1000000) AS BIGINT),
                  1000000), -1000000) AS r_ppm
  FROM mclose WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
rv AS (SELECT symbol, bucket, r_ppm FROM r WHERE r_ppm IS NOT NULL),
lagged AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, k.lag_min,
         a.r_ppm AS x, b.r_ppm AS y
  FROM rv a,
       (SELECT unnest(range(-{_LL_MAX_LAG}, {_LL_MAX_LAG} + 1)) AS lag_min) k,
       rv b
  WHERE b.symbol > a.symbol
    AND b.bucket = a.bucket + to_seconds(CAST(k.lag_min * 60 AS BIGINT))
),
cm AS (
  SELECT sym_a, sym_b, CAST(lag_min AS BIGINT) AS lag_min,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM lagged GROUP BY sym_a, sym_b, lag_min
),
scored AS (
  SELECT sym_a, sym_b, lag_min, n,
         CAST(round(({_LL_CORR}) * 1000000) AS BIGINT) AS corr_e6
  FROM cm
)
SELECT sym_a, sym_b, lag_min, n, corr_e6,
       CASE WHEN row_number() OVER (
              PARTITION BY sym_a, sym_b
              ORDER BY coalesce(abs(corr_e6), -1) DESC, lag_min) = 1
            THEN 1 ELSE 0 END AS is_best
FROM scored
"""


@register("lead_lag_xcorr", _LEAD_LAG_ORACLE, tags=("W-", "J4", "A-"))
def lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation scan — price-discovery detection:
    for every symbol pair, the Pearson correlation of A's minute
    return with B's return shifted by -5..+5 minutes; the
    max-|corr| lag (integer-ranked, deterministic tiebreak toward
    the earliest lag) is flagged as the pair's lead-lag estimate.
    Returns are winsorized integer ppm (the IVP recipe), so every
    co-moment is an exact BIGINT at any parallelism; correlations
    combine in one shared fixed-order DOUBLE formula, e6-snapped.

    Scale shape: the 11-lag fan-out rides the SMALL return grid (one
    row per minute bar, not per tick); each lag joins on the shifted
    minute key — an equi join Spark shuffles once on (bucket), with
    the pair predicate applied at probe time. The per-(pair, lag)
    aggregate is map-side combinable; the best-lag window runs over
    11 rows per pair."""
    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")
    w = Window.partitionBy("symbol").orderBy("timestamp")
    prev = F.lag("close").over(w)
    r = (
        mclose.withColumn("lag_close", prev)
        .select(
            "symbol",
            F.col("timestamp").alias("bucket"),
            F.expr(
                "greatest(least(CAST(round((close - lag_close) "
                "/ nullif(lag_close, 0) * 1000000) AS BIGINT), "
                "1000000), -1000000)"
            ).alias("r_ppm"),
        )
        .filter(F.col("r_ppm").isNotNull())
    )
    lags = spark.range(-_LL_MAX_LAG, _LL_MAX_LAG + 1).select(
        F.col("id").alias("lag_min")
    )
    a = r.select(
        F.col("symbol").alias("sym_a"), "bucket", F.col("r_ppm").alias("x")
    ).join(F.broadcast(lags))
    b = r.select(
        F.col("symbol").alias("sym_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("r_ppm").alias("y"),
    )
    lagged = a.join(
        b,
        (
            F.col("bucket_b")
            == F.col("bucket") + F.make_interval(mins=F.col("lag_min").cast("int"))
        )
        & (F.col("sym_b") > F.col("sym_a")),
    )
    cm = lagged.groupBy("sym_a", "sym_b", "lag_min").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    scored = cm.select(
        "sym_a",
        "sym_b",
        "lag_min",
        "n",
        F.expr(f"CAST(round(({_LL_CORR}) * 1000000) AS BIGINT)").alias("corr_e6"),
    )
    wb = Window.partitionBy("sym_a", "sym_b").orderBy(
        F.coalesce(F.abs("corr_e6"), F.lit(-1)).desc(), F.col("lag_min")
    )
    return scored.select(
        "sym_a",
        "sym_b",
        "lag_min",
        "n",
        "corr_e6",
        F.when(F.row_number().over(wb) == 1, 1).otherwise(0).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# Historical VaR / expected shortfall (portfolio risk report)
# ---------------------------------------------------------------------------

_VAR_ALPHA_PCT = 5  # 95% VaR

_VAR_ES_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
dclose AS (
  SELECT symbol, CAST(bucket AS DATE) AS day,
         max_by(close, bucket) AS close
  FROM mclose GROUP BY symbol, CAST(bucket AS DATE)
),
r AS (
  SELECT symbol, day,
         greatest(least(CAST(round((close - lag(close) OVER w)
                        / nullif(lag(close) OVER w, 0) * 1000000) AS BIGINT),
                  1000000), -1000000) AS r_ppm
  FROM dclose WINDOW w AS (PARTITION BY symbol ORDER BY day)
),
port AS (
  -- equal-weight portfolio day return; +1e6-per-leg shift keeps the
  -- integer division numerator positive (Spark div truncates toward
  -- zero, DuckDB // floors; they agree only there)
  SELECT day,
         CAST((sum(r_ppm) + count(*) * 1000000) // count(*) - 1000000 AS BIGINT)
           AS rp_ppm
  FROM r WHERE r_ppm IS NOT NULL GROUP BY day
),
ranked AS (
  SELECT rp_ppm,
         row_number() OVER (ORDER BY rp_ppm, day) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n_days
  FROM port
),
k AS (
  SELECT n_days, greatest(CAST(ceil(n_days * {_VAR_ALPHA_PCT} / 100.0) AS BIGINT), 1)
           AS k_tail
  FROM ranked LIMIT 1
)
SELECT k.n_days, k.k_tail,
       CAST(max(CASE WHEN r.rk = k.k_tail THEN r.rp_ppm END) AS BIGINT) AS var_ppm,
       CAST((sum(CASE WHEN r.rk <= k.k_tail THEN r.rp_ppm ELSE 0 END)
             + k.k_tail * 1000000) // k.k_tail - 1000000 AS BIGINT) AS es_ppm
FROM ranked r, k
GROUP BY k.n_days, k.k_tail
"""


@register("var_es_historical", _VAR_ES_ORACLE, tags=("A4", "O1", "W-"))
def var_es_historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-simulation VaR and expected shortfall of the
    equal-weight symbol portfolio — the daily risk-desk number:
    winsorized integer-ppm daily returns per symbol, the portfolio
    day return as an exact shifted integer division, the {A}%
    left-tail cutoff by deterministic rank (day tiebreak), VaR = the
    k-th worst day, ES = the exact integer mean of the k worst days.
    No float sums anywhere — the whole tail is integer arithmetic.

    Scale shape: the ranked object is the DAY table (one row per
    trading day — thousands of rows at any data size), so the global
    rank window is dimension-sized; the heavy lifting (daily closes)
    is one map-side-combinable max_by per symbol-day.""".replace(
        "{A}", str(_VAR_ALPHA_PCT)
    )
    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")
    dclose = mclose.groupBy(
        "symbol", F.to_date("timestamp").alias("day")
    ).agg(F.expr("max_by(close, timestamp)").alias("close"))
    w = Window.partitionBy("symbol").orderBy("day")
    prev = F.lag("close").over(w)
    r = (
        dclose.withColumn("lag_close", prev)
        .select(
            "symbol",
            "day",
            F.expr(
                "greatest(least(CAST(round((close - lag_close) "
                "/ nullif(lag_close, 0) * 1000000) AS BIGINT), 1000000), -1000000)"
            ).alias("r_ppm"),
        )
        .filter(F.col("r_ppm").isNotNull())
    )
    port = r.groupBy("day").agg(
        F.expr(
            "CAST((sum(r_ppm) + count(*) * 1000000) div count(*) - 1000000 AS BIGINT)"
        ).alias("rp_ppm")
    )
    wr = Window.orderBy("rp_ppm", "day")
    ranked = port.select(
        "rp_ppm",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_days"),
    )
    k = ranked.select(
        "n_days",
        F.expr(
            f"greatest(CAST(ceil(n_days * {_VAR_ALPHA_PCT} / 100.0) AS BIGINT), 1)"
        ).alias("k_tail"),
    ).limit(1)
    return (
        ranked.select("rp_ppm", "rk").join(F.broadcast(k))
        .groupBy("n_days", "k_tail")
        .agg(
            F.max(
                F.when(F.col("rk") == F.col("k_tail"), F.col("rp_ppm"))
            ).alias("var_ppm"),
            F.expr(
                "CAST((sum(CASE WHEN rk <= k_tail THEN rp_ppm ELSE 0 END) "
                "+ k_tail * 1000000) div k_tail - 1000000 AS BIGINT)"
            ).alias("es_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Almgren-Chriss optimal execution schedule
# ---------------------------------------------------------------------------

_AC_SLICES = 10
_AC_LAMBDA = 2e-6  # risk aversion
_AC_ETA = 2.5e-6  # temporary impact coefficient

#: Hyperbolics via shared exp/ln strings — DuckDB 1.0 has no
#: sinh/cosh/acosh; a 1-ulp libm exp drift is absorbed by the ppm snap.
def _sinh(x: str) -> str:
    return f"((exp({x}) - exp(-({x}))) / 2.0)"


def _cosh(x: str) -> str:
    return f"((exp({x}) + exp(-({x}))) / 2.0)"


#: kappa from the discrete-time AC recursion:
#: cosh(kappa*tau) = 1 + (lambda*sigma2/eta)*tau^2/2  (tau = 1/N)
_AC_KAPPA = (
    f"ln((1.0 + ({_AC_LAMBDA!r} * sigma2 / {_AC_ETA!r}) "
    f"* (1.0 / {_AC_SLICES}) * (1.0 / {_AC_SLICES}) / 2.0) "
    f"+ sqrt((1.0 + ({_AC_LAMBDA!r} * sigma2 / {_AC_ETA!r}) "
    f"* (1.0 / {_AC_SLICES}) * (1.0 / {_AC_SLICES}) / 2.0) "
    f"* (1.0 + ({_AC_LAMBDA!r} * sigma2 / {_AC_ETA!r}) "
    f"* (1.0 / {_AC_SLICES}) * (1.0 / {_AC_SLICES}) / 2.0) - 1.0)) * {_AC_SLICES}"
)

#: Slice fraction n_j/X = 2 sinh(k*tau/2)/sinh(k*T) * cosh(k*(T - (j-1/2)tau))
_AC_FRAC = (
    f"2.0 * {_sinh('kappa / (2.0 * ' + str(_AC_SLICES) + ')')} "
    f"/ {_sinh('kappa')} "
    f"* {_cosh('kappa * (1.0 - (CAST(j AS DOUBLE) - 0.5) / ' + str(_AC_SLICES) + ')')}"
)

_AC_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
r AS (
  SELECT symbol,
         greatest(least(CAST(round((close - lag(close) OVER w)
                        / nullif(lag(close) OVER w, 0) * 1000000) AS BIGINT),
                  1000000), -1000000) AS r_ppm
  FROM mclose WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
s AS (
  SELECT symbol, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r_ppm) AS BIGINT) AS sx,
         CAST(sum(r_ppm * r_ppm) AS BIGINT) AS sxx
  FROM r WHERE r_ppm IS NOT NULL GROUP BY symbol
),
sig AS (
  SELECT symbol, n,
         CASE WHEN n <= 1 THEN NULL
              ELSE (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1) / 1e12 END AS sigma2
  FROM s
),
kap AS (
  SELECT symbol, n, sigma2,
         CASE WHEN sigma2 IS NULL OR sigma2 <= 0.0 THEN NULL
              ELSE {_AC_KAPPA} END AS kappa
  FROM sig
)
SELECT symbol, CAST(j AS BIGINT) AS slice_j, n AS n_returns,
       CAST(round(kappa * 1000000) AS BIGINT) AS kappa_e6,
       CAST(round(CASE WHEN kappa IS NULL THEN NULL ELSE ({_AC_FRAC}) END * 1000000)
            AS BIGINT) AS trade_frac_ppm
FROM kap, (SELECT unnest(range(1, {_AC_SLICES} + 1)) AS j)
"""


@register("almgren_chriss_schedule", _AC_ORACLE, tags=("W-", "F-math"))
def almgren_chriss_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Almgren-Chriss optimal execution trajectory per symbol — the
    canonical risk-averse liquidation schedule: minute-return variance
    (exact BIGINT co-moments, fixed-order DOUBLE combination) feeds
    the closed-form urgency kappa (discrete-time recursion root,
    acosh spelled as a shared ln+sqrt string since DuckDB lacks
    hyperbolics), and each of the {N} slices gets its sinh/cosh
    fraction of the parent order — front-loaded exactly as the theory
    says when risk aversion dominates temporary impact. Every
    transcendental runs through ONE shared exp/ln formula string on
    both engines, ppm-snapped.

    Scale shape: one per-symbol variance aggregate, a broadcast
    {N}-row slice dimension, pure scalar math — nothing wider than
    the symbol universe ever shuffles.""".replace("{N}", str(_AC_SLICES))
    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")
    w = Window.partitionBy("symbol").orderBy("timestamp")
    prev = F.lag("close").over(w)
    r = (
        mclose.withColumn("lag_close", prev)
        .select(
            "symbol",
            F.expr(
                "greatest(least(CAST(round((close - lag_close) "
                "/ nullif(lag_close, 0) * 1000000) AS BIGINT), 1000000), -1000000)"
            ).alias("r_ppm"),
        )
        .filter(F.col("r_ppm").isNotNull())
    )
    s = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_ppm").alias("sx"),
        F.sum(F.col("r_ppm") * F.col("r_ppm")).alias("sxx"),
    )
    sig = s.select(
        "symbol",
        "n",
        F.expr(
            "CASE WHEN n <= 1 THEN NULL "
            "ELSE (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) "
            "/ (n - 1) / 1e12 END"
        ).alias("sigma2"),
    )
    kap = sig.select(
        "symbol",
        "n",
        "sigma2",
        F.expr(
            f"CASE WHEN sigma2 IS NULL OR sigma2 <= 0.0 THEN NULL "
            f"ELSE {_AC_KAPPA} END"
        ).alias("kappa"),
    )
    slices = spark.range(1, _AC_SLICES + 1).select(F.col("id").alias("j"))
    return kap.join(F.broadcast(slices)).select(
        "symbol",
        F.col("j").cast("long").alias("slice_j"),
        F.col("n").alias("n_returns"),
        F.expr("CAST(round(kappa * 1000000) AS BIGINT)").alias("kappa_e6"),
        F.expr(
            f"CAST(round(CASE WHEN kappa IS NULL THEN NULL ELSE ({_AC_FRAC}) END "
            f"* 1000000) AS BIGINT)"
        ).alias("trade_frac_ppm"),
    )

# ---------------------------------------------------------------------------
# Ledoit-Wolf covariance shrinkage (zero-mean, shrink toward scaled identity)
# ---------------------------------------------------------------------------

#: Shared scalar formulas over the flat cell/scalar column set
#: (unique names: nn = joint observations, pp = universe size,
#: sum_pii = trace sum, b2num/d2num = e6-snapped cell-term sums).
#: Per-cell contributions are snapped to integers BEFORE the
#: cross-cell sums, so no float summation order exists anywhere.
_LW_M = "(CAST(sum_pii AS DOUBLE) / nn / pp)"
_LW_D2 = "(CAST(d2num AS DOUBLE) / pp)"
_LW_B2RAW = "(CAST(b2num AS DOUBLE) / (CAST(nn AS DOUBLE) * nn) / pp)"
_LW_B2 = f"least({_LW_B2RAW}, {_LW_D2})"
_LW_DELTA = f"(CASE WHEN {_LW_D2} <= 0.0 THEN 0.0 ELSE {_LW_B2} / {_LW_D2} END)"
_LW_SHRUNK = (
    f"({_LW_DELTA} * {_LW_M} * is_diag "
    f"+ (1.0 - {_LW_DELTA}) * CAST(p_ij AS DOUBLE) / nn)"
)
#: b2 cell term: mult * (q_ij - p_ij^2/nn) — the dispersion of the
#: per-observation outer products around the sample covariance.
_LW_B2_CELL = (
    # unit-snap, not e6: the raw terms are O(1e12-1e15) integers
    # already (e3-scaled returns), and an e6 blow-up overflows int64
    "CAST(round(mult * (CAST(q_ij AS DOUBLE) "
    "- CAST(p_ij AS DOUBLE) * p_ij / nn)) AS BIGINT)"
)
#: d2 cell term: mult * (s_ij - m * [i == j])^2 — needs the grand
#: mean variance m, so it runs in a SECOND pass with s1's scalars.
_LW_D2_CELL = (
    f"CAST(round(mult * (CAST(p_ij AS DOUBLE) / nn "
    f"- (CASE WHEN is_diag = 1 THEN {_LW_M} ELSE 0.0 END)) "
    f"* (CAST(p_ij AS DOUBLE) / nn "
    f"- (CASE WHEN is_diag = 1 THEN {_LW_M} ELSE 0.0 END))) AS BIGINT)"
)

#: Hourly closes: the tick tape is too sparse for an all-symbols
#: minute grid (max 3 of 5 symbols share a minute at sf0.01), while
#: every hour has full coverage at sf>=0.01.
_HOURLY_CLOSE_CTE = f"""{TICKS_CTE},
hb AS (
  SELECT symbol, date_trunc('hour', timestamp) AS bucket, price,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
hclose AS (
  SELECT symbol, bucket, max(CASE WHEN rd = 1 THEN price END) AS close
  FROM hb GROUP BY symbol, bucket
)
"""

_LW_ORACLE = f"""
WITH {_HOURLY_CLOSE_CTE},
r AS (
  SELECT symbol, bucket,
         greatest(least(CAST(round((close - lag(close) OVER w)
                        / nullif(lag(close) OVER w, 0) * 1000) AS BIGINT),
                  1000), -1000) AS x
  FROM hclose WINDOW w AS (PARTITION BY symbol ORDER BY bucket)
),
rv AS MATERIALIZED (SELECT symbol, bucket, x FROM r WHERE x IS NOT NULL),
nsym AS MATERIALIZED (SELECT CAST(count(DISTINCT symbol) AS BIGINT) AS pp FROM rv),
full_minutes AS MATERIALIZED (
  SELECT bucket FROM rv GROUP BY bucket
  HAVING count(*) = (SELECT pp FROM nsym)
),
grid AS MATERIALIZED (
  SELECT rv.symbol, rv.bucket, rv.x FROM rv JOIN full_minutes USING (bucket)
),
cells AS MATERIALIZED (
  SELECT a.symbol AS sym_i, b.symbol AS sym_j,
         CASE WHEN a.symbol = b.symbol THEN 1 ELSE 0 END AS is_diag,
         CASE WHEN a.symbol = b.symbol THEN 1 ELSE 2 END AS mult,
         CAST(count(*) AS BIGINT) AS nn,
         CAST(sum(a.x * b.x) AS BIGINT) AS p_ij,
         CAST(sum((a.x * b.x) * (a.x * b.x)) AS BIGINT) AS q_ij
  FROM grid a JOIN grid b ON a.bucket = b.bucket AND a.symbol <= b.symbol
  GROUP BY a.symbol, b.symbol
),
s1 AS MATERIALIZED (
  SELECT any_value(nn) AS nn, (SELECT pp FROM nsym) AS pp,
         CAST(sum(CASE WHEN is_diag = 1 THEN p_ij ELSE 0 END) AS BIGINT) AS sum_pii,
         CAST(sum({_LW_B2_CELL}) AS BIGINT) AS b2num
  FROM cells
),
s2 AS MATERIALIZED (
  SELECT s1.nn, s1.pp, s1.sum_pii, s1.b2num,
         CAST(sum({_LW_D2_CELL.replace('nn', 's1.nn').replace('sum_pii', 's1.sum_pii').replace('pp', 's1.pp')}) AS BIGINT) AS d2num
  FROM cells, s1
  GROUP BY s1.nn, s1.pp, s1.sum_pii, s1.b2num
)
SELECT c.sym_i, c.sym_j, c.is_diag, c.p_ij,
       CAST(round(CAST(c.p_ij AS DOUBLE) / s.nn * 1000) AS BIGINT) AS s_e3,
       CAST(round({_LW_B2RAW}) AS BIGINT) AS b2raw_u,
       CAST(round({_LW_D2}) AS BIGINT) AS d2_u,
       CAST(round({_LW_DELTA} * 1000000) AS BIGINT) AS delta_ppm,
       CAST(round({_LW_SHRUNK} * 1000) AS BIGINT) AS shrunk_e3
FROM (SELECT sym_i, sym_j, is_diag, p_ij FROM cells) c, s2 s
"""


@register("ledoit_wolf_shrinkage", _LW_ORACLE, tags=("A-", "W-", "J4"))
def ledoit_wolf_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledoit-Wolf shrinkage of the return covariance matrix toward
    the scaled identity (the 2004 'Honey, I Shrunk the Sample
    Covariance Matrix' estimator, zero-mean form) — the conditioning
    step every portfolio optimizer runs before inverting a covariance
    estimated from finite data: the optimal mixing weight
    delta = b^2/d^2 balances the sample matrix's estimation error
    (b^2: dispersion of per-observation outer products around S)
    against its distance from the target (d^2).

    Every pairwise moment (p_ij = sum x_i x_j, q_ij = sum (x_i x_j)^2)
    is an exact BIGINT over the jointly-aligned HOURLY grid (the tick
    tape is too sparse for an all-symbols minute grid; winsorized e3
    integer returns); the scalar pipeline snaps each
    cell's contribution to integer units BEFORE summing, and the final
    delta/shrunk values run through ONE shared formula string.

    Scale shape: one aligned self-join keyed on the hour bucket,
    one |universe|^2-cell aggregate; both scalar passes run over the
    cell table (pairs of symbols), never the tape."""
    ticks = ticks_from_events(spark, sf_dir)
    hclose = aggregate_candles(ticks, 3600).select("symbol", "timestamp", "close")
    w = Window.partitionBy("symbol").orderBy("timestamp")
    prev = F.lag("close").over(w)
    rv = (
        hclose.withColumn("lag_close", prev)
        .select(
            "symbol",
            F.col("timestamp").alias("bucket"),
            F.expr(
                "greatest(least(CAST(round((close - lag_close) "
                "/ nullif(lag_close, 0) * 1000) AS BIGINT), 1000), -1000)"
            ).alias("x"),
        )
        .filter(F.col("x").isNotNull())
    )
    # The return tape feeds three branches (symbol census, full-grid
    # filter, both sides of the pairwise self-join) — persist it and
    # the aligned grid so the candle aggregation executes once, not
    # once per branch (round-6 scan audit: 6 tape reads in one plan).
    rv = scoped_persist(rv)
    nsym = rv.agg(F.count_distinct("symbol").alias("pp")).localCheckpoint(eager=True)
    full_minutes = (
        rv.join(F.broadcast(nsym))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"), F.any_value("pp").alias("pp"))
        .filter(F.col("c") == F.col("pp"))
        .select("bucket")
    )
    grid = scoped_persist(rv.join(full_minutes, "bucket"))
    a = grid.select("bucket", F.col("symbol").alias("sym_i"), F.col("x").alias("xi"))
    b = grid.select(
        F.col("bucket").alias("bucket_b"),
        F.col("symbol").alias("sym_j"),
        F.col("x").alias("xj"),
    )
    cells = (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("sym_i") <= F.col("sym_j")),
        )
        .groupBy("sym_i", "sym_j")
        .agg(
            F.count(F.lit(1)).alias("nn"),
            F.sum(F.col("xi") * F.col("xj")).alias("p_ij"),
            F.sum((F.col("xi") * F.col("xj")) * (F.col("xi") * F.col("xj"))).alias(
                "q_ij"
            ),
        )
        .withColumn(
            "is_diag", F.when(F.col("sym_i") == F.col("sym_j"), 1).otherwise(0)
        )
        .withColumn("mult", F.when(F.col("is_diag") == 1, 1).otherwise(2))
    )
    s1 = (
        cells.join(F.broadcast(nsym))
        .agg(
            F.any_value("nn").alias("nn"),
            F.any_value("pp").alias("pp"),
            F.sum(F.when(F.col("is_diag") == 1, F.col("p_ij")).otherwise(0)).alias(
                "sum_pii"
            ),
            F.sum(F.expr(_LW_B2_CELL)).alias("b2num"),
        )
    )
    cells2 = cells.drop("nn").join(F.broadcast(s1))
    s2 = cells2.groupBy("nn", "pp", "sum_pii", "b2num").agg(
        F.sum(F.expr(_LW_D2_CELL)).alias("d2num")
    )
    final = cells.select("sym_i", "sym_j", "is_diag", "p_ij").join(F.broadcast(s2))
    return final.select(
        "sym_i",
        "sym_j",
        "is_diag",
        "p_ij",
        F.expr("CAST(round(CAST(p_ij AS DOUBLE) / nn * 1000) AS BIGINT)").alias(
            "s_e3"
        ),
        F.expr(f"CAST(round({_LW_B2RAW}) AS BIGINT)").alias("b2raw_u"),
        F.expr(f"CAST(round({_LW_D2}) AS BIGINT)").alias("d2_u"),
        F.expr(f"CAST(round({_LW_DELTA} * 1000000) AS BIGINT)").alias("delta_ppm"),
        F.expr(f"CAST(round({_LW_SHRUNK} * 1000) AS BIGINT)").alias("shrunk_e3"),
    )


# ---------------------------------------------------------------------------
# Seasonal-trend decomposition (STL-lite: daily trend + hour-of-day seasonal)
# ---------------------------------------------------------------------------

_STL_SHIFT = 10**9  # keeps integer-division numerators positive

_STL_EXPLAINED = (
    "CASE WHEN ss_tot = 0 THEN NULL "
    "ELSE CAST(round((1.0 - CAST(ss_res AS DOUBLE) / ss_tot) * 1000000) AS BIGINT) END"
)

_STL_ORACLE = f"""
WITH {TICKS_CTE},
hourly AS (
  SELECT symbol, CAST(timestamp AS DATE) AS day,
         CAST(hour(timestamp) AS BIGINT) AS hod,
         CAST(sum(CAST(round(price * 10000) AS BIGINT))
              // count(*) AS BIGINT) AS h_e4
  FROM ticks GROUP BY symbol, CAST(timestamp AS DATE), hour(timestamp)
),
trended AS (
  SELECT symbol, day, hod, h_e4,
         CAST(sum(h_e4) OVER (PARTITION BY symbol, day)
              // count(*) OVER (PARTITION BY symbol, day) AS BIGINT) AS day_e4
  FROM hourly
),
detr AS (
  SELECT symbol, day, hod, h_e4 - day_e4 AS d FROM trended
),
seas AS (
  SELECT symbol, hod,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST((sum(d) + count(*) * {_STL_SHIFT}) // count(*) - {_STL_SHIFT}
              AS BIGINT) AS seasonal_e4
  FROM detr GROUP BY symbol, hod
),
resid AS (
  SELECT d.symbol, d.hod, d.d, d.d - s.seasonal_e4 AS r
  FROM detr d JOIN seas s ON d.symbol = s.symbol AND d.hod = s.hod
),
sym AS (
  SELECT symbol,
         CAST(sum(d * d) AS BIGINT) AS ss_tot,
         CAST(sum(r * r) AS BIGINT) AS ss_res
  FROM resid GROUP BY symbol
)
SELECT s.symbol, s.hod AS hour_of_day, s.n_days, s.seasonal_e4,
       {_STL_EXPLAINED} AS explained_ppm
FROM seas s JOIN sym ON s.symbol = sym.symbol
"""


@register("seasonal_trend_decomposition", _STL_ORACLE, tags=("A4", "A7", "W-"))
def seasonal_trend_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition of the intraday price surface:
    trend = the per-(symbol, day) mean level (exact integer e4
    division), seasonal = the hour-of-day mean of the detrended
    values across days (shifted integer division — numerators stay
    positive so Spark `div` == DuckDB `//`), residual = what's left;
    each symbol reports its seasonal curve plus the share of detrended
    variance the curve explains (exact BIGINT sums of squares, one
    shared ratio formula). The price twin of intraday_seasonality's
    activity curve — level shape, not volume share.

    Scale shape: one (symbol, day, hour) aggregate over the tape;
    the trend rides a window over the per-day hourly rows; seasonal
    and variance aggregates are hour-of-day/symbol-sized. Nothing
    wider than (symbol, day, hour) ever shuffles."""
    ticks = ticks_from_events(spark, sf_dir)
    hourly = ticks.groupBy(
        "symbol",
        F.to_date("timestamp").alias("day"),
        F.hour("timestamp").cast("long").alias("hod"),
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(price * 10000) AS BIGINT)) div count(*) AS BIGINT)"
        ).alias("h_e4")
    )
    wd = Window.partitionBy("symbol", "day")
    trended = hourly.select(
        "symbol",
        "day",
        "hod",
        "h_e4",
        F.expr(
            "CAST(sum(h_e4) OVER (PARTITION BY symbol, day) "
            "div count(*) OVER (PARTITION BY symbol, day) AS BIGINT)"
        ).alias("day_e4"),
    )
    detr = trended.select(
        "symbol", "day", "hod", (F.col("h_e4") - F.col("day_e4")).alias("d")
    )
    seas = detr.groupBy("symbol", "hod").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr(
            f"CAST((sum(d) + count(*) * {_STL_SHIFT}) div count(*) - {_STL_SHIFT} "
            "AS BIGINT)"
        ).alias("seasonal_e4"),
    )
    resid = detr.join(seas.select("symbol", "hod", "seasonal_e4"), ["symbol", "hod"]).select(
        "symbol", "d", (F.col("d") - F.col("seasonal_e4")).alias("r")
    )
    sym = resid.groupBy("symbol").agg(
        F.sum(F.col("d") * F.col("d")).alias("ss_tot"),
        F.sum(F.col("r") * F.col("r")).alias("ss_res"),
    )
    return seas.join(sym, "symbol").select(
        "symbol",
        F.col("hod").alias("hour_of_day"),
        "n_days",
        "seasonal_e4",
        F.expr(_STL_EXPLAINED).alias("explained_ppm"),
    )


# ---------------------------------------------------------------------------
# Forecast evaluation: Holt one-step-ahead vs naive carry-forward (MASE)
# ---------------------------------------------------------------------------

_MASE_EXPR = (
    "CASE WHEN sum_naive = 0 THEN NULL "
    "ELSE CAST(round(CAST(sum_holt AS DOUBLE) / sum_naive * 1000000) AS BIGINT) END"
)

_FC_EVAL_ORACLE = f"""
WITH {_MINUTE_CLOSE_CTE},
lists AS (
  SELECT symbol, list(close ORDER BY bucket) AS l
  FROM mclose GROUP BY symbol
),
idx AS (SELECT symbol, l, unnest(range(2, len(l) + 1)) AS i FROM lists),
st AS (
  -- one-step-ahead forecast for row i comes from the state AFTER
  -- row i-1 (the same LIST-accumulator fold as holt_winters_smooth)
  SELECT symbol, l[i] AS close, l[i-1] AS prev_close,
         CASE WHEN i = 2 THEN [CAST(l[1] AS DOUBLE), CAST(0.0 AS DOUBLE)]
         ELSE list_reduce(
            [[CAST(l[1] AS DOUBLE), CAST(0.0 AS DOUBLE)]] ||
            list_transform(l[2:i-1], z -> [CAST(z AS DOUBLE), CAST(0.0 AS DOUBLE)]),
            (acc, el) -> [
              {_HW_A} * el[1] + {_HW_AC} * (acc[1] + acc[2]),
              {_HW_B} * (({_HW_A} * el[1] + {_HW_AC} * (acc[1] + acc[2])) - acc[1])
                   + {_HW_BC} * acc[2]]
         ) END AS s
  FROM idx
),
err AS (
  SELECT symbol,
         abs(CAST(round(CAST(close AS DOUBLE) * 10000) AS BIGINT)
             - CAST(round((s[1] + s[2]) * 10000) AS BIGINT)) AS e_holt,
         abs(CAST(round(CAST(close AS DOUBLE) * 10000) AS BIGINT)
             - CAST(round(CAST(prev_close AS DOUBLE) * 10000) AS BIGINT)) AS e_naive
  FROM st
)
SELECT symbol, CAST(count(*) AS BIGINT) AS n_forecasts,
       CAST(sum(e_holt) AS BIGINT) AS sum_holt,
       CAST(sum(e_naive) AS BIGINT) AS sum_naive,
       {_MASE_EXPR} AS mase_ppm
FROM err GROUP BY symbol
"""


@register("forecast_eval_mase", _FC_EVAL_ORACLE, tags=("W-", "A4"))
def forecast_eval_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation — the model-selection gate for the
    Holt smoother: per symbol, the mean absolute one-step-ahead error
    of the level+trend forecast divided by the naive carry-forward
    error (MASE; < 1e6 ppm means the model beats persistence). Errors
    are e4-snapped INTEGER absolute deviations, so both numerator and
    denominator are exact BIGINT sums at any parallelism; only the
    final ratio is a shared double division. The oracle replays the
    identical Holt fold per row (the LIST-accumulator recipe).

    Scale shape: one applyInPandas per symbol (the Holt kernel), one
    lag window, one aggregate — the standard backtest-evaluation
    pipeline shape."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.functions import ta

    ticks = ticks_from_events(spark, sf_dir)
    mclose = aggregate_candles(ticks, 60).select("symbol", "timestamp", "close")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        lvl, trd = ta.holt_linear(
            pdf["close"].to_numpy(dtype=float), _HW_ALPHA, _HW_BETA
        )
        out = pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "close": pdf["close"],
                "prev_close": pdf["close"].shift(1),
                "fc": pd.Series(lvl + trd).shift(1),
            }
        )
        return out.iloc[1:]

    st = mclose.groupBy("symbol").applyInPandas(
        kernel,
        schema="symbol string, close double, prev_close double, fc double",
    )
    err = st.select(
        "symbol",
        F.expr(
            "abs(CAST(round(CAST(close AS DOUBLE) * 10000) AS BIGINT) "
            "- CAST(round(fc * 10000) AS BIGINT))"
        ).alias("e_holt"),
        F.expr(
            "abs(CAST(round(CAST(close AS DOUBLE) * 10000) AS BIGINT) "
            "- CAST(round(CAST(prev_close AS DOUBLE) * 10000) AS BIGINT))"
        ).alias("e_naive"),
    )
    return err.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_forecasts"),
        F.sum("e_holt").alias("sum_holt"),
        F.sum("e_naive").alias("sum_naive"),
        F.expr(_MASE_EXPR).alias("mase_ppm"),
    )
