"""Trade-pipeline operator queries (SURVEY §2.1-2.4) over the driver's
``events`` table playing ``ticks`` (FIXTURES.md §B).

Shared oracle preamble: the same ticks mapping the Spark side uses
(:func:`sources.ticks_from_events`), expressed in DuckDB SQL. The
``CAST(ts AS TIMESTAMP)`` truncates DuckDB's TIMESTAMP_NS to
microseconds — the same truncation our Spark loader applies to the
nanos parquet column, so both engines see identical instants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.corpus import register, scoped_persist
from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles, candles_to_ticks
from auto_trade_data_pipeline_spark.operators.dedup import dedup_keep_last, upsert
from auto_trade_data_pipeline_spark.operators.validation import (
    tick_quality_report,
    tick_valid_predicate,
    validate_split,
)
from auto_trade_data_pipeline_spark.sources import load_table, ticks_from_events

#: DuckDB equivalent of sources.ticks_from_events — keep in lockstep.
TICKS_CTE = """
ticks AS (
  SELECT event_type AS symbol,
         CAST(ts AS TIMESTAMP) AS timestamp,
         value AS price,
         CASE WHEN event_id % 10 = 0 THEN 0.0 ELSE round(abs(value) * 100, 0) END AS volume,
         event_id AS tick_id
  FROM events
)
"""

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_US_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
TS_US_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _fmt(col, micros: bool = False):
    return F.date_format(col, TS_US_FMT_SPARK if micros else TS_FMT_SPARK)


# ---------------------------------------------------------------------------
# A1-A3: candle aggregation (the flagship)
# ---------------------------------------------------------------------------

#: Reusable candle CTE (native types) — downstream enrichment oracles
#: build on ``candles``; keep in lockstep with operators.candles.
CANDLES_CTE = f"""{TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('second', timestamp) AS bucket, price, volume, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('second', timestamp)
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, date_trunc('second', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
candles AS (
  SELECT symbol,
         bucket AS timestamp,
         max(CASE WHEN ra = 1 THEN price END) AS open,
         max(price) AS high,
         min(price) AS low,
         max(CASE WHEN rd = 1 THEN price END) AS close,
         sum(volume) AS volume,
         count(*) AS number_of_trades,
         CASE WHEN sum(volume) > 0 THEN sum(price * volume) / sum(volume) END AS vwap
  FROM cb
  GROUP BY symbol, bucket
)
"""

_CANDLES_ORACLE = f"""
WITH {CANDLES_CTE},
ft AS (
  SELECT symbol, bucket,
         max(CASE WHEN ra = 1 THEN strftime(timestamp, '{TS_US_FMT_DUCK}') END) AS first_tick_ts
  FROM cb GROUP BY symbol, bucket
)
SELECT c.symbol,
       strftime(c.timestamp, '{TS_FMT_DUCK}') AS bucket_ts,
       f.first_tick_ts,
       c.open, c.high, c.low, c.close,
       round(c.volume, 4) AS volume,
       c.number_of_trades,
       round(c.vwap, 4) AS vwap
FROM candles c JOIN ft f ON c.symbol = f.symbol AND c.timestamp = f.bucket
"""


@register("candles_1s", _CANDLES_ORACLE, tags=("A1", "A2", "A3", "S4", "P1"))
def candles_1s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-second OHLCV+VWAP candles (reference
    ``src/aggregator_candles.py:181-226``) plus the reference's exact
    candle timestamp column — the FIRST tick's actual timestamp in the
    bucket (``grouped['timestamp'].first()``,
    ``src/aggregator_candles.py:205``) via ``first_tick_ts=True``.
    One hash-agg, map-side partial aggregation, shuffle keyed
    (symbol, bucket)."""
    c = aggregate_candles(ticks_from_events(spark, sf_dir), 1, first_tick_ts=True)
    return c.select(
        "symbol",
        _fmt("timestamp").alias("bucket_ts"),
        F.date_format("first_tick_timestamp", TS_US_FMT_SPARK).alias("first_tick_ts"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
        "number_of_trades",
        F.round("vwap", 4).alias("vwap"),
    )


_CANDLES_CASCADE_ORACLE = f"""
WITH {TICKS_CTE},
b1 AS (
  SELECT symbol, date_trunc('second', timestamp) AS bucket, price, volume, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('second', timestamp)
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, date_trunc('second', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
c1s AS (
  SELECT symbol, bucket AS timestamp,
         max(CASE WHEN rd = 1 THEN price END) AS close,
         sum(volume) AS volume
  FROM b1 GROUP BY symbol, bucket
),
b2 AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, close AS price, volume, timestamp,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp) AS ra,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC) AS rd
  FROM c1s
),
c1m AS (
  SELECT symbol, bucket AS timestamp,
         max(CASE WHEN ra = 1 THEN price END) AS open,
         max(price) AS high,
         min(price) AS low,
         max(CASE WHEN rd = 1 THEN price END) AS close,
         sum(volume) AS volume,
         count(*) AS number_of_trades,
         CASE WHEN sum(volume) > 0 THEN sum(price * volume) / sum(volume) END AS vwap
  FROM b2 GROUP BY symbol, bucket
),
b3 AS (
  SELECT symbol,
         CAST(to_timestamp(CAST(epoch(timestamp) AS BIGINT) - CAST(epoch(timestamp) AS BIGINT) % 300) AS TIMESTAMP) AS bucket,
         close AS price, volume, timestamp,
         row_number() OVER (PARTITION BY symbol, CAST(epoch(timestamp) AS BIGINT) // 300
                            ORDER BY timestamp) AS ra,
         row_number() OVER (PARTITION BY symbol, CAST(epoch(timestamp) AS BIGINT) // 300
                            ORDER BY timestamp DESC) AS rd
  FROM c1m
),
c5m AS (
  SELECT symbol, bucket AS timestamp,
         max(CASE WHEN ra = 1 THEN price END) AS open,
         max(price) AS high,
         min(price) AS low,
         max(CASE WHEN rd = 1 THEN price END) AS close,
         sum(volume) AS volume,
         count(*) AS number_of_trades,
         CASE WHEN sum(volume) > 0 THEN sum(price * volume) / sum(volume) END AS vwap
  FROM b3 GROUP BY symbol, bucket
)
SELECT '1m' AS gran, symbol, strftime(timestamp, '{TS_FMT_DUCK}') AS bucket_ts,
       open, high, low, close, round(volume, 4) AS volume,
       number_of_trades, round(vwap, 4) AS vwap
FROM c1m
UNION ALL
SELECT '5m' AS gran, symbol, strftime(timestamp, '{TS_FMT_DUCK}') AS bucket_ts,
       open, high, low, close, round(volume, 4) AS volume,
       number_of_trades, round(vwap, 4) AS vwap
FROM c5m
"""


@register("candles_cascade", _CANDLES_CASCADE_ORACLE, tags=("A1", "A2", "A3"))
def candles_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading candle-of-candles 1s -> 1m -> 5m, both rollup stages
    emitted with a granularity tag: each stage re-aggregates the
    previous close as price (the reference's ``use_raw=False`` hook,
    ``src/aggregator_candles.py:196,312``). Each stage is one shuffle
    over strictly shrinking data — the multi-timeframe rollup a real
    deployment materializes.

    The 1m table is persisted at its fan-out point: it feeds BOTH the
    '1m' output branch and the 5m rollup, and the branches prune
    different columns, so without materialization Catalyst duplicates
    the whole tick-scan -> 1s -> 1m pipeline into each union side (two
    full scans; AQE cannot reuse the exchanges because the pruned
    partial aggregates differ). Candle-sized cache, tick-sized
    recompute avoided — the guide's persist criterion exactly."""
    c1s = aggregate_candles(ticks_from_events(spark, sf_dir), 1)
    c1m = scoped_persist(aggregate_candles(candles_to_ticks(c1s), 60))
    c5m = aggregate_candles(candles_to_ticks(c1m), 300)

    def _proj(df: DataFrame, gran: str) -> DataFrame:
        return df.select(
            F.lit(gran).alias("gran"),
            "symbol",
            _fmt("timestamp").alias("bucket_ts"),
            "open",
            "high",
            "low",
            "close",
            F.round("volume", 4).alias("volume"),
            "number_of_trades",
            F.round("vwap", 4).alias("vwap"),
        )

    return _proj(c1m, "1m").unionByName(_proj(c5m, "5m"))


# ---------------------------------------------------------------------------
# A10 / J3 / S7: dedup + upsert
# ---------------------------------------------------------------------------

_DEDUP_ORACLE = f"""
WITH {TICKS_CTE},
r AS (
  SELECT *, row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                               ORDER BY timestamp DESC, tick_id DESC) AS rn
  FROM ticks
)
SELECT symbol,
       strftime(timestamp, '{TS_US_FMT_DUCK}') AS ts,
       price, volume, tick_id
FROM r WHERE rn = 1
"""


@register("dedup_keep_last", _DEDUP_ORACLE, tags=("A10",))
def dedup_keep_last_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keep-last (``drop_duplicates(keep='last')``,
    ``src/fetch_historical_trades_nvda.py:245``) made deterministic with
    an explicit (timestamp, tick_id) ordering — SURVEY §7 hard-part 3.
    Key: (symbol, minute) so the operator actually collapses rows."""
    t = ticks_from_events(spark, sf_dir).withColumn(
        "minute", F.date_trunc("minute", F.col("timestamp"))
    )
    d = dedup_keep_last(t, ["symbol", "minute"], ["timestamp", "tick_id"])
    return d.select(
        "symbol", _fmt("timestamp", micros=True).alias("ts"), "price", "volume", "tick_id"
    )


_UPSERT_ORACLE = f"""
WITH {TICKS_CTE},
old AS (SELECT * FROM ticks WHERE tick_id % 2 = 0),
upd AS (
  SELECT symbol, timestamp, price + 1.0 AS price, volume, tick_id, 1 AS rev
  FROM ticks WHERE tick_id % 3 = 0
  UNION ALL
  SELECT symbol, timestamp, price + 2.0 AS price, volume, tick_id, 2 AS rev
  FROM ticks WHERE tick_id % 6 = 0
),
new AS (
  SELECT symbol, timestamp, price, volume, tick_id FROM (
    SELECT *, row_number() OVER (PARTITION BY symbol, timestamp
                                 ORDER BY rev DESC, tick_id DESC) AS rn
    FROM upd
  ) WHERE rn = 1
)
SELECT symbol, strftime(timestamp, '{TS_US_FMT_DUCK}') AS ts, price, volume
FROM new
UNION ALL
SELECT o.symbol, strftime(o.timestamp, '{TS_US_FMT_DUCK}') AS ts, o.price, o.volume
FROM old o
WHERE NOT EXISTS (SELECT 1 FROM new n
                  WHERE n.symbol = o.symbol AND n.timestamp = o.timestamp)
"""


@register("upsert_merge", _UPSERT_ORACLE, tags=("S7", "J3", "J2"))
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert: updates win over existing rows
    (``src/fetch_historical_trades_nvda.py:237-248``) = new ∪ (old
    anti-join new), with the updates side deliberately carrying
    DUPLICATE keys (every 6th tick appears at rev 1 AND rev 2):
    the operator resolves them keep-last on (rev, tick_id) before the
    merge — the determinism upgrade over pandas' positional
    ``keep='last'``. AQE broadcasts the distinct-key side when
    small. The tape feeds three branches (old, rev-1 and rev-2
    updates) — persisted so the scan runs once, not per branch
    (measured 1.28 -> 0.99 s at sf0.1, round 6)."""
    t = scoped_persist(ticks_from_events(spark, sf_dir))
    old = t.filter(F.col("tick_id") % 2 == 0)
    upd = (
        t.filter(F.col("tick_id") % 3 == 0)
        .withColumn("price", F.col("price") + 1.0)
        .withColumn("rev", F.lit(1))
        .unionByName(
            t.filter(F.col("tick_id") % 6 == 0)
            .withColumn("price", F.col("price") + 2.0)
            .withColumn("rev", F.lit(2))
        )
    )
    merged = upsert(old, upd, keys=["symbol", "timestamp"], order_cols=["rev", "tick_id"])
    return merged.select(
        "symbol", _fmt("timestamp", micros=True).alias("ts"), "price", "volume"
    )


# ---------------------------------------------------------------------------
# P2-P4 / S9 / A5: validation split + quality report
# ---------------------------------------------------------------------------

#: Deterministic fault injection so the validators have something to
#: catch on the (clean) synthetic data; same expression both sides.
_INJECT_SQL = """
injected AS (
  SELECT symbol, timestamp,
         CASE WHEN tick_id % 97 = 0 THEN NULL
              WHEN tick_id % 89 = 0 THEN -price
              ELSE price END AS price,
         CASE WHEN tick_id % 83 = 0 THEN -1.0 ELSE volume END AS volume,
         tick_id
  FROM ticks
)
"""


def _injected_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ticks_from_events(spark, sf_dir)
    return t.select(
        "symbol",
        "timestamp",
        F.when(F.col("tick_id") % 97 == 0, F.lit(None).cast("double"))
        .when(F.col("tick_id") % 89 == 0, -F.col("price"))
        .otherwise(F.col("price"))
        .alias("price"),
        F.when(F.col("tick_id") % 83 == 0, F.lit(-1.0)).otherwise(F.col("volume")).alias("volume"),
        "tick_id",
    )


_INVALID_ORACLE = f"""
WITH {TICKS_CTE}, {_INJECT_SQL}
SELECT symbol, strftime(timestamp, '{TS_US_FMT_DUCK}') AS ts, price, volume, tick_id
FROM injected
WHERE NOT coalesce(price IS NOT NULL AND volume IS NOT NULL
                   AND price > 0 AND volume >= 0, FALSE)
"""


@register("validation_split_invalid", _INVALID_ORACLE, tags=("P2", "P3", "S9"))
def validation_split_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine side of the validation split
    (``src/fetch_historical_trades_nvda.py:102-138``): null/range
    violations diverted, one scan, two sinks."""
    inv = validate_split(_injected_ticks(spark, sf_dir), tick_valid_predicate()).invalid
    return inv.select(
        "symbol", _fmt("timestamp", micros=True).alias("ts"), "price", "volume", "tick_id"
    )


_QUALITY_ORACLE = f"""
WITH {TICKS_CTE}, {_INJECT_SQL},
s AS (
  SELECT *,
         CASE WHEN tick_id % 7 = 0
              THEN strftime(timestamp, '%Y-%m-%d %H:%M:%S')
              ELSE strftime(timestamp, '%Y-%m-%d %H:%M:%S.%f') || ' UTC' END AS ts_str
  FROM injected
)
SELECT count(*) AS total_rows,
       CAST(sum(CASE WHEN regexp_matches(ts_str, '^\\d{{4}}-\\d{{2}}-\\d{{2}} \\d{{2}}:\\d{{2}}:\\d{{2}}\\.\\d{{6}} UTC$')
                     AND price IS NOT NULL AND volume IS NOT NULL
                     AND price > 0 AND volume >= 0
                THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
       CAST(sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price,
       CAST(sum(CASE WHEN volume IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_volume,
       CAST(sum(CASE WHEN price <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
       CAST(sum(CASE WHEN volume < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_volume,
       CAST(sum(CASE WHEN timestamp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_timestamp,
       count(DISTINCT timestamp) AS distinct_timestamps,
       strftime(min(timestamp), '{TS_US_FMT_DUCK}') AS min_ts,
       strftime(max(timestamp), '{TS_US_FMT_DUCK}') AS max_ts
FROM s
"""


@register("tick_quality_report", _QUALITY_ORACLE, tags=("A5", "A6", "P4", "F-str"))
def tick_quality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass validation report
    (``src/fetch_historical_trades_nvda.py:294-312``) plus the P4
    strict-format survivor count (``:48,120-124``): every 7th tick is
    re-serialized WITHOUT the microsecond+'UTC' tail so the regex rule
    demonstrably rejects, and ``valid_rows`` counts rows passing the
    full tick predicate — all in the same one-pass aggregate."""
    s = _injected_ticks(spark, sf_dir).withColumn(
        "ts_str",
        F.when(
            F.col("tick_id") % 7 == 0,
            F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss"),
        ).otherwise(
            F.concat(F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit(" UTC"))
        ),
    )
    rpt = tick_quality_report(s, count_valid=tick_valid_predicate(ts_str_col="ts_str"))
    return rpt.select(
        "total_rows",
        "valid_rows",
        "null_price",
        "null_volume",
        "nonpositive_price",
        "negative_volume",
        "bad_timestamp",
        "distinct_timestamps",
        _fmt("min_timestamp", micros=True).alias("min_ts"),
        _fmt("max_timestamp", micros=True).alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# P5-P7: filters (time range, IN-list, weekend)
# ---------------------------------------------------------------------------

_FILTER_ORACLE = f"""
WITH {TICKS_CTE}
SELECT symbol, strftime(timestamp, '{TS_US_FMT_DUCK}') AS ts, price, volume, tick_id
FROM ticks
WHERE timestamp >= TIMESTAMP '2024-01-08 00:00:00'
  AND timestamp <= TIMESTAMP '2024-01-14 23:59:59'
  AND symbol IN ('click', 'purchase')
  AND dayofweek(CAST(timestamp AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS TIMESTAMP)) NOT IN (0, 6)
"""


@register("filter_time_symbol_weekend", _FILTER_ORACLE, tags=("P5", "P6", "P7"))
def filter_time_symbol_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed predicates: time-range (``src/aggregator_candles.py:85``),
    IN-list (``:86-87``), NY weekend drop
    (``src/fetch_historical_trades_nvda.py:97-99``). All push down to
    the parquet scan."""
    t = ticks_from_events(spark, sf_dir)
    ny = F.from_utc_timestamp(F.col("timestamp"), "America/New_York")
    out = t.filter(
        F.col("timestamp").between("2024-01-08 00:00:00", "2024-01-14 23:59:59")
        & F.col("symbol").isin("click", "purchase")
        & ~F.dayofweek(ny).isin(1, 7)  # Spark: 1=Sunday..7=Saturday
    )
    return out.select(
        "symbol", _fmt("timestamp", micros=True).alias("ts"), "price", "volume", "tick_id"
    )


# ---------------------------------------------------------------------------
# A4 / A9: counts & distinct discovery
# ---------------------------------------------------------------------------

_SYMBOL_STATS_ORACLE = f"""
WITH {TICKS_CTE}
SELECT symbol,
       count(*) AS n_ticks,
       count(DISTINCT date_trunc('second', timestamp)) AS n_buckets,
       strftime(min(timestamp), '{TS_US_FMT_DUCK}') AS first_ts,
       strftime(max(timestamp), '{TS_US_FMT_DUCK}') AS last_ts,
       round(sum(volume), 4) AS total_volume
FROM ticks
GROUP BY symbol
"""


@register("symbol_stats", _SYMBOL_STATS_ORACLE, tags=("A4", "A5", "A9"))
def symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol counts/span — the aggregator's pre-flight count guard
    and symbol discovery (``src/aggregator_candles.py:165-178,465``)."""
    t = ticks_from_events(spark, sf_dir)
    return t.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.countDistinct(F.date_trunc("second", F.col("timestamp"))).alias("n_buckets"),
        _fmt(F.min("timestamp"), micros=True).alias("first_ts"),
        _fmt(F.max("timestamp"), micros=True).alias("last_ts"),
        F.round(F.sum("volume"), 4).alias("total_volume"),
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# F-arr / F-json: JSON property extraction + array functions
# ---------------------------------------------------------------------------

_JSON_PROPS_ORACLE = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       count(*) AS events,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max,
       CAST(count(DISTINCT k) AS BIGINT) AS k_distinct
FROM e
GROUP BY event_type
"""


@register("json_props_stats", _JSON_PROPS_ORACLE, tags=("F-arr", "F-json"))
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (``events.props`` is a JSON string):
    from_json with a declared schema -> typed field -> grouped stats.
    Exercises the F-arr/F-json scalar family the reference never
    needed but any query surface must have (SURVEY §2.8)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k bigint")["k"]
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.countDistinct("k").alias("k_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-safe salted aggregation over the low-cardinality symbol key
# ---------------------------------------------------------------------------

_SALTED_ORACLE = f"""
WITH {TICKS_CTE}
SELECT symbol,
       count(*) AS ticks,
       CAST(sum(CAST(round(volume) AS BIGINT)) AS BIGINT) AS total_volume,
       min(price) AS min_price,
       max(price) AS max_price
FROM ticks
GROUP BY symbol
"""


@register("salted_symbol_stats", _SALTED_ORACLE, tags=("A4", "skew"))
def salted_symbol_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol totals via two-phase SALTED aggregation
    (operators/skew.py): with ~5 symbols a plain groupBy funnels the
    dataset into 5 reducers; salting spreads phase 1 over
    5 x num_salts uniform groups. Same answer as the direct group-by
    oracle — decomposable aggregates commute with the salt split."""
    from auto_trade_data_pipeline_spark.operators.skew import salted_agg

    t = ticks_from_events(spark, sf_dir).withColumn(
        "volume_int", F.round("volume", 0).cast("long")
    )
    return salted_agg(
        t,
        keys=["symbol"],
        aggs=[
            ("count", "price", "ticks"),
            ("sum", "volume_int", "total_volume"),
            ("min", "price", "min_price"),
            ("max", "price", "max_price"),
        ],
        num_salts=16,
    )



# ---------------------------------------------------------------------------
# SQL API surface: the same engine driven entirely through spark.sql
# ---------------------------------------------------------------------------

_HOURLY_SQL_ORACLE = f"""
WITH {TICKS_CTE},
h AS (
  SELECT symbol, date_trunc('hour', timestamp) AS hour_ts, price, volume,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp, tick_id) AS rn_a,
         row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rn_d
  FROM ticks
)
SELECT symbol,
       strftime(hour_ts, '{TS_FMT_DUCK}') AS hour_ts,
       count(*) AS n_ticks,
       CAST(sum(CAST(round(volume) AS BIGINT)) AS BIGINT) AS total_volume,
       round(max(CASE WHEN rn_a = 1 THEN price END), 4) AS open_price,
       round(max(CASE WHEN rn_d = 1 THEN price END), 4) AS close_price
FROM h
GROUP BY symbol, hour_ts
"""


@register("sql_hourly_ohlc", _HOURLY_SQL_ORACLE, tags=("F", "A1"))
def sql_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL API surface (auto_trade_data_pipeline_spark/sql.py):
    the whole query — CTE, window functions with deterministic
    tiebreaks, hash agg — expressed as a ``spark.sql`` string over
    the registered views. Compiles to the identical Catalyst plan a
    DataFrame formulation would; pins that a reference user can drive
    this engine with SQL alone."""
    from auto_trade_data_pipeline_spark.sql import sql as run_sql

    return run_sql(
        spark,
        sf_dir,
        f"""
        WITH h AS (
          SELECT symbol, date_trunc('hour', timestamp) AS hour_ts, price, volume,
                 row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                                    ORDER BY timestamp, tick_id) AS rn_a,
                 row_number() OVER (PARTITION BY symbol, date_trunc('hour', timestamp)
                                    ORDER BY timestamp DESC, tick_id DESC) AS rn_d
          FROM ticks
        )
        SELECT symbol,
               date_format(hour_ts, '{TS_FMT_SPARK}') AS hour_ts,
               count(*) AS n_ticks,
               CAST(sum(CAST(round(volume, 0) AS BIGINT)) AS BIGINT) AS total_volume,
               round(max(CASE WHEN rn_a = 1 THEN price END), 4) AS open_price,
               round(max(CASE WHEN rn_d = 1 THEN price END), 4) AS close_price
        FROM h
        GROUP BY symbol, hour_ts
        """,
    )


# ---------------------------------------------------------------------------
# Gap-filled dense candle grid (densification + forward fill)
# ---------------------------------------------------------------------------

_GAP_FILL_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, volume,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
c1m AS (
  SELECT symbol, bucket,
         max(CASE WHEN rd = 1 THEN price END) AS close,
         sum(volume) AS volume, count(*) AS number_of_trades
  FROM cb GROUP BY symbol, bucket
),
days AS (
  SELECT DISTINCT symbol, date_trunc('day', bucket) AS day FROM c1m
  WHERE bucket < TIMESTAMP '2024-01-08'
),
grid AS (
  SELECT symbol,
         unnest(generate_series(day, day + INTERVAL 23 HOURS + INTERVAL 59 MINUTES,
                                INTERVAL 1 MINUTE)) AS ts
  FROM days
),
j AS (
  SELECT g.symbol, g.ts, c.close, c.volume, c.number_of_trades
  FROM grid g LEFT JOIN c1m c ON c.symbol = g.symbol AND c.bucket = g.ts
)
SELECT symbol,
       strftime(ts, '{TS_FMT_DUCK}') AS bucket_ts,
       round(last_value(close IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS close_ff,
       round(coalesce(volume, 0.0), 4) AS volume,
       coalesce(number_of_trades, 0) AS number_of_trades,
       CASE WHEN close IS NULL THEN 1 ELSE 0 END AS is_gap_fill
FROM j
"""


@register("candles_gap_fill", _GAP_FILL_ORACLE, tags=("A1", "W13", "J4", "bench"))
def candles_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-minute candle grid with forward-filled close over the
    first trading week (operators.candles.gap_fill_candles): every
    (symbol, traded-day, minute) slot exists, gaps carry the last
    close with volume 0 / trades 0 and an is_gap_fill flag — the
    densification downstream charting/backtests need where the
    reference only logs gap positions (W13)."""
    from auto_trade_data_pipeline_spark.operators.candles import gap_fill_candles

    c1m = aggregate_candles(ticks_from_events(spark, sf_dir), 60).filter(
        F.col("timestamp") < F.lit("2024-01-08")
    )
    dense = gap_fill_candles(c1m, seconds=60)
    return dense.select(
        "symbol",
        _fmt("timestamp").alias("bucket_ts"),
        F.round("close_ff", 4).alias("close_ff"),
        F.round("volume", 4).alias("volume"),
        "number_of_trades",
        "is_gap_fill",
    )


_GAP_INTERP_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, volume,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
c1m AS (
  SELECT symbol, bucket,
         max(CASE WHEN rd = 1 THEN price END) AS close,
         sum(volume) AS volume, count(*) AS number_of_trades
  FROM cb GROUP BY symbol, bucket
),
days AS (
  SELECT DISTINCT symbol, date_trunc('day', bucket) AS day FROM c1m
  WHERE bucket < TIMESTAMP '2024-01-08'
),
grid AS (
  SELECT symbol,
         unnest(generate_series(day, day + INTERVAL 23 HOURS + INTERVAL 59 MINUTES,
                                INTERVAL 1 MINUTE)) AS ts
  FROM days
),
j AS (
  SELECT g.symbol, g.ts, c.close, c.volume, c.number_of_trades
  FROM grid g LEFT JOIN c1m c ON c.symbol = g.symbol AND c.bucket = g.ts
),
nbrs AS (
  SELECT symbol, ts, close, volume, number_of_trades,
         CAST(epoch(ts) AS BIGINT) AS sec,
         last_value(close IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         last_value(CASE WHEN close IS NOT NULL THEN CAST(epoch(ts) AS BIGINT) END
           IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_sec,
         first_value(close IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY ts
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt,
         first_value(CASE WHEN close IS NOT NULL THEN CAST(epoch(ts) AS BIGINT) END
           IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY ts
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt_sec
  FROM j
)
SELECT symbol,
       strftime(ts, '{TS_FMT_DUCK}') AS bucket_ts,
       CAST(round((CASE WHEN close IS NOT NULL THEN close
                  WHEN prev IS NULL THEN nxt
                  WHEN nxt IS NULL THEN prev
                  ELSE prev + (nxt - prev)
                       * (CAST(sec - prev_sec AS DOUBLE) / CAST(nxt_sec - prev_sec AS DOUBLE))
             END) * 10000) AS BIGINT) AS close_interp_e4,
       round(coalesce(volume, 0.0), 4) AS volume,
       coalesce(number_of_trades, 0) AS number_of_trades,
       CASE WHEN close IS NULL THEN 1 ELSE 0 END AS is_gap_fill
FROM nbrs
"""


@register("candles_gap_interpolate", _GAP_INTERP_ORACLE, tags=("A1", "W13", "J4"))
def candles_gap_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-minute candle grid with LINEAR interpolation across
    gaps (operators.candles.interpolate_candles) — the time-series
    `resample().interpolate()` the forward fill approximates with a
    step function. Nearest real closes come from running
    last/first-ignorenulls windows; the interpolation weight is the
    epoch-second fraction of the gap elapsed, computed with one fixed
    IEEE expression so Spark and the DuckDB oracle agree bit-exactly.
    Edges carry back/forward the single available neighbor."""
    from auto_trade_data_pipeline_spark.operators.candles import interpolate_candles

    c1m = aggregate_candles(ticks_from_events(spark, sf_dir), 60).filter(
        F.col("timestamp") < F.lit("2024-01-08")
    )
    dense = interpolate_candles(c1m, seconds=60)
    # Emit the interpolated close as an integer-scaled BIGINT: the
    # engines' round(x, 4) implementations disagree when x * 1e4
    # lands exactly on .5 after the double multiply (DuckDB
    # multiplies-then-rounds, Spark rounds the decimal expansion —
    # observed on 64/50400 rows); doing the multiply explicitly on
    # BOTH sides makes them round the identical double.
    return dense.select(
        "symbol",
        _fmt("timestamp").alias("bucket_ts"),
        F.round(F.col("close_interp") * 10000, 0).cast("long").alias("close_interp_e4"),
        F.round("volume", 4).alias("volume"),
        "number_of_trades",
        "is_gap_fill",
    )


# ---------------------------------------------------------------------------
# Tick-rule trade classification + order-flow imbalance (Lee-Ready)
# ---------------------------------------------------------------------------

_TICK_RULE_ORACLE = f"""
WITH {TICKS_CTE},
lagged AS (
  SELECT symbol, timestamp, price, volume, tick_id,
         price - lag(price) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id) AS dp
  FROM ticks
),
signed AS (
  SELECT symbol, timestamp, volume,
         last_value(CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END IGNORE NULLS)
           OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS side
  FROM lagged
),
m AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket,
         CAST(sum(CASE WHEN side = 1 THEN CAST(round(volume) AS BIGINT) ELSE 0 END) AS BIGINT) AS buy_vol,
         CAST(sum(CASE WHEN side = -1 THEN CAST(round(volume) AS BIGINT) ELSE 0 END) AS BIGINT) AS sell_vol,
         CAST(sum(CASE WHEN side IS NULL THEN CAST(round(volume) AS BIGINT) ELSE 0 END) AS BIGINT) AS neutral_vol,
         CAST(count(*) AS BIGINT) AS n_ticks
  FROM signed GROUP BY symbol, bucket
)
SELECT symbol, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
       buy_vol, sell_vol, neutral_vol, n_ticks,
       CAST(CASE WHEN buy_vol + sell_vol = 0 THEN 0
                 ELSE (CASE WHEN buy_vol >= sell_vol THEN 1 ELSE -1 END)
                      * ((abs(buy_vol - sell_vol) * 1000000) // (buy_vol + sell_vol))
            END AS BIGINT) AS imbalance_ppm
FROM m
"""


@register("tick_rule_flow", _TICK_RULE_ORACLE, tags=("W1", "A4"))
def tick_rule_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule trade classification (Lee & Ready, J.Finance'91) +
    per-minute order-flow imbalance: each tick is buyer-initiated
    (+1) if it traded on an uptick, seller-initiated (-1) on a
    downtick, and CARRIES THE LAST CLASSIFICATION through zero-tick
    runs — the recursive carry expressed as a running
    last-ignorenulls window (one incremental pass per symbol, the
    engine's core ordered-window shape). Imbalance is integer-exact:
    sign * (|buy-sell| * 1e6 // (buy+sell)) keeps the division on a
    POSITIVE numerator because Spark's `div` truncates toward zero
    while DuckDB's `//` floors — they agree only on non-negative
    operands (the same class of trap as the round(x, 4) divergence)."""
    from pyspark.sql.window import Window

    ticks = ticks_from_events(spark, sf_dir)
    wo = Window.partitionBy("symbol").orderBy("timestamp", "tick_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dp = F.col("price") - F.lag("price").over(wo)
    lagged = ticks.select("symbol", "timestamp", "volume", "tick_id", dp.alias("dp"))
    side = F.last(
        F.when(F.col("dp") > 0, 1).when(F.col("dp") < 0, -1), ignorenulls=True
    ).over(wrun)
    signed = lagged.select("symbol", "timestamp", "volume", side.alias("side"))
    vol = F.round("volume", 0).cast("long")
    m = signed.groupBy(
        "symbol", F.date_trunc("minute", F.col("timestamp")).alias("bucket")
    ).agg(
        F.sum(F.when(F.col("side") == 1, vol).otherwise(0)).alias("buy_vol"),
        F.sum(F.when(F.col("side") == -1, vol).otherwise(0)).alias("sell_vol"),
        F.sum(F.when(F.col("side").isNull(), vol).otherwise(0)).alias("neutral_vol"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
    imb = F.when(F.col("buy_vol") + F.col("sell_vol") == 0, F.lit(0).cast("long")).otherwise(
        F.when(F.col("buy_vol") >= F.col("sell_vol"), 1).otherwise(-1).cast("long")
        * F.expr("(abs(buy_vol - sell_vol) * 1000000) div (buy_vol + sell_vol)")
    )
    return m.select(
        "symbol",
        _fmt("bucket").alias("bucket_ts"),
        "buy_vol",
        "sell_vol",
        "neutral_vol",
        "n_ticks",
        imb.alias("imbalance_ppm"),
    )


# ---------------------------------------------------------------------------
# Robust per-symbol statistics (median / MAD / winsorization bounds)
# ---------------------------------------------------------------------------

_ROBUST_THR = repr(5.0 * 1.4826)  # z_cut * consistency constant, exact literal

_ROBUST_ORACLE = f"""
WITH {{TICKS}},
p1 AS MATERIALIZED (
  SELECT symbol, CAST(count(*) AS BIGINT) AS n,
         quantile_cont(price, 0.5) AS med,
         quantile_cont(price, 0.01) AS p01,
         quantile_cont(price, 0.99) AS p99
  FROM ticks GROUP BY symbol
),
p2 AS MATERIALIZED (
  SELECT t.symbol, quantile_cont(abs(t.price - p.med), 0.5) AS mad
  FROM ticks t JOIN p1 p USING (symbol) GROUP BY t.symbol
),
o AS (
  SELECT t.symbol,
         CAST(sum(CASE WHEN abs(t.price - p.med) > {{THR}} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
  FROM ticks t JOIN p1 p USING (symbol) JOIN p2 m USING (symbol)
  GROUP BY t.symbol
)
SELECT p1.symbol, p1.n,
       CAST(round(p1.med * 10000) AS BIGINT) AS med_e4,
       CAST(round(p2.mad * 10000) AS BIGINT) AS mad_e4,
       CAST(round(p1.p01 * 10000) AS BIGINT) AS p01_e4,
       CAST(round(p1.p99 * 10000) AS BIGINT) AS p99_e4,
       o.n_outliers
FROM p1 JOIN p2 USING (symbol) JOIN o USING (symbol)
""".replace("{TICKS}", TICKS_CTE.strip()).replace("{THR}", _ROBUST_THR)


@register("robust_price_stats", _ROBUST_ORACLE, tags=("A5", "A-quantile"))
def robust_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-symbol feature gating (operators/robust.py): exact
    median, MAD, p01/p99 winsorization bounds, and the robust
    z-score outlier census (|x - med| > 5 * 1.4826 * MAD) — the
    clip-the-fat-tails stage a feature pipeline runs before model
    ingestion, where mean/stddev would be dragged by the outliers
    themselves. Three grouped passes with dimension-sized broadcast
    joins back; float outputs are integer-scaled e4 on both sides
    (the explicit-multiply rounding convention). The oracle mirrors
    Spark's exact-percentile (n-1)p interpolation with
    quantile_cont."""
    from auto_trade_data_pipeline_spark.operators.robust import robust_stats

    ticks = ticks_from_events(spark, sf_dir)
    st = robust_stats(ticks, "symbol", "price", z_cut=5.0)
    e4 = lambda c: F.round(F.col(c) * 10000, 0).cast("long").alias(f"{c}_e4")  # noqa: E731
    return st.select(
        "symbol", "n", e4("med"), e4("mad"), e4("p01"), e4("p99"), "n_outliers"
    )


# ---------------------------------------------------------------------------
# Sequential pattern detection (CEP / MATCH_RECOGNIZE shape)
# ---------------------------------------------------------------------------

_PATTERN_ORACLE = f"""
WITH {TICKS_CTE},
seq AS (
  SELECT symbol, timestamp, price, volume, tick_id,
         CASE WHEN price > lag(price) OVER w THEN 1 ELSE 0 END AS up,
         avg(volume) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                           ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS vol_avg
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp, tick_id)
),
flags AS (
  SELECT symbol, timestamp, price, volume, tick_id,
         up = 1 AND lag(up, 1) OVER w = 1 AND lag(up, 2) OVER w = 1 AS three_up,
         CASE WHEN vol_avg IS NOT NULL AND volume > 3 * vol_avg THEN 1 ELSE 0 END AS spike
  FROM seq
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp, tick_id)
),
matches AS (
  SELECT symbol, timestamp, price, tick_id,
         greatest(spike,
                  coalesce(lead(spike, 1) OVER w, 0),
                  coalesce(lead(spike, 2) OVER w, 0)) AS spike_near
  FROM flags
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp, tick_id)
  QUALIFY three_up
)
SELECT symbol,
       strftime(timestamp, '{TS_FMT_DUCK}') AS match_ts,
       tick_id,
       round(price, 4) AS price,
       CAST(spike_near AS INTEGER) AS volume_confirmed
FROM matches
"""


@register("pattern_momentum_spike", _PATTERN_ORACLE, tags=("W8", "F"))
def pattern_momentum_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern detection — the MATCH_RECOGNIZE / CEP query
    shape expressed as composable lag/lead windows: find every tick
    that completes THREE consecutive upticks and report whether a
    volume spike (> 3x the trailing-20 average) confirms it within
    the next two ticks. One ordered window family per symbol (a
    single exchange; Spark evaluates all the lag/lead/avg frames in
    one pass), so the pattern scan costs the same as any per-symbol
    window — no state machine, no per-row Python."""
    from pyspark.sql.window import Window

    ticks = ticks_from_events(spark, sf_dir)
    wo = Window.partitionBy("symbol").orderBy("timestamp", "tick_id")
    wavg = wo.rowsBetween(-20, -1)
    up = F.when(F.col("price") > F.lag("price").over(wo), 1).otherwise(0)
    seq = ticks.select(
        "symbol",
        "timestamp",
        "price",
        "volume",
        "tick_id",
        up.alias("up"),
        F.avg("volume").over(wavg).alias("vol_avg"),
    )
    three_up = (
        (F.col("up") == 1)
        & (F.lag("up", 1).over(wo) == 1)
        & (F.lag("up", 2).over(wo) == 1)
    )
    spike = F.when(
        F.col("vol_avg").isNotNull() & (F.col("volume") > 3 * F.col("vol_avg")), 1
    ).otherwise(0)
    flags = seq.select(
        "symbol",
        "timestamp",
        "price",
        "tick_id",
        three_up.alias("three_up"),
        spike.alias("spike"),
    )
    spike_near = F.greatest(
        F.col("spike"),
        F.coalesce(F.lead("spike", 1).over(wo), F.lit(0)),
        F.coalesce(F.lead("spike", 2).over(wo), F.lit(0)),
    )
    m = flags.select(
        "symbol", "timestamp", "price", "tick_id", "three_up",
        spike_near.alias("spike_near"),
    ).filter(F.col("three_up"))
    return m.select(
        "symbol",
        _fmt("timestamp").alias("match_ts"),
        "tick_id",
        F.round("price", 4).alias("price"),
        F.col("spike_near").cast("int").alias("volume_confirmed"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (quantile binning via partitioned ntile)
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = f"""
WITH {TICKS_CTE},
t AS (
  SELECT symbol, price,
         ntile(10) OVER (PARTITION BY symbol ORDER BY price, tick_id) AS bucket
  FROM ticks
)
SELECT symbol, CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(min(price) * 10000) AS BIGINT) AS lo_e4,
       CAST(round(max(price) * 10000) AS BIGINT) AS hi_e4
FROM t GROUP BY symbol, bucket
"""


@register("equidepth_price_histogram", _EQUIDEPTH_ORACLE, tags=("A-quantile", "W-"))
def equidepth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quantile binning) per symbol — the
    sibling of the equal-width `price_histogram`: ntile(10) over the
    (price, tick_id)-ordered partition assigns near-equal-count
    buckets (SQL-standard earlier-buckets-larger tie rule, identical
    in both engines), then one grouped aggregate emits each bucket's
    count and value range. The window is PARTITIONED by symbol — no
    SinglePartition global sort; a global equi-depth layout at scale
    would use the zipWithIndex recipe (`operators/ranking.py`)
    instead. Bounds integer-scaled e4."""
    from pyspark.sql.window import Window

    ticks = ticks_from_events(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("price", "tick_id")
    t = ticks.select("symbol", "price", F.ntile(10).over(w).alias("bucket"))
    return t.groupBy("symbol", F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("price") * 10000, 0).cast("long").alias("lo_e4"),
        F.round(F.max("price") * 10000, 0).cast("long").alias("hi_e4"),
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (candle refresh)
# ---------------------------------------------------------------------------

_INCR_SPLIT_TS = "2024-01-06"

_INCR_REFRESH_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol, date_trunc('minute', timestamp) AS bucket, price, volume, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, date_trunc('minute', timestamp)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
)
SELECT symbol,
       strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
       max(CASE WHEN ra = 1 THEN price END) AS open,
       max(price) AS high,
       min(price) AS low,
       max(CASE WHEN rd = 1 THEN price END) AS close,
       round(sum(volume), 4) AS volume,
       count(*) AS number_of_trades
FROM cb GROUP BY symbol, bucket
"""


@register("incremental_candle_refresh", _INCR_REFRESH_ORACLE, tags=("A1", "S7"))
def incremental_candle_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the candle table is
    refreshed by aggregating ONLY the delta (ticks at or after the
    split instant) and upserting those buckets over the stored
    snapshot (aggregated once from the history) — the
    hypertable/continuous-aggregate refresh loop. The oracle is the
    FULL recompute over all ticks, so the query proves
    incremental == full: bucket keys at minute grain never straddle
    the day-boundary split, and the upsert keyed (symbol, bucket)
    replaces exactly the delta's buckets. At 100 TB the delta is one
    partition's scan + a keyed merge, never a history rescan."""
    from auto_trade_data_pipeline_spark.operators.dedup import upsert

    ticks = ticks_from_events(spark, sf_dir)
    split = F.lit(_INCR_SPLIT_TS).cast("timestamp")

    def minute_candles(t: DataFrame) -> DataFrame:
        c = aggregate_candles(t, 60)
        return c.select(
            "symbol",
            F.col("timestamp").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "number_of_trades",
        )

    stored = minute_candles(ticks.filter(F.col("timestamp") < split))
    delta = minute_candles(ticks.filter(F.col("timestamp") >= split))
    # Keyed upsert: delta buckets replace stored buckets (none overlap
    # at a day-boundary split, but the merge is correct either way
    # because the delta recomputes its full buckets from raw ticks).
    refreshed = upsert(stored, delta, ["symbol", "bucket"], ["bucket"])
    return refreshed.select(
        "symbol",
        _fmt("bucket").alias("bucket_ts"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
        "number_of_trades",
    )


# ---------------------------------------------------------------------------
# F-json+: VARIANT semi-structured analytics (Spark 4 VariantType)
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, CAST(k % 10 AS BIGINT) AS k_mod,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS k_sum
FROM e WHERE k IS NOT NULL
GROUP BY event_type, k % 10
"""


@register("variant_props_histogram", _VARIANT_ORACLE, tags=("F-json",))
def variant_props_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: the
    JSON ``props`` column is parsed ONCE into the binary variant
    encoding (parse_json) and fields are read with typed
    try_variant_get — the schema-on-read path that replaces repeated
    string re-parsing when many fields are extracted from the same
    document (and the layout Parquet variant shredding accelerates at
    scale). Downstream is a plain two-key histogram; the DuckDB
    oracle extracts the same field with its native JSON engine, so
    the whole variant encode/decode round trip is value-checked.
    Complements `json_props_stats` (from_json with a declared
    schema)."""
    ev = _load_events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum"))
    )


# ---------------------------------------------------------------------------
# Time-interval RANGE frames — event-time rolling windows
# ---------------------------------------------------------------------------

_TIME_RANGE_ORACLE = f"""
WITH {TICKS_CTE},
t AS (
  SELECT symbol, timestamp, epoch_us(timestamp) AS eus,
         CAST(round(volume) AS BIGINT) AS vol,
         CAST(round(price * 10000) AS BIGINT) AS px_e4,
         CAST(round(price * 10000) AS BIGINT) * CAST(round(volume) AS BIGINT) AS pv_e4,
         tick_id
  FROM ticks
),
w AS (
  SELECT symbol, timestamp, tick_id,
         CAST(count(*) OVER w60 AS BIGINT) AS n_60s,
         CAST(sum(vol) OVER w60 AS BIGINT) AS vol_60s,
         CAST(sum(pv_e4) OVER w60 AS BIGINT) AS pv_e4_60s,
         CAST(sum(px_e4) OVER w60 AS BIGINT) AS px_e4_60s,
         CAST(count(*) OVER w300 AS BIGINT) AS n_300s
  FROM t
  WINDOW w60 AS (PARTITION BY symbol ORDER BY eus
                 RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW),
         w300 AS (PARTITION BY symbol ORDER BY eus
                  RANGE BETWEEN 299999999 PRECEDING AND CURRENT ROW)
)
SELECT symbol, strftime(timestamp, '{TS_US_FMT_DUCK}') AS ts, tick_id,
       n_60s, vol_60s, n_300s,
       CAST(CASE WHEN vol_60s > 0 THEN pv_e4_60s // vol_60s END AS BIGINT) AS vwap60_e4,
       CAST(px_e4_60s // n_60s AS BIGINT) AS twap60_e4
FROM w
"""


@register("time_range_window_stats", _TIME_RANGE_ORACLE, tags=("W6", "A7"))
def time_range_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time rolling windows via RANGE frames: per tick, the
    trailing 60-second and 5-minute windows measured by TIMESTAMP,
    not row count — the frame that stays correct under irregular tick
    spacing, where a ROWS frame silently widens or narrows its time
    span. Both frames order by epoch MICROSECONDS as BIGINT so frame
    inclusion is integer-exact and identical cross-engine (RANGE
    peers at equal instants are included on both). The rolling VWAP
    and TWAP stay in exact integer e4 units with positive-operand
    floor division. One exchange + ONE sort serves both frames —
    Spark folds same-(partition, order) window specs into a single
    Window physical node.

    Scale: the frame is bounded by time, so state per open frame is
    O(ticks in 60 s per symbol) regardless of total history; the
    partition key is the symbol (parallelism = symbol cardinality —
    for single-hot-symbol skew the blocked evaluator in
    operators/blocked.py is the documented alternative)."""
    t = ticks_from_events(spark, sf_dir).select(
        "symbol",
        "timestamp",
        "tick_id",
        F.expr("unix_micros(timestamp)").alias("eus"),
        F.round("volume", 0).cast("long").alias("vol"),
        F.expr("CAST(round(price * 10000) AS BIGINT)").alias("px_e4"),
        (
            F.expr("CAST(round(price * 10000) AS BIGINT)")
            * F.round("volume", 0).cast("long")
        ).alias("pv_e4"),
    )
    from pyspark.sql.window import Window

    w60 = Window.partitionBy("symbol").orderBy("eus").rangeBetween(-59_999_999, 0)
    w300 = Window.partitionBy("symbol").orderBy("eus").rangeBetween(-299_999_999, 0)
    framed = t.select(
        "symbol",
        "timestamp",
        "tick_id",
        F.count(F.lit(1)).over(w60).alias("n_60s"),
        F.sum("vol").over(w60).alias("vol_60s"),
        F.sum("pv_e4").over(w60).alias("pv_e4_60s"),
        F.sum("px_e4").over(w60).alias("px_e4_60s"),
        F.count(F.lit(1)).over(w300).alias("n_300s"),
    )
    return framed.select(
        "symbol",
        _fmt(F.col("timestamp"), micros=True).alias("ts"),
        "tick_id",
        "n_60s",
        "vol_60s",
        "n_300s",
        F.when(F.col("vol_60s") > 0, F.expr("pv_e4_60s div vol_60s")).alias(
            "vwap60_e4"
        ),
        F.expr("px_e4_60s div n_60s").alias("twap60_e4"),
    )
