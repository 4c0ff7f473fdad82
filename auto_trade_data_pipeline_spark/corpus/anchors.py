"""Anchor corpus (ST5-ST7 batch form): the anchored_vwap_points table
from the per-symbol state machine, the anchored VWAP that kernel fills,
the stand-alone fill over a fixture, and an oracle-checked daily
key-level companion query.

The state machine itself is inherently sequential (rows-only at the
driver; pinned by pytest including a DST-boundary day — SURVEY §7
hard-part 4). The daily key levels — what the daily anchors converge
to at end of day — ARE relational, and get a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.corpus import register
from auto_trade_data_pipeline_spark.corpus.trade import CANDLES_CTE, TS_FMT_DUCK, TS_FMT_SPARK
from auto_trade_data_pipeline_spark.operators.anchors import (
    anchored_vwap_points,
    fill_anchored_vwap,
)
from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
from auto_trade_data_pipeline_spark.sources import ticks_from_events

_NY = "CAST(timestamp AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS TIMESTAMP)"


def _candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregate_candles(ticks_from_events(spark, sf_dir), 1)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit symbol repartition ahead of the per-symbol anchor
    # kernel: the candle exchange is byte-tiny, so AQE coalesces the
    # ENSURE_REQUIREMENTS shuffle to ~2 partitions and strangles the
    # Python-kernel stage's parallelism (profiled 2 tasks for 5
    # symbol groups). An explicit repartition is not coalesced and
    # the groupBy reuses it — same exchange count, full parallelism
    # (interleaved A/B: consistent win each round).
    candles = _candles(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "symbol"
    )
    return anchored_vwap_points(candles, "1s", flush_secs=300)


_FILL_ORACLE = f"""
WITH {CANDLES_CTE},
ny AS (
  SELECT *, CAST({_NY} AS DATE) AS ny_date FROM candles
),
anch AS (
  SELECT symbol, ny_date, min(timestamp) AS anchor_timestamp
  FROM ny GROUP BY symbol, ny_date
),
snaps AS (
  SELECT symbol, ny_date, max(timestamp) AS snap_ts
  FROM ny GROUP BY symbol, ny_date, date_trunc('minute', timestamp)
),
pts AS (
  SELECT s.symbol, a.anchor_timestamp, s.snap_ts
  FROM snaps s JOIN anch a ON s.symbol = a.symbol AND s.ny_date = a.ny_date
)
SELECT p.symbol,
       strftime(p.anchor_timestamp, '{TS_FMT_DUCK}') AS anchor_ts,
       strftime(p.snap_ts, '{TS_FMT_DUCK}') AS snapshot_ts,
       CASE WHEN sum(c.volume) > 0
            THEN round(sum(c.close * c.volume) / sum(c.volume), 4) END AS anchored_vwap
FROM pts p
JOIN candles c ON c.symbol = p.symbol
              AND c.timestamp >= p.anchor_timestamp AND c.timestamp <= p.snap_ts
GROUP BY p.symbol, p.anchor_timestamp, p.snap_ts
"""


@register("anchored_vwap_fill", _FILL_ORACLE, tags=("ST5", "J5"))
def anchored_vwap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anchored-VWAP FILL stage (``fill_anchored_vwap``) in
    isolation, against a deterministic SQL-expressible anchor fixture:
    anchor = first candle of each (symbol, NY day), snapshot = last
    candle of each minute — i.e. session-anchored VWAP sampled per
    minute. The oracle recomputes each window directly; the operator
    cogroups points and candles by symbol and sums each range with the
    anchor kernel's own range-VWAP helper, so this green row certifies
    the J5-style fill math the stateful table uses."""
    candles = _candles(spark, sf_dir)
    ny_date = F.to_date(F.from_utc_timestamp("timestamp", "America/New_York"))
    c = candles.withColumn("ny_date", ny_date)
    anch = c.groupBy("symbol", "ny_date").agg(F.min("timestamp").alias("anchor_timestamp"))
    snaps = c.groupBy(
        "symbol", "ny_date", F.date_trunc("minute", "timestamp").alias("minute")
    ).agg(F.max("timestamp").alias("current_snapshot_timestamp"))
    pts = snaps.join(anch, ["symbol", "ny_date"]).select(
        "symbol",
        "anchor_timestamp",
        "current_snapshot_timestamp",
        F.lit(None).cast("double").alias("anchored_vwap"),
    )
    filled = fill_anchored_vwap(pts, candles)
    return filled.select(
        "symbol",
        F.date_format("anchor_timestamp", TS_FMT_SPARK).alias("anchor_ts"),
        F.date_format("current_snapshot_timestamp", TS_FMT_SPARK).alias("snapshot_ts"),
        F.round("anchored_vwap", 4).alias("anchored_vwap"),
    )


_DAILY_LEVELS_ORACLE = f"""
WITH {CANDLES_CTE},
ny AS (
  SELECT *, CAST({_NY} AS DATE) AS ny_date FROM candles
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY symbol, ny_date ORDER BY high DESC, timestamp) AS rh,
         row_number() OVER (PARTITION BY symbol, ny_date ORDER BY low ASC, timestamp) AS rl,
         row_number() OVER (PARTITION BY symbol, ny_date ORDER BY timestamp) AS rf,
         row_number() OVER (PARTITION BY symbol, ny_date ORDER BY timestamp DESC) AS rz
  FROM ny
)
SELECT symbol,
       strftime(ny_date, '%Y-%m-%d') AS ny_day,
       max(high) AS day_high,
       max(CASE WHEN rh = 1 THEN strftime(timestamp, '{TS_FMT_DUCK}') END) AS day_high_ts,
       min(low) AS day_low,
       max(CASE WHEN rl = 1 THEN strftime(timestamp, '{TS_FMT_DUCK}') END) AS day_low_ts,
       max(CASE WHEN rf = 1 THEN open END) AS day_open,
       max(CASE WHEN rz = 1 THEN close END) AS day_close,
       count(*) AS bars
FROM ranked
GROUP BY symbol, ny_date
"""


@register("daily_key_levels", _DAILY_LEVELS_ORACLE, tags=("ST5", "A7"))
def daily_key_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the daily_high/daily_low anchors converge to by end of NY
    day (first-extreme timestamps, deterministic earliest-bar
    tiebreak) plus day open/close — the relational companion to the
    state machine, exercising the same NY-session semantics with a
    full oracle."""
    c = _candles(spark, sf_dir)
    ny_date = F.to_date(F.from_utc_timestamp("timestamp", "America/New_York"))
    d = c.withColumn("ny_date", ny_date)
    return d.groupBy("symbol", "ny_date").agg(
        F.max("high").alias("day_high"),
        F.date_format(
            F.min_by("timestamp", F.struct((-F.col("high")).alias("k"), F.col("timestamp"))),
            TS_FMT_SPARK,
        ).alias("day_high_ts"),
        F.min("low").alias("day_low"),
        F.date_format(
            F.min_by("timestamp", F.struct(F.col("low").alias("k"), F.col("timestamp"))),
            TS_FMT_SPARK,
        ).alias("day_low_ts"),
        F.min_by("open", "timestamp").alias("day_open"),
        F.max_by("close", "timestamp").alias("day_close"),
        F.count(F.lit(1)).alias("bars"),
    ).select(
        "symbol",
        F.date_format("ny_date", "yyyy-MM-dd").alias("ny_day"),
        "day_high",
        "day_high_ts",
        "day_low",
        "day_low_ts",
        "day_open",
        "day_close",
        "bars",
    )


# ---------------------------------------------------------------------------
# The anchor STATE MACHINE itself, cross-engine oracled (the last
# golden-only mechanism after round 3). The DuckDB replay avoids an
# O(n^2) per-row fold via a decomposition that is exact, not
# approximate:
#
#   1. Flush points depend only on timestamps: a scalar list_reduce
#      per symbol walks the event-time series and collects every row
#      where >= 300 s elapsed since the previous flush
#      (``operators/anchors.py`` loop; reference
#      ``src/candle_to_calcs.py:664-675``).
#   2. Every anchor instance is snapshotted in EXACTLY ONE flush
#      window (p, f]: active anchors are cleared after each snapshot
#      and never re-added (session triggers fire once per day; a
#      daily-extreme anchor is re-added only by a strictly newer
#      record row, a different instance).
#   3. Within a window each anchor type has a closed form:
#      - peak/valley anchors: the 6 find_peaks flag sets (full scipy
#        semantics incl. greedy distance suppression — reusing the
#        parameterized ``full_peaks_sql`` generator) restricted to
#        p < pos <= f;
#      - daily_4am/930/4pm: the first row of the snapshot-day with
#        the matching NY wall-clock time, if it lies in the window
#        (date change pops dailies, so only day(f) survives —
#        reference ``:281-299``);
#      - daily_high/daily_low: the LAST day-record row (strictly
#        exceeding the running day extreme; the day's first row seeds
#        the extreme without an anchor) within the window — earlier
#        records in the window were replaced, records before the
#        window were flushed and cleared (reference ``:301-311``).
# ---------------------------------------------------------------------------

_PEAK_SCALES_SQL = (("major", 10, 0.9), ("minor", 7, 0.7), ("micro", 5, 0.5))


def _cand_sql(series: str, kind: str) -> str:
    """Plateau-mid local-maxima candidates + per-candidate scipy
    prominence for one direction — the (distance, prominence)-
    INDEPENDENT 2/3 of find_peaks, computed once and shared by all
    three scales (the expensive O(n^2) part of the oracle)."""
    prom = (
        "l[pp[c]] - greatest("
        "list_aggregate(l[coalesce(list_max(list_filter(range(1, pp[c]), q -> l[q] > l[pp[c]])), 0) + 1 : pp[c]], 'min'),"
        "list_aggregate(l[pp[c] : coalesce(list_min(list_filter(range(pp[c] + 1, n + 1), q -> l[q] > l[pp[c]])), n + 1) - 1], 'min'))"
    )
    return f"""
cand_{kind} AS (
  SELECT symbol, l, n, pp, hh, p,
         list_transform(range(1, p + 1), c -> {prom}) AS pm
  FROM (
    SELECT symbol, any_value(l) AS l, any_value(n) AS n,
           list(m ORDER BY m) AS pp, list(h ORDER BY m) AS hh, count(*) AS p
    FROM (
      SELECT symbol, l, n, (i + j) // 2 AS m, l[i] AS h
      FROM (
        SELECT symbol, l, n, i,
               list_min(list_filter(range(i, n), k -> l[k + 1] != l[i])) AS j
        FROM (SELECT symbol, {series} AS l, len({series}) AS n,
                     unnest(range(2, len({series}))) AS i FROM lists)
        WHERE l[i] > l[i - 1]
      )
      WHERE j IS NOT NULL AND l[j + 1] < l[i]
    )
    GROUP BY symbol
  )
)"""


def _scales_sql(kind: str) -> str:
    """Greedy distance suppression (descending height, stable ties ->
    later candidate first, matching argsort[::-1]) per scale over the
    shared candidates, then the prominence threshold. The keep-mask
    fold has a FIXED-size accumulator (p elements), which DuckDB's
    list_reduce handles reliably."""
    values = ", ".join(f"('{pfx}', {d}, {pr})" for pfx, d, pr in _PEAK_SCALES_SQL)
    return f"""
SELECT symbol, pp[c] AS pos, sc || '_{kind}' AS atype
FROM (
  SELECT symbol, pp, p, pm, sc, d, prth,
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
                         WHEN abs(pp[j] - pp[CAST(x[1] AS BIGINT)]) < d THEN 0.0
                         ELSE acc[j] + 0.0 END)
        END) AS keep
  FROM cand_{kind}, (VALUES {values}) s(sc, d, prth)
), unnest(range(1, p + 1)) t(c)
WHERE keep[c] = 1.0 AND pm[c] >= CAST(prth AS DOUBLE)"""

_MACHINE_ORACLE = f"""
WITH RECURSIVE {CANDLES_CTE},
nyr AS MATERIALIZED (
  SELECT symbol, timestamp, high, low, close,
         row_number() OVER (PARTITION BY symbol ORDER BY timestamp) AS rn,
         CAST({_NY} AS DATE) AS ny_date,
         EXTRACT(hour FROM {_NY}) AS ny_hour,
         EXTRACT(minute FROM {_NY}) AS ny_min
  FROM candles
),
lists AS MATERIALIZED (
  SELECT symbol,
         list(high ORDER BY timestamp) AS lh,
         list(-low ORDER BY timestamp) AS lnn,
         list(strftime(timestamp, '{TS_FMT_DUCK}') ORDER BY timestamp) AS bs,
         list(CAST(epoch(timestamp) AS BIGINT) ORDER BY timestamp) AS es,
         count(*) AS n
  FROM candles GROUP BY symbol
),
-- Flush rows via orbit recursion: the next flush is the first row
-- >= 300 s of event time after the previous one. (A list_reduce fold
-- with a GROWING accumulator silently corrupts at ~1e3 appends in
-- DuckDB, so the orbit is a recursive CTE instead; the seed row 1 is
-- the kernel's last_flush initialization, not a flush itself.)
orbit AS (
  SELECT symbol, CAST(1 AS BIGINT) AS f FROM lists
  UNION ALL
  SELECT o.symbol,
         list_min(list_filter(range(o.f + 1, l.n + 1),
                              j -> l.es[j] - l.es[o.f] >= 300)) AS f
  FROM orbit o JOIN lists l ON l.symbol = o.symbol
  WHERE list_min(list_filter(range(o.f + 1, l.n + 1),
                             j -> l.es[j] - l.es[o.f] >= 300)) IS NOT NULL
),
wpairs AS (
  SELECT symbol, wb[k] AS p, wb[k + 1] AS f
  FROM (SELECT symbol, wb, unnest(range(1, len(wb))) AS k
        FROM (SELECT fb.symbol, [CAST(0 AS BIGINT)] || fb.ob[2:] || [l.n] AS wb
              FROM (SELECT symbol, list_sort(list(f)) AS ob
                    FROM orbit GROUP BY symbol) fb
              JOIN lists l ON l.symbol = fb.symbol))
  WHERE wb[k] < wb[k + 1]
),
winf AS (
  SELECT w.symbol, w.p, w.f, r.timestamp AS f_ts, r.ny_date AS f_day
  FROM wpairs w
  JOIN nyr r ON r.symbol = w.symbol AND r.rn = w.f
),
{_cand_sql('lh', 'peak')},
{_cand_sql('lnn', 'valley')},
peaks AS (
{_scales_sql('peak')}
UNION ALL
{_scales_sql('valley')}
),
pv AS (
  SELECT w.symbol, pe.atype, r.timestamp AS a_ts, pe.pos - 1 AS anchor_idx,
         CASE WHEN pe.atype LIKE '%peak' THEN r.high ELSE r.low END AS price,
         w.f_ts, w.f
  FROM winf w
  JOIN peaks pe ON pe.symbol = w.symbol AND pe.pos > w.p AND pe.pos <= w.f
  JOIN nyr r ON r.symbol = w.symbol AND r.rn = pe.pos
),
trig AS (
  SELECT symbol, ny_date, atype, min(rn) AS rn
  FROM (
    SELECT symbol, ny_date, rn,
           CASE WHEN ny_hour = 4 AND ny_min = 0 THEN 'daily_4am'
                WHEN ny_hour = 9 AND ny_min = 30 THEN 'daily_930'
                WHEN ny_hour = 16 AND ny_min = 0 THEN 'daily_4pm' END AS atype
    FROM nyr)
  WHERE atype IS NOT NULL
  GROUP BY symbol, ny_date, atype
),
tr AS (
  SELECT w.symbol, t.atype, r.timestamp AS a_ts, t.rn - 1 AS anchor_idx,
         r.close AS price, w.f_ts, w.f
  FROM winf w
  JOIN trig t ON t.symbol = w.symbol AND t.ny_date = w.f_day
             AND t.rn > w.p AND t.rn <= w.f
  JOIN nyr r ON r.symbol = w.symbol AND r.rn = t.rn
),
rec AS (
  SELECT symbol, ny_date, rn, 'daily_high' AS atype, high AS price, timestamp
  FROM (SELECT *, max(high) OVER (PARTITION BY symbol, ny_date ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ext FROM nyr)
  WHERE high > prev_ext
  UNION ALL
  SELECT symbol, ny_date, rn, 'daily_low' AS atype, low AS price, timestamp
  FROM (SELECT *, min(low) OVER (PARTITION BY symbol, ny_date ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ext FROM nyr)
  WHERE low < prev_ext
),
rc AS (
  SELECT w.symbol, x.atype, x.timestamp AS a_ts, x.rn - 1 AS anchor_idx,
         x.price, w.f_ts, w.f
  FROM winf w
  JOIN rec x ON x.symbol = w.symbol AND x.ny_date = w.f_day
            AND x.rn > w.p AND x.rn <= w.f
  QUALIFY row_number() OVER (PARTITION BY w.symbol, w.f, x.atype ORDER BY x.rn DESC) = 1
)
SELECT symbol, '1s' AS timeframe, atype AS anchor_type,
       strftime(a_ts, '{TS_FMT_DUCK}') AS anchor_ts,
       anchor_idx,
       price AS price_at_anchor,
       strftime(f_ts, '{TS_FMT_DUCK}') AS snapshot_ts,
       f - 1 AS current_idx
FROM (SELECT * FROM pv UNION ALL SELECT * FROM tr UNION ALL SELECT * FROM rc)
"""


@register("anchor_machine_recursive", _MACHINE_ORACLE, tags=("ST5", "ST6", "ST7", "W11"))
def anchor_machine_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete anchor state machine (reference
    ``src/candle_to_calcs.py:210-311,657-675``) with a REAL DuckDB
    oracle — daily reset, NY 04:00/09:30/16:00 session triggers,
    running day-extreme replacement, all six find_peaks flag scales,
    and event-time 300 s flush snapshots, replayed exactly via the
    flush-window decomposition documented above. Spark side: the
    production ``anchored_vwap_points`` applyInPandas kernel,
    unmodified. This retires the last golden-only mechanism."""
    p = _points(spark, sf_dir)
    return p.select(
        "symbol",
        "timeframe",
        "anchor_type",
        F.date_format("anchor_timestamp", TS_FMT_SPARK).alias("anchor_ts"),
        "anchor_idx",
        "price_at_anchor",
        F.date_format("current_snapshot_timestamp", TS_FMT_SPARK).alias("snapshot_ts"),
        "current_idx",
    )


def _points_oracle() -> str:
    """The machine oracle re-shaped to the points table: rounded
    anchor price + the reference's NULL anchored_vwap placeholder
    (src/candle_to_calcs.py:246 leaves it null; the FILL query
    computes it)."""
    return f"""
SELECT symbol, timeframe, anchor_type, anchor_ts, anchor_idx,
       round(price_at_anchor, 4) AS price_at_anchor,
       snapshot_ts, current_idx,
       CAST(NULL AS DOUBLE) AS anchored_vwap
FROM ({_MACHINE_ORACLE}) m
"""


@register("anchored_vwap_points", _points_oracle(), tags=("ST5", "ST6", "ST7", "bench"))
def anchored_vwap_points_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's fourth output table
    (``src/candle_to_calcs.py:236-247``): per-symbol anchor snapshots
    from the daily/peak state machine with event-time 300 s flushes,
    deduped keep-last per anchor — ORACLED via the anchor-machine
    flush-window decomposition (rounded price). ``anchored_vwap`` is
    the reference's NULL placeholder here, as its oracle states; the
    kernel's filled value is checked by ``anchored_vwap_filled``."""
    p = _points(spark, sf_dir)
    return p.select(
        "symbol",
        "timeframe",
        "anchor_type",
        F.date_format("anchor_timestamp", TS_FMT_SPARK).alias("anchor_ts"),
        "anchor_idx",
        F.round("price_at_anchor", 4).alias("price_at_anchor"),
        F.date_format("current_snapshot_timestamp", TS_FMT_SPARK).alias("snapshot_ts"),
        "current_idx",
        F.lit(None).cast("double").alias("anchored_vwap"),
    )


def _filled_oracle() -> str:
    """The points oracle composed with the relational fill: per
    anchor snapshot, VWAP over the candles in
    [anchor_ts, snapshot_ts] — sum(close*volume)/sum(volume),
    NULL when the range's volume is zero. (The Spark side sums the
    same ranges inside the anchor kernel, over its sorted candle rows;
    round-4 absorbs summation-order drift.)"""
    return f"""
WITH {CANDLES_CTE},
pts AS ({_points_oracle()}),
rng AS (
  SELECT p.symbol, p.anchor_type, p.anchor_ts, p.snapshot_ts, p.price_at_anchor,
         sum(c.close * c.volume) AS pv, sum(c.volume) AS v
  FROM pts p LEFT JOIN candles c
    ON c.symbol = p.symbol
   AND c.timestamp >= strptime(p.anchor_ts, '{TS_FMT_DUCK}')
   AND c.timestamp <= strptime(p.snapshot_ts, '{TS_FMT_DUCK}')
  GROUP BY p.symbol, p.anchor_type, p.anchor_ts, p.snapshot_ts, p.price_at_anchor
)
SELECT symbol, anchor_type, anchor_ts, snapshot_ts, price_at_anchor,
       CASE WHEN v > 0 THEN round(pv / v, 4) END AS anchored_vwap
FROM rng
"""


@register("anchored_vwap_filled", _filled_oracle(), tags=("ST5", "J5"))
def anchored_vwap_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anchored VWAP the reference leaves as a NULL placeholder
    (``:246``), actually computed: the anchor kernel sums each anchor's
    range over its symbol's sorted candles as it emits the row —
    ORACLED end-to-end by composing the anchor-machine oracle with the
    relational fill."""
    return _points(spark, sf_dir).select(
        "symbol",
        "anchor_type",
        F.date_format("anchor_timestamp", TS_FMT_SPARK).alias("anchor_ts"),
        F.date_format("current_snapshot_timestamp", TS_FMT_SPARK).alias("snapshot_ts"),
        F.round("price_at_anchor", 4).alias("price_at_anchor"),
        F.round("anchored_vwap", 4).alias("anchored_vwap"),
    )
