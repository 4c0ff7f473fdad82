"""Event-analytics corpus (product-analytics families over the
driver's ``events`` table): funnel conversion and cohort retention —
the two workhorse queries of any behavioral warehouse, expressed as
staged aggregates (never a per-user Python loop).

Both are driver-oracled: timestamps reduce to date/bucket strings and
counts, so parity is exact."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.corpus import register, scoped_persist
from auto_trade_data_pipeline_spark.sources import load_table

_EVENTS_CTE = """
ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
  FROM events
)
"""

# ---------------------------------------------------------------------------
# Funnel conversion: view -> click -> purchase
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = f"""
WITH {_EVENTS_CTE},
s1 AS (
  SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 2 HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM ev e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 2 HOUR
  GROUP BY e.user_id
),
st AS (
  SELECT s1.user_id,
         CASE WHEN s3.t3 IS NOT NULL THEN 3
              WHEN s2.t2 IS NOT NULL THEN 2
              ELSE 1 END AS reached_stage
  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
          LEFT JOIN s3 ON s1.user_id = s3.user_id
)
SELECT reached_stage, count(*) AS n_users
FROM st GROUP BY reached_stage
"""


@register("funnel_conversion", _FUNNEL_ORACLE, tags=("A4", "J4"))
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: per user, the first
    view, the first click strictly after it, the first purchase
    strictly after that; users counted at their furthest stage.

    Implementation is staged aggregation — one groupBy per stage over
    a strictly shrinking user set, each join keyed by user_id (the
    same shuffle key throughout, so Catalyst/AQE reuses the
    partitioning; no per-user collect_list, no Python). At 100 TB the
    stage-k input is only users who survived stage k-1."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 2 HOURS")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 2 HOURS")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    st = (
        s1.join(s2.select("user_id", "t2"), "user_id", "left")
        .join(s3.select("user_id", "t3"), "user_id", "left")
        .select(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("reached_stage")
        )
    )
    return st.groupBy("reached_stage").agg(F.count(F.lit(1)).alias("n_users"))


# ---------------------------------------------------------------------------
# Cohort retention: weekly first-seen cohorts x activity-week offsets
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = f"""
WITH {_EVENTS_CTE},
wk AS (
  SELECT user_id, date_trunc('week', ts) AS week FROM ev
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id
)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('week', c.cohort_week, w.week) AS INT) AS week_offset,
       count(DISTINCT w.user_id) AS active_users
FROM wk w JOIN cohort c ON w.user_id = c.user_id
GROUP BY c.cohort_week, date_diff('week', c.cohort_week, w.week)
"""


@register("cohort_retention", _RETENTION_ORACLE, tags=("A4", "A9", "J4"))
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users bucketed by first-seen
    ISO week, distinct-active counts per (cohort, week offset). Two
    shuffles — the cohort min and the final distinct count — both
    keyed uniformly; the cohort table is user-dimension-sized and
    joins back on the same user_id key."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("week"))
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    offset = (
        F.datediff(F.col("week"), F.col("cohort_week")) / 7
    ).cast("int")
    return (
        wk.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# SCD2 user-state history
# ---------------------------------------------------------------------------

_SCD2_ORACLE = f"""
WITH {_EVENTS_CTE},
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
          OR event_type IS DISTINCT FROM
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS chg
  FROM ev
),
islands AS (
  SELECT user_id, event_type AS state, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ts
  FROM flagged WHERE chg
)
SELECT user_id, state,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       CASE WHEN valid_to_ts IS NULL THEN 1 ELSE 0 END AS is_current
FROM islands
"""


@register("scd2_user_state", _SCD2_ORACLE, tags=("S7", "A7", "W-rank"))
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history of each user's event_type state: one row per
    state island with half-open [valid_from, valid_to) validity and an
    is_current flag, consecutive duplicates collapsed. One exchange on
    user_id carries the change-flag lag, the island filter, and the
    valid_to lead (the filter preserves partitioning — no second
    shuffle); output cardinality is the number of state CHANGES, so at
    100 TB the history is never larger than the log and usually far
    smaller. Ties broken by event_id for a deterministic history."""
    from auto_trade_data_pipeline_spark.operators.scd import scd2_from_changelog

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_from_changelog(
        ev, keys=("user_id",), ts_col="ts", state_cols=("event_type",),
        tiebreak=("event_id",),
    )
    return hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        "is_current",
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users (DAU/WAU shape)
# ---------------------------------------------------------------------------

_ROLLING_ACTIVE_ORACLE = f"""
WITH {_EVENTS_CTE},
du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM ev
),
days AS (SELECT DISTINCT d FROM du)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       count(DISTINCT du.user_id) AS active_7d,
       count(DISTINCT CASE WHEN du.d = days.d THEN du.user_id END) AS active_1d
FROM days
JOIN du ON du.d > days.d - 7 AND du.d <= days.d
GROUP BY days.d
"""


@register("rolling_active_users", _ROLLING_ACTIVE_ORACLE, tags=("A9", "A7", "bench"))
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the DAU/WAU
    family). Scale shape: dedupe to (day, user) pairs FIRST (one
    shuffle on the pair — drops the raw event volume), then each pair
    is EXPLODED to the <=7 report days it contributes to (a bounded
    x7 fan-out of small rows, no range join against the fact table)
    and counted distinct per report day. The 1-day count rides the
    same aggregation as a conditional distinct. The oracle states the
    same semantics as a range join — declarative form vs the bounded
    fan-out the engine prefers at 100 TB.

    At extreme scale, swap exact distinct for per-day mergeable
    distinct sketches unioned over the window (the KMV sketches in
    operators/sketch.py); this query keeps the exact answer so the
    oracle can pin it."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = du.select("d").distinct().select(F.col("d").alias("report_d"))
    contrib = du.select(
        "user_id",
        F.col("d").alias("src_d"),
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("report_d"),
    ).join(F.broadcast(days), "report_d", "left_semi")
    return (
        contrib.groupBy("report_d")
        .agg(
            F.count_distinct("user_id").alias("active_7d"),
            F.count_distinct(
                F.when(F.col("src_d") == F.col("report_d"), F.col("user_id"))
            ).alias("active_1d"),
        )
        .select(
            F.date_format("report_d", "yyyy-MM-dd").alias("day"),
            "active_7d",
            "active_1d",
        )
    )


# ---------------------------------------------------------------------------
# Event path transitions (Markov bigrams per user)
# ---------------------------------------------------------------------------

_TRANSITIONS_ORACLE = f"""
WITH {_EVENTS_CTE},
seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM ev
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS out_total FROM trans GROUP BY 1
)
SELECT t.from_type, t.to_type, t.n, x.out_total,
       round(t.n / (1.0 * x.out_total), 4) AS p
FROM trans t JOIN tot x ON x.from_type = t.from_type
"""


@register("event_transitions", _TRANSITIONS_ORACLE, tags=("A4", "W-rank"))
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User path analysis: the event-type transition matrix — per-user
    ordered `lead` (one exchange keyed by user), then a tiny
    |types|^2 aggregate with per-source normalization. The transition
    probability divides two exact integers, so cross-engine parity is
    safe at 4 decimals. The per-user window is the scale shape: raw
    events shuffle once by user_id (uniform key), and everything
    after the bigram count is dimension-sized."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("from_type").agg(F.sum("n").cast("long").alias("out_total"))
    return (
        trans.join(F.broadcast(tot), "from_type")
        .withColumn("p", F.round(F.col("n") / (F.col("out_total") * 1.0), 4))
        .select("from_type", "to_type", "n", "out_total", "p")
    )


# ---------------------------------------------------------------------------
# Distribution drift report (data-quality monitoring between windows)
# ---------------------------------------------------------------------------

DRIFT_BINS = 10
DRIFT_TV_FLAG = 0.05

_DRIFT_ORACLE = f"""
WITH {_EVENTS_CTE},
evu AS (SELECT event_type, epoch_us(ts) AS us, value FROM ev),
bd AS (
  SELECT min(us) AS ts_lo, max(us) AS ts_hi, min(value) AS v_lo, max(value) AS v_hi FROM evu
),
binned AS (
  SELECT e.event_type,
         CAST(least(floor(((e.value - b.v_lo) /
               (CASE WHEN b.v_hi > b.v_lo THEN b.v_hi - b.v_lo ELSE 1.0 END)) * {DRIFT_BINS}),
             {DRIFT_BINS - 1}) AS INTEGER) AS bin,
         CASE WHEN e.us < b.ts_lo + CAST(floor((b.ts_hi - b.ts_lo) / 2) AS BIGINT)
              THEN 1 ELSE 0 END AS is_base
  FROM evu e, bd b
),
cnts AS (
  SELECT event_type, bin,
         CAST(sum(is_base) AS BIGINT) AS cb,
         CAST(sum(1 - is_base) AS BIGINT) AS cc
  FROM binned GROUP BY event_type, bin
),
grid AS (
  SELECT g.event_type, CAST(t.i AS INTEGER) AS bin
  FROM (SELECT DISTINCT event_type FROM evu) g, range(0, {DRIFT_BINS}) t(i)
),
filled AS (
  SELECT g.event_type, g.bin, coalesce(c.cb, 0) AS cb, coalesce(c.cc, 0) AS cc
  FROM grid g LEFT JOIN cnts c ON c.event_type = g.event_type AND c.bin = g.bin
),
tot AS (SELECT event_type, CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(cc) AS BIGINT) AS nc FROM filled GROUP BY event_type),
p AS (
  SELECT f.event_type, t.nb, t.nc,
         CAST(f.cb + 1 AS DOUBLE) / CAST(t.nb + {DRIFT_BINS} AS DOUBLE) AS pb,
         CAST(f.cc + 1 AS DOUBLE) / CAST(t.nc + {DRIFT_BINS} AS DOUBLE) AS pc
  FROM filled f JOIN tot t ON t.event_type = f.event_type
),
agg AS (
  SELECT event_type, nb, nc,
         CAST(sum(CAST(round((((pc - pb) * (pc - pb)) / pb) * 1000000000) AS BIGINT)) AS BIGINT) / 1000000000.0 AS chi2s,
         CAST(sum(CAST(round(abs(pc - pb) * 1000000000) AS BIGINT)) AS BIGINT) / 1000000000.0 AS tvs
  FROM p GROUP BY event_type, nb, nc
)
SELECT event_type, nb AS n_base, nc AS n_cur,
       round(chi2s, 6) AS chi2_drift,
       round(0.5 * tvs, 6) AS tv_distance,
       CAST(CASE WHEN round(0.5 * tvs, 6) >= {DRIFT_TV_FLAG} THEN 1 ELSE 0 END AS INTEGER) AS drifted
FROM agg
"""


@register("distribution_drift_report", _DRIFT_ORACLE, tags=("A5", "EXT3", "bench"))
def distribution_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift monitor: per event_type, compare the value
    distribution of the first half of the time range (baseline) to
    the second half (current) over 10 equal-width bins — chi-square
    drift statistic and total-variation distance on Laplace-smoothed
    bin probabilities, plus a drift flag. Uses RATIONAL divergences
    (no ln as in classic PSI) so every number is bit-exact
    cross-engine; bin sums are integer-scaled.

    Scale shape: one conditional-aggregate scan of the fact table
    (bounds ride a broadcast one-row aggregate), a dimension-sized
    type x bin grid, and a per-type rollup — the same plan monitors a
    100 TB table between any two snapshots."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    binned = drift_binned(ev, drift_bounds(ev))
    cnts = binned.groupBy("event_type", "bin").agg(
        F.sum("is_base").alias("cb"), F.sum(1 - F.col("is_base")).alias("cc")
    )
    return drift_report_from_counts(spark, cnts)


def drift_bounds(ev: DataFrame) -> DataFrame:
    """One-row broadcastable bounds aggregate for the drift binning."""
    us = F.unix_micros(F.col("ts"))
    return F.broadcast(
        ev.agg(
            F.min(us).alias("ts_lo"),
            F.max(us).alias("ts_hi"),
            F.min("value").alias("v_lo"),
            F.max("value").alias("v_hi"),
        )
    )


def drift_binned(ev: DataFrame, bounds: DataFrame) -> DataFrame:
    """Map (event_type, ts, value) rows onto (event_type, bin,
    is_base) against broadcast bounds. Works on a batch OR streaming
    `ev` (the join is stream-static in the latter case)."""
    us = F.unix_micros(F.col("ts"))
    B = DRIFT_BINS
    span = F.when(F.col("v_hi") > F.col("v_lo"), F.col("v_hi") - F.col("v_lo")).otherwise(1.0)
    mid = F.col("ts_lo") + F.floor((F.col("ts_hi") - F.col("ts_lo")) / 2).cast("long")
    return ev.join(bounds).select(
        "event_type",
        F.least(F.floor(((F.col("value") - F.col("v_lo")) / span) * B), F.lit(B - 1))
        .cast("int")
        .alias("bin"),
        F.when(us < mid, 1).otherwise(0).alias("is_base"),
    )


def drift_report_from_counts(
    spark: SparkSession, cnts: DataFrame, types: DataFrame | None = None
) -> DataFrame:
    """Laplace-smoothed chi-square / total-variation drift report from
    per-(event_type, bin) baseline/current counts (cb, cc). ``types``
    optionally supplies the event-type dimension from an independent
    lineage (required when ``cnts`` comes from a sink table that can't
    self-join, e.g. a streaming memory sink)."""
    B = DRIFT_BINS
    # The type x bin grid comes from the (dimension-sized) counts
    # aggregate, not another scan of the fact table — every observed
    # event_type has at least one observed bin, so the distinct set is
    # identical and the fact table is read once for the whole grid.
    grid = (
        (types if types is not None else cnts.select("event_type"))
        .select("event_type")
        .distinct()
        .crossJoin(spark.range(B).select(F.col("id").cast("int").alias("bin")))
    )
    full = (
        grid.join(cnts, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            F.coalesce("cb", F.lit(0)).alias("cb"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    tot = full.groupBy("event_type").agg(F.sum("cb").alias("nb"), F.sum("cc").alias("nc"))
    p = full.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "nb",
        "nc",
        ((F.col("cb") + 1) / (F.col("nb") + B)).alias("pb"),
        ((F.col("cc") + 1) / (F.col("nc") + B)).alias("pc"),
    )
    d = F.col("pc") - F.col("pb")
    agg = p.groupBy("event_type", "nb", "nc").agg(
        (F.sum(F.round(((d * d) / F.col("pb")) * 1e9, 0).cast("long")) / F.lit(1e9)).alias("chi2s"),
        (F.sum(F.round(F.abs(d) * 1e9, 0).cast("long")) / F.lit(1e9)).alias("tvs"),
    )
    tv = F.round(0.5 * F.col("tvs"), 6)
    return agg.select(
        "event_type",
        F.col("nb").alias("n_base"),
        F.col("nc").alias("n_cur"),
        F.round("chi2s", 6).alias("chi2_drift"),
        tv.alias("tv_distance"),
        F.when(tv >= DRIFT_TV_FLAG, 1).otherwise(0).cast("int").alias("drifted"),
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch (mergeable cardinality estimation, exact oracle)
# ---------------------------------------------------------------------------

KMV_K = 64
_KMV_SPACE = float(1 << 60)  # hash64 is uniform on [0, 2^60)

_KMV_ORACLE = f"""
WITH {_EVENTS_CTE},
h AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM ev
),
rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r,
         count(*) OVER (PARTITION BY event_type) AS n_distinct
  FROM h
),
kth AS (
  SELECT event_type, CAST(max(n_distinct) AS BIGINT) AS n_exact,
         max(CASE WHEN r = least({KMV_K}, n_distinct) THEN hv END) AS kth_hv,
         CAST(least({KMV_K}, max(n_distinct)) AS BIGINT) AS k_used
  FROM rk GROUP BY event_type
)
SELECT event_type, n_exact, k_used, kth_hv,
       round(CASE WHEN k_used < {KMV_K} THEN CAST(n_exact AS DOUBLE)
                  ELSE (({KMV_K} - 1.0) * {_KMV_SPACE}) / kth_hv END, 4) AS est_distinct,
       round(abs(CASE WHEN k_used < {KMV_K} THEN CAST(n_exact AS DOUBLE)
                      ELSE (({KMV_K} - 1.0) * {_KMV_SPACE}) / kth_hv END - n_exact)
             / n_exact, 4) AS rel_error
FROM kth
"""


@register("kmv_distinct_sketch", _KMV_ORACLE, tags=("A5", "A9"))
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) cardinality sketch (Bar-Yossef et al.,
    RANDOM'02; the bottom-k estimator behind theta sketches): per
    event_type keep the k=64 smallest 60-bit hashes of user_id and
    estimate distinct users as (k-1) * hash_space / kth_min. Unlike
    HLL the whole sketch is DETERMINISTIC given the hash family, so
    the estimate itself is hash-checked cross-engine — alongside the
    exact count and the realized relative error.

    Scale shape: the sketch is mergeable — each partition keeps its
    k smallest hashes (map-side combine via the bottom-k window
    rewrite at scale; here rank-per-group), merges are union+bottom-k,
    and the shuffle carries at most k longs per group. Groups are few
    (event types); a high-cardinality group key would ride the same
    salted two-stage pattern as operators/skew.py."""
    from auto_trade_data_pipeline_spark.operators.sketch import kmv_estimate_col
    from auto_trade_data_pipeline_spark.operators.text import hash64
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type", hash64(F.col("user_id").cast("string")).alias("hv")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    wc = Window.partitionBy("event_type")
    rk = h.select(
        "event_type",
        "hv",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wc).alias("n_distinct"),
    )
    kth = rk.groupBy("event_type").agg(
        F.max("n_distinct").alias("n_exact"),
        F.max(
            F.when(F.col("r") == F.least(F.lit(KMV_K), F.col("n_distinct")), F.col("hv"))
        ).alias("kth_hv"),
        F.least(F.lit(KMV_K), F.max("n_distinct")).cast("long").alias("k_used"),
    )
    est = kmv_estimate_col(KMV_K)
    return kth.withColumn("sketch_n", F.col("k_used")).select(
        "event_type",
        "n_exact",
        "k_used",
        "kth_hv",
        F.round(est, 4).alias("est_distinct"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# KMV set algebra: pairwise audience overlap from sketches alone
# ---------------------------------------------------------------------------

_KMV_HASH = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"

_KMV_OVERLAP_ORACLE = f"""
WITH {_EVENTS_CTE},
sk0 AS (SELECT DISTINCT event_type, {_KMV_HASH} AS hv FROM ev),
sk AS (
  SELECT event_type, hv FROM (
    SELECT event_type, hv, row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
    FROM sk0
  ) WHERE r <= {KMV_K}
),
prs AS (
  SELECT a.event_type AS group_a, b.event_type AS group_b
  FROM (SELECT DISTINCT event_type FROM sk) a, (SELECT DISTINCT event_type FROM sk) b
  WHERE a.event_type < b.event_type
),
mg AS (
  SELECT DISTINCT group_a, group_b, hv FROM (
    SELECT p.group_a, p.group_b, s.hv FROM prs p JOIN sk s ON s.event_type = p.group_a
    UNION ALL
    SELECT p.group_a, p.group_b, s.hv FROM prs p JOIN sk s ON s.event_type = p.group_b
  )
),
tk AS (
  SELECT group_a, group_b, hv, ur FROM (
    SELECT group_a, group_b, hv,
           row_number() OVER (PARTITION BY group_a, group_b ORDER BY hv) AS ur
    FROM mg
  ) WHERE ur <= {KMV_K}
),
th AS (
  SELECT group_a, group_b, count(*) AS ku,
         max(CASE WHEN ur = {KMV_K} THEN hv END) AS theta_hv
  FROM tk GROUP BY group_a, group_b
),
cm AS (
  SELECT sa.event_type AS group_a, sb.event_type AS group_b, count(*) AS n_common
  FROM sk sa
  JOIN sk sb ON sb.hv = sa.hv AND sa.event_type < sb.event_type
  JOIN th t ON t.group_a = sa.event_type AND t.group_b = sb.event_type
  WHERE t.theta_hv IS NULL OR sa.hv < t.theta_hv
  GROUP BY sa.event_type, sb.event_type
),
est AS (
  SELECT t.group_a, t.group_b, t.ku, coalesce(c.n_common, 0) AS n_common, t.theta_hv
  FROM th t LEFT JOIN cm c ON c.group_a = t.group_a AND c.group_b = t.group_b
),
ex AS (
  SELECT x.event_type AS group_a, y.event_type AS group_b,
         CAST(count(*) AS BIGINT) AS n_exact_inter
  FROM (SELECT DISTINCT event_type, user_id FROM ev) x
  JOIN (SELECT DISTINCT event_type, user_id FROM ev) y
       ON y.user_id = x.user_id AND x.event_type < y.event_type
  GROUP BY x.event_type, y.event_type
)
SELECT e.group_a, e.group_b,
       coalesce(x.n_exact_inter, 0) AS n_exact_inter,
       round(CASE WHEN e.theta_hv IS NULL THEN CAST(e.ku AS DOUBLE)
                  ELSE {KMV_K - 1}.0 * {float(1 << 60)!r} / e.theta_hv END, 4) AS est_union,
       round(CASE WHEN e.theta_hv IS NULL THEN CAST(e.n_common AS DOUBLE)
                  ELSE e.n_common * {float(1 << 60)!r} / e.theta_hv END, 4) AS est_inter,
       round(e.n_common / (1.0 * e.ku), 6) AS jaccard_est
FROM est e LEFT JOIN ex x ON x.group_a = e.group_a AND x.group_b = e.group_b
"""


@register("kmv_set_overlap", _KMV_OVERLAP_ORACLE, tags=("A9", "J1"))
def kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-style set algebra from sketches alone
    (operators/sketch.py:kmv_pair_overlap): pairwise audience overlap
    between event types — union / intersection / Jaccard estimated
    ONLY from the per-type bottom-64 sketches (at most 2k longs per
    pair; all-pairs across G groups costs O(G^2 k) regardless of data
    size), with the exact intersection joined alongside as the error
    reference. The exact path is the expensive raw-data join the
    sketch replaces at 100 TB; both are deterministic and
    hash-checked."""
    from auto_trade_data_pipeline_spark.operators.sketch import kmv_pair_overlap, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    # The sketch table is G x k-sized (dimension metadata): truncate
    # its lineage before the pairwise self-join, which otherwise
    # re-executes the full sketch aggregation once per branch it
    # appears in (round-6 scan audit: ~16 event-tape reads in one
    # lazy plan; now 2 — one per independent aggregation shape).
    sk = kmv_sketch(ev, "event_type", "user_id", k=KMV_K).localCheckpoint(eager=True)
    est = kmv_pair_overlap(sk, "event_type", k=KMV_K)

    # The exact-reference self-join reads the distinct pairs twice —
    # persist so both sides share one scan (locally created: owned).
    ut = scoped_persist(ev.select("event_type", "user_id").distinct())
    ex = (
        ut.alias("x")
        .join(
            ut.alias("y"),
            (F.col("y.user_id") == F.col("x.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("group_a"), F.col("y.event_type").alias("group_b")
        )
        .agg(F.count(F.lit(1)).alias("n_exact_inter"))
    )
    return est.join(ex, ["group_a", "group_b"], "left").select(
        "group_a",
        "group_b",
        F.coalesce("n_exact_inter", F.lit(0)).alias("n_exact_inter"),
        "est_union",
        "est_inter",
        "jaccard_est",
    )


# ---------------------------------------------------------------------------
# KMV quantile sketch (deterministic mergeable quantile estimation)
# ---------------------------------------------------------------------------

KMVQ_K = 128
KMVQ_QS = (50, 90, 99)

def _kmvq_hv() -> str:
    """DuckDB twin of hash64(event_id, salt='kmvq') — via the shared
    portable-hash formatter so the formula has one source of truth."""
    from auto_trade_data_pipeline_spark.corpus.ext import _duck_hash

    return _duck_hash("CAST(event_id AS VARCHAR)", salt="kmvq")


_KMVQ_HV = _kmvq_hv()


def _kmvq_idx(n: str, q: int) -> str:
    """1-based order statistic index: ceil(n*q/100), floored at 1 —
    integer arithmetic, identical under DuckDB ``//`` and Spark
    ``div``."""
    return f"greatest(CAST(1 AS BIGINT), ({n} * {q} + 99) // 100)"


_KMVQ_ORACLE = f"""
WITH {_EVENTS_CTE},
b AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         {_KMVQ_HV} AS hv
  FROM ev
),
n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY event_type),
rk AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY hv, cents) AS r
  FROM b
),
samp AS (
  SELECT event_type, list(cents ORDER BY cents) AS sv,
         CAST(count(*) AS BIGINT) AS sample_n
  FROM rk WHERE r <= {KMVQ_K} GROUP BY event_type
),
ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rr
  FROM b
),
ex AS (
  SELECT r.event_type,
{",".join(f'''         max(CASE WHEN rr = {_kmvq_idx("n.n_rows", q)} THEN cents END) AS exact_p{q}''' for q in KMVQ_QS)}
  FROM ranked r JOIN n ON n.event_type = r.event_type
  GROUP BY r.event_type
)
SELECT s.event_type, n.n_rows, s.sample_n,
{",".join(f'''       sv[CAST({_kmvq_idx("s.sample_n", q)} AS INTEGER)] AS est_p{q},
       e.exact_p{q},
       abs(sv[CAST({_kmvq_idx("s.sample_n", q)} AS INTEGER)] - e.exact_p{q}) AS err_p{q}''' for q in KMVQ_QS)}
FROM samp s
JOIN n ON n.event_type = s.event_type
JOIN ex e ON e.event_type = s.event_type
"""


@register("kmv_quantile_sketch", _KMVQ_ORACLE, tags=("A5", "A9"))
def kmv_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable quantile estimation — the quantile
    counterpart of `kmv_distinct_sketch`: per event_type keep the
    k=128 ROWS with the smallest salted 60-bit hash of their unique
    event_id (a deterministic uniform row sample — bottom-k by hash
    IS reservoir sampling without the reservoir's order-dependence),
    estimate P50/P90/P99 of the value column from the sorted sample
    by the exact order-statistic rule ceil(m*q/100), and report each
    estimate NEXT TO the exact percentile (same index rule over the
    full group) with the absolute error in integer cents. Unlike
    KLL/GK sketches the whole construction is insertion-order- and
    merge-order-independent, so the estimate itself is hash-checked
    cross-engine (the reason this repo avoids `approx_percentile`,
    whose GK compaction is order-dependent).

    Scale shape: the SKETCH side is the 100 TB path — bottom-k is
    mergeable (each partition keeps its k smallest, merges are
    union+bottom-k; the shuffle carries <= k (hv, cents) pairs per
    group), membership is stable under re-partitioning and appends,
    and the sorted-sample arrays are k longs per group. The EXACT
    side (one rank window partitioned by event_type) is the
    certification baseline computed in-engine — the expensive pass a
    deployment runs once to validate the sketch's error, not per
    query (the `ann_recall_report` pattern). High-cardinality group
    keys ride the salted two-stage pattern of operators/skew.py."""
    from pyspark.sql.window import Window

    from auto_trade_data_pipeline_spark.operators.text import hash64

    ev = load_table(spark, sf_dir, "events")
    base = scoped_persist(
        ev.select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            hash64(F.col("event_id").cast("string"), salt="kmvq").alias("hv"),
        )
    )
    n = base.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))

    ws = Window.partitionBy("event_type").orderBy("hv", "cents")
    sarr = (
        base.withColumn("r", F.row_number().over(ws))
        .filter(F.col("r") <= KMVQ_K)
        .groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list("cents")).alias("sv"),
            F.count(F.lit(1)).cast("long").alias("sample_n"),
        )
    )

    we = Window.partitionBy("event_type").orderBy("cents")
    ranked = base.withColumn("rr", F.row_number().over(we)).join(
        F.broadcast(n), "event_type"
    )
    ex = ranked.groupBy("event_type").agg(
        *[
            F.max(
                F.when(
                    F.col("rr") == F.expr(_kmvq_idx("n_rows", q).replace("//", "div")),
                    F.col("cents"),
                )
            ).alias(f"exact_p{q}")
            for q in KMVQ_QS
        ]
    )

    out = sarr.join(F.broadcast(n), "event_type").join(F.broadcast(ex), "event_type")
    cols = [F.col("event_type"), F.col("n_rows"), F.col("sample_n")]
    for q in KMVQ_QS:
        est = F.element_at(
            "sv", F.expr(_kmvq_idx("sample_n", q).replace("//", "div")).cast("int")
        )
        cols += [
            est.alias(f"est_p{q}"),
            F.col(f"exact_p{q}"),
            F.abs(est - F.col(f"exact_p{q}")).alias(f"err_p{q}"),
        ]
    return out.select(*cols)


# ---------------------------------------------------------------------------
# Session-based conversion attribution (first / last touch)
# ---------------------------------------------------------------------------

_ATTR_GAP_MIN = 30

_ATTRIBUTION_ORACLE = f"""
WITH {_EVENTS_CTE},
t AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL {_ATTR_GAP_MIN} MINUTE
                 THEN 1 ELSE 0 END AS new_session
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
),
tm AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM s WHERE event_type <> 'purchase'
),
touches AS (
  SELECT user_id, session_id,
         max(CASE WHEN ra = 1 THEN event_type END) AS first_touch,
         max(CASE WHEN rd = 1 THEN event_type END) AS last_touch
  FROM tm GROUP BY user_id, session_id
),
purch AS (
  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS conversions
  FROM s WHERE event_type = 'purchase'
  GROUP BY user_id, session_id
)
SELECT t.first_touch, t.last_touch,
       CAST(sum(p.conversions) AS BIGINT) AS conversions,
       CAST(count(*) AS BIGINT) AS sessions
FROM purch p JOIN touches t
  ON p.user_id = t.user_id AND p.session_id = t.session_id
GROUP BY t.first_touch, t.last_touch
"""


@register("attribution_first_last_touch", _ATTRIBUTION_ORACLE, tags=("A4", "W-"))
def attribution_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style conversion attribution: user activity is
    sessionized (30-min inactivity gap, the relational lag-gap
    recipe), every purchase inside a session is attributed to the
    session's FIRST and LAST non-purchase touch (deterministic
    (ts, event_id) ordering via min_by/max_by struct keys), and the
    result is the first-touch x last-touch conversion matrix. One
    user-keyed exchange carries sessionization AND both per-session
    aggregates; the matrix join is dimension-sized. Sessions that are
    pure purchases (no touch) drop from the matrix by the inner
    join — stated in both engines."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    t = ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.when(
            prev.isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > _ATTR_GAP_MIN * 60_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    s = t.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    key = F.struct("ts", "event_id")
    touches = (
        s.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "session_id")
        .agg(
            F.min_by("event_type", key).alias("first_touch"),
            F.max_by("event_type", key).alias("last_touch"),
        )
    )
    purch = (
        s.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("conversions"))
    )
    return (
        purch.join(touches, ["user_id", "session_id"])
        .groupBy("first_touch", "last_touch")
        .agg(
            F.sum("conversions").alias("conversions"),
            F.count(F.lit(1)).alias("sessions"),
        )
    )


# ---------------------------------------------------------------------------
# Concurrency census: distributed sweep-line over session intervals
# ---------------------------------------------------------------------------

_CENSUS_ORACLE = f"""
WITH {_EVENTS_CTE},
t AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL {_ATTR_GAP_MIN} MINUTE
                 THEN 1 ELSE 0 END AS new_session
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
),
iv AS (
  SELECT user_id, session_id, min(ts) AS s_ts,
         max(ts) + INTERVAL {_ATTR_GAP_MIN} MINUTE AS e_ts
  FROM s GROUP BY user_id, session_id
),
b AS (
  SELECT user_id, session_id, s_ts AS ts, CAST(1 AS BIGINT) AS delta FROM iv
  UNION ALL
  SELECT user_id, session_id, e_ts AS ts, CAST(-1 AS BIGINT) AS delta FROM iv
),
dayagg AS (
  SELECT CAST(day AS DATE) AS day,
         CAST(sum(starts) AS BIGINT) AS starts, CAST(sum(ends) AS BIGINT) AS ends
  FROM (
    SELECT CAST(s_ts AS DATE) AS day, 1 AS starts, 0 AS ends FROM iv
    UNION ALL
    SELECT CAST(e_ts AS DATE) AS day, 0 AS starts, 1 AS ends FROM iv
  ) GROUP BY day
),
carry AS (
  SELECT day,
         CAST(coalesce(sum(starts) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            - coalesce(sum(ends) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS carry_in
  FROM dayagg
),
run AS (
  SELECT CAST(b.ts AS DATE) AS day, b.ts, b.delta,
         sum(b.delta) OVER (PARTITION BY CAST(b.ts AS DATE)
                            ORDER BY b.ts, b.delta, b.user_id, b.session_id
                            ROWS UNBOUNDED PRECEDING) AS rsum
  FROM b
)
SELECT strftime(r.day, '%Y-%m-%d') AS day,
       c.carry_in,
       CAST(count(*) AS BIGINT) AS boundaries,
       CAST(max(c.carry_in + r.rsum) AS BIGINT) AS peak_concurrency
FROM run r JOIN carry c ON r.day = c.day
GROUP BY r.day, c.carry_in
"""


@register("concurrent_sessions_census", _CENSUS_ORACLE, tags=("A7", "W-"))
def concurrent_sessions_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent user sessions per day by DISTRIBUTED
    sweep-line: session intervals ([first event, last event + gap))
    become +1/-1 boundary events; the census at any instant is a
    running sum — computed WITHOUT a global single-partition window:
    an in-day running sum (day-partitioned window) plus a per-day
    carry-in offset derived from the dimension-sized day-level
    start/end totals (the global_running_sum recipe applied to time
    ranges). Boundary order (ts, delta, user, session) processes ends
    before starts at the same instant, so a session ending exactly
    when another starts never double-counts. The oracle replays the
    identical decomposition."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    s = ev.select(
        "event_id",
        "ts",
        "user_id",
        F.when(
            prev.isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(prev)
                > _ATTR_GAP_MIN * 60_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_ts"),
        (F.max("ts") + F.expr(f"INTERVAL {_ATTR_GAP_MIN} MINUTES")).alias("e_ts"),
    )
    b = iv.select(
        "user_id", "session_id", F.col("s_ts").alias("ts"), F.lit(1).cast("long").alias("delta")
    ).unionByName(
        iv.select(
            "user_id",
            "session_id",
            F.col("e_ts").alias("ts"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    dayagg = (
        iv.select(F.to_date("s_ts").alias("day"), F.lit(1).alias("starts"), F.lit(0).alias("ends"))
        .unionByName(
            iv.select(
                F.to_date("e_ts").alias("day"), F.lit(0).alias("starts"), F.lit(1).alias("ends")
            )
        )
        .groupBy("day")
        .agg(F.sum("starts").alias("starts"), F.sum("ends").alias("ends"))
    )
    # Day-level prefix: dimension-sized (one row per calendar day) —
    # the only unpartitioned window runs over days, never events.
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = dayagg.select(
        "day",
        (
            F.coalesce(F.sum("starts").over(wd), F.lit(0))
            - F.coalesce(F.sum("ends").over(wd), F.lit(0))
        )
        .cast("long")
        .alias("carry_in"),
    )
    wr = Window.partitionBy(F.to_date("ts")).orderBy(
        "ts", "delta", "user_id", "session_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    run = b.select(
        F.to_date("ts").alias("day"), F.sum("delta").over(wr).alias("rsum")
    )
    return (
        run.join(F.broadcast(carry), "day")
        .groupBy("day", "carry_in")
        .agg(
            F.count(F.lit(1)).alias("boundaries"),
            F.max(F.col("carry_in") + F.col("rsum")).cast("long").alias("peak_concurrency"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "carry_in",
            "boundaries",
            "peak_concurrency",
        )
    )


# ---------------------------------------------------------------------------
# A/B experiment report: hash-assigned variants, two-proportion z-test
# ---------------------------------------------------------------------------

#: Shared z-statistic expression over the four exact integer counts —
#: spelled ONCE and reused verbatim by both engines so every IEEE
#: operation (divisions, sqrt) runs on identical doubles in identical
#: order; the e6 snap absorbs any <=1-ulp libm sqrt difference. The
#: CASE guard (degenerate pooled rate of exactly 0 or 1, or an empty
#: arm) yields NULL identically on both engines instead of a
#: divide-by-zero — Spark ANSI mode ERRORS on 0/0 where DuckDB would
#: return NULL, so the guard is correctness, not cosmetics.
#: Every operand is CAST to DOUBLE explicitly: a bare ``* 1.0`` is
#: DECIMAL in DuckDB (decimal division != IEEE division — observed
#: ~2e-5 drift in z), while Spark reads the same literal as DOUBLE.
_AB_Z_EXPR = (
    "CASE WHEN n_a = 0 OR n_b = 0 "
    "OR conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL ELSE "
    "((CAST(conv_a AS DOUBLE) / n_a) - (CAST(conv_b AS DOUBLE) / n_b)) / "
    "sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) "
    "* (1e0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) "
    "* (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) END"
)

#: A user "converts" when their purchase count reaches this threshold.
#: The synthetic events table gives every user every event type, so a
#: binary ever-purchased flag is degenerate (pooled rate 1.0 → zero
#: z denominator); an intensity threshold near the per-user mean
#: (~13 purchases/user at sf0.01) genuinely splits the population.
_AB_CONV_MIN_PURCHASES = 14

_AB_ORACLE = f"""
WITH {_EVENTS_CTE},
u AS (
  SELECT user_id,
         CAST('0x' || substr(md5('ab' || '|' || CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 2 AS variant,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= {_AB_CONV_MIN_PURCHASES} THEN 1 ELSE 0 END AS converted
  FROM ev GROUP BY user_id
),
c AS (
  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
  FROM u
)
SELECT n_a, n_b, conv_a, conv_b,
       CAST((conv_a * 1000000) // n_a AS BIGINT) AS rate_a_ppm,
       CAST((conv_b * 1000000) // n_b AS BIGINT) AS rate_b_ppm,
       CAST((conv_a * 1000000) // n_a - (conv_b * 1000000) // n_b AS BIGINT)
         AS lift_ppm,
       CAST(round(({_AB_Z_EXPR}) * 1000000) AS BIGINT) AS z_e6
FROM c
"""


@register("ab_test_report", _AB_ORACLE, tags=("A4", "A6"))
def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — the product-analytics significance
    gate: users are deterministically hash-assigned to two variants
    (salted md5 of the user id — the industry-standard sticky
    bucketing that needs no assignment table and is stable under
    re-runs), conversion = the user reached a purchase-count
    threshold, and the report is the two-proportion z-statistic over
    the four exact counts. Rates and lift are integer ppm; the z
    expression is ONE shared formula string (with a shared degenerate
    guard) evaluated on identical integers by both engines, snapped
    to e6.

    Scale shape: one user-keyed aggregate (map-side combinable
    max-per-user) then a single-row conditional-sum reduce — no
    shuffle wider than the user key, no assignment-table join."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        )
    )
    return ab_report_from_user_counts(counts)


def ab_report_from_user_counts(counts: DataFrame) -> DataFrame:
    """Shared A/B report tail over (user_id, n_purchases) — used by
    the batch query and the streaming-counter replay, which replays
    the identical exact integers and therefore shares the oracle."""
    from auto_trade_data_pipeline_spark.operators.text import hash64

    u = counts.select(
        F.when(F.col("n_purchases") >= _AB_CONV_MIN_PURCHASES, 1)
        .otherwise(0)
        .alias("converted"),
        (hash64(F.col("user_id").cast("string"), salt="ab") % 2).alias("variant"),
    )
    c = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    return c.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr("(conv_a * 1000000) div n_a").alias("rate_a_ppm"),
        F.expr("(conv_b * 1000000) div n_b").alias("rate_b_ppm"),
        F.expr("(conv_a * 1000000) div n_a - (conv_b * 1000000) div n_b").alias(
            "lift_ppm"
        ),
        F.expr(f"CAST(round(({_AB_Z_EXPR}) * 1000000) AS BIGINT)").alias("z_e6"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier retention survival curve
# ---------------------------------------------------------------------------

#: A user is an observed churn when their last activity precedes the
#: corpus horizon by at least this many hours; later last-touches are
#: right-censored (still active at the horizon). 24h splits the
#: synthetic population (median inactivity ~7h, tail to ~70h) into
#: real churn events at every scale — a multi-day gap censors everyone
#: and leaves the hazard math vacuous.
_KM_CHURN_GAP_HOURS = 24

#: Per-step hazard term, shared verbatim: ln((n_risk - d) / n_risk) —
#: 0 exactly when no churn at the step; the d = n_risk terminal step
#: is masked by the zero flag (ln(0) is NULL in Spark but -inf in
#: DuckDB, so it must never be evaluated into the sum).
_KM_LN_TERM = (
    "CASE WHEN d_churn = 0 OR d_churn = n_risk THEN CAST(0.0 AS DOUBLE) "
    "ELSE ln(CAST(n_risk - d_churn AS DOUBLE) / n_risk) END"
)

_KM_ORACLE = f"""
WITH {_EVENTS_CTE},
u AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
  FROM ev GROUP BY user_id
),
g AS (SELECT max(ts) AS gmax FROM ev),
d AS (
  -- floor(epoch()) per timestamp BEFORE differencing: Spark's
  -- unix_timestamp truncates each timestamp to whole seconds, and a
  -- difference of floors is not the floor of the difference
  SELECT CASE WHEN u.last_ts < g.gmax - INTERVAL 24 HOUR THEN 1 ELSE 0 END AS churned,
         CASE WHEN u.last_ts < g.gmax - INTERVAL 24 HOUR
              THEN (CAST(floor(epoch(u.last_ts)) AS BIGINT)
                    - CAST(floor(epoch(u.first_ts)) AS BIGINT)) // 86400
              ELSE (CAST(floor(epoch(g.gmax)) AS BIGINT)
                    - CAST(floor(epoch(u.first_ts)) AS BIGINT)) // 86400
         END AS dur
  FROM u, g
),
per AS (
  SELECT dur, CAST(count(*) AS BIGINT) AS c_all,
         CAST(sum(churned) AS BIGINT) AS d_churn
  FROM d GROUP BY dur
),
risk AS (
  SELECT CAST(dur AS BIGINT) AS duration_day, c_all, d_churn,
         CAST((SELECT count(*) FROM d)
              - coalesce(sum(c_all) OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM per
),
km AS (
  SELECT duration_day, c_all, d_churn, n_risk,
         sum({_KM_LN_TERM}) OVER (ORDER BY duration_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lns,
         max(CASE WHEN d_churn = n_risk THEN 1 ELSE 0 END)
             OVER (ORDER BY duration_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
  FROM risk
)
SELECT duration_day, n_risk, d_churn, c_all,
       CASE WHEN dead = 1 THEN 0
            ELSE CAST(round(exp(lns) * 1000000) AS BIGINT) END AS survival_e6
FROM km
"""


@register("survival_retention_km", _KM_ORACLE, tags=("A4", "A7"))
def survival_retention_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve — the product-analytics survival
    estimator with right censoring done properly: users whose last
    activity predates the corpus horizon by {G}+ hours are observed
    churns at their active lifespan; everyone else is censored at the
    horizon (they shrink the risk set without counting as an event —
    the step naive churn rates get wrong). S(t) multiplies the
    per-step hazards; both engines evaluate it as ONE ordered
    cumulative sum of shared ln terms (fixed order -> identical IEEE
    doubles), exp'd and e6-snapped, with a terminal-extinction flag
    standing in for the ln(0) step the engines disagree on.

    Scale shape: one user-keyed min/max aggregate (map-side
    combinable), a broadcast 1-row horizon, a per-duration-day
    aggregate, and the KM windows run over the tiny duration-day
    table — never the event tape.""".replace("{G}", str(_KM_CHURN_GAP_HOURS))
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    g = ev.agg(F.max("ts").alias("gmax"))
    gap = F.expr(f"gmax - INTERVAL {_KM_CHURN_GAP_HOURS} HOUR")
    d = u.join(F.broadcast(g)).select(
        F.when(F.col("last_ts") < gap, 1).otherwise(0).alias("churned"),
        F.when(
            F.col("last_ts") < gap,
            F.expr(
                "CAST(unix_timestamp(last_ts) - unix_timestamp(first_ts) AS BIGINT) "
                "div 86400"
            ),
        )
        .otherwise(
            F.expr(
                "CAST(unix_timestamp(gmax) - unix_timestamp(first_ts) AS BIGINT) "
                "div 86400"
            )
        )
        .alias("dur"),
    )
    per = d.groupBy("dur").agg(
        F.count(F.lit(1)).alias("c_all"), F.sum("churned").alias("d_churn")
    )
    wo = Window.orderBy("dur")
    wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
    wcur = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = per.select(F.sum("c_all").alias("n_total"))
    risk = per.join(F.broadcast(total)).select(
        F.col("dur").alias("duration_day"),
        "c_all",
        "d_churn",
        (
            F.col("n_total")
            - F.coalesce(F.sum("c_all").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    wd = Window.orderBy("duration_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = risk.select(
        "duration_day",
        "c_all",
        "d_churn",
        "n_risk",
        F.sum(F.expr(_KM_LN_TERM)).over(wd).alias("lns"),
        F.max(
            F.when(F.col("d_churn") == F.col("n_risk"), 1).otherwise(0)
        ).over(wd).alias("dead"),
    )
    return km.select(
        "duration_day",
        "n_risk",
        "d_churn",
        "c_all",
        F.when(F.col("dead") == 1, F.lit(0).cast("long"))
        .otherwise(F.expr("CAST(round(exp(lns) * 1000000) AS BIGINT)"))
        .alias("survival_e6"),
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution of the user event chain
# ---------------------------------------------------------------------------

_MK_ITERS = 10
_MK_TOTAL = 10**12  # integer probability-mass units


def _markov_oracle() -> str:
    """Chained power iterations in pure BIGINT arithmetic: each
    pi_{k+1}(j) = sum_i (pi_k(i) * n_ij) // n_i — floor per term, so
    the fixpoint is bit-identical at any parallelism (the integer-
    exact PageRank recipe). States without outgoing transitions drop
    their mass consistently on both engines (none exist in this data;
    the floor slack itself shrinks total mass by < n_states units per
    iteration, identically)."""
    ctes = [
        f"""mk_big AS MATERIALIZED (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM ev
)""",
        """mk_t AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n_ij
  FROM mk_big WHERE dst IS NOT NULL GROUP BY src, dst
)""",
        """mk_row AS MATERIALIZED (
  SELECT src, CAST(sum(n_ij) AS BIGINT) AS n_i FROM mk_t GROUP BY src
)""",
        "mk_states AS MATERIALIZED (SELECT DISTINCT event_type AS state FROM ev)",
        "mk_n AS MATERIALIZED (SELECT count(*) AS ns FROM mk_states)",
        f"""mk_pi0 AS MATERIALIZED (
  SELECT state, CAST({_MK_TOTAL} // (SELECT ns FROM mk_n) AS BIGINT) AS pi
  FROM mk_states
)""",
    ]
    for i in range(_MK_ITERS):
        ctes.append(
            f"""mk_pi{i + 1} AS MATERIALIZED (
  SELECT s.state,
         CAST(coalesce(sum((p.pi * t.n_ij) // r.n_i), 0) AS BIGINT) AS pi
  FROM mk_states s
  LEFT JOIN mk_t t ON t.dst = s.state
  LEFT JOIN mk_pi{i} p ON p.state = t.src
  LEFT JOIN mk_row r ON r.src = t.src
  GROUP BY s.state
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {_EVENTS_CTE},
{body}
SELECT f.state, r.n_i AS n_transitions_out, f.pi AS pi_units
FROM mk_pi{_MK_ITERS} f LEFT JOIN mk_row r ON r.src = f.state
"""


@register("markov_stationary_mix", _markov_oracle(), tags=("A4", "W-rank", "J4"))
def markov_stationary_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event Markov chain —
    the long-run behavioral mix (where users spend their journeys,
    independent of where they start): the transition matrix comes
    from one user-keyed ordered lead (the event_transitions lineage),
    and the stationary vector is {K} power iterations in INTEGER
    probability-mass units — each term floors (pi_i * n_ij) // n_i,
    so every iteration is exact BIGINT arithmetic, order-free at any
    parallelism, and the DuckDB oracle replays the identical chain
    (the integer-exact PageRank recipe).

    Scale shape: the event tape shuffles ONCE (by user) for the
    bigram lead; everything after is |states|^2-sized — the
    transition matrix and state list are MATERIALIZED into
    LocalRelations (|states|^2 rows — dimension metadata, the
    ranking.py partition-sums pattern) from ONE persisted pass over
    the event tape at build time, so the iteration joins run on a
    25-cell local matrix and the returned plan touches no tape at
    all. Left lazy, every iteration's reference to the states/matrix
    lineages re-scanned events — ~2 x {K} full tape reads at scale
    for identical results.""".replace(
        "{K}", str(_MK_ITERS)
    )
    from pyspark.sql.window import Window

    ev = scoped_persist(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    big = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    trans = big.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_ij"))
    row_agg = trans.groupBy("src").agg(F.sum("n_ij").alias("n_i"))
    none_low = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    tmat = spark.createDataFrame(
        sorted(
            trans.join(row_agg, "src").select("src", "dst", "n_ij", "n_i").collect(),
            key=none_low,
        ),
        schema="src string, dst string, n_ij long, n_i long",
    )
    state_names = sorted(
        (
            r["state"]
            for r in ev.select(F.col("event_type").alias("state")).distinct().collect()
        ),
        key=lambda v: (v is None, v),
    )
    ns = len(state_names)  # |states| — dimension metadata, not data
    states = spark.createDataFrame([(s,) for s in state_names], "state string")
    row = tmat.select("src", "n_i").distinct()
    pi = states.select(
        "state", F.lit(_MK_TOTAL // ns).cast("long").alias("pi")
    )
    for _ in range(_MK_ITERS):
        terms = pi.join(
            F.broadcast(tmat), pi["state"] == tmat["src"], "inner"
        ).select(
            F.col("dst").alias("state_next"),
            F.expr("(pi * n_ij) div n_i").alias("term"),
        )
        pi = (
            states.join(
                terms.groupBy("state_next").agg(F.sum("term").alias("pi_next")),
                states["state"] == F.col("state_next"),
                "left",
            )
            .select(
                "state",
                F.coalesce(F.col("pi_next"), F.lit(0)).cast("long").alias("pi"),
            )
        )
    return pi.join(row, pi["state"] == row["src"], "left").select(
        "state",
        F.col("n_i").alias("n_transitions_out"),
        F.col("pi").alias("pi_units"),
    )


# ---------------------------------------------------------------------------
# Funnel time-to-convert quantiles
# ---------------------------------------------------------------------------

_FUNNEL_LATENCY_ORACLE = f"""
WITH {_EVENTS_CTE},
s1 AS (
  SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 2 HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM ev e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 2 HOUR
  GROUP BY e.user_id
),
lat AS (
  -- floor(epoch()) per timestamp before differencing (the KM recipe:
  -- Spark's unix_timestamp truncates each side to whole seconds)
  SELECT s1.user_id,
         CAST(floor(epoch(s3.t3)) AS BIGINT)
           - CAST(floor(epoch(s1.t1)) AS BIGINT) AS secs
  FROM s1 JOIN s3 ON s1.user_id = s3.user_id
),
ranked AS (
  SELECT secs, row_number() OVER (ORDER BY secs, user_id) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM lat
)
SELECT any_value(n) AS n_converted,
       CAST(max(CASE WHEN rk = greatest(CAST(ceil(n * 50 / 100.0) AS BIGINT), 1)
                     THEN secs END) AS BIGINT) AS p50_s,
       CAST(max(CASE WHEN rk = greatest(CAST(ceil(n * 90 / 100.0) AS BIGINT), 1)
                     THEN secs END) AS BIGINT) AS p90_s,
       CAST(min(secs) AS BIGINT) AS min_s,
       CAST(max(secs) AS BIGINT) AS max_s
FROM ranked
"""


@register("funnel_latency_quantiles", _FUNNEL_LATENCY_ORACLE, tags=("A4", "J4", "O1"))
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the full view->click->purchase
    funnel — the conversion-speed readout product teams pair with the
    stage counts: per converted user the first-view-to-first-purchase
    latency in whole seconds (floor-per-timestamp, the KM recipe),
    then EXACT P50/P90 by deterministic rank (user tiebreak) — no
    approximate percentile sketch, so cross-engine parity is exact.

    Scale shape: the staged funnel aggregates reuse the
    funnel_conversion layout (user-keyed, shrinking sets); the ranked
    object is converted USERS (dimension-sized), so the rank window
    costs nothing at any tape size."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 2 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 2 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    lat = s1.join(s3, "user_id").select(
        "user_id",
        F.expr(
            "CAST(unix_timestamp(t3) AS BIGINT) - CAST(unix_timestamp(t1) AS BIGINT)"
        ).alias("secs"),
    )
    w = Window.orderBy("secs", "user_id")
    ranked = lat.select(
        "secs",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.any_value("n").alias("n_converted"),
        F.max(
            F.when(
                F.col("rk")
                == F.expr("greatest(CAST(ceil(n * 50 / 100.0) AS BIGINT), 1)"),
                F.col("secs"),
            )
        ).alias("p50_s"),
        F.max(
            F.when(
                F.col("rk")
                == F.expr("greatest(CAST(ceil(n * 90 / 100.0) AS BIGINT), 1)"),
                F.col("secs"),
            )
        ).alias("p90_s"),
        F.min("secs").alias("min_s"),
        F.max("secs").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# Z-order layout readout (multi-dimensional file clustering)
# ---------------------------------------------------------------------------

#: Files in the simulated layout and bits per z-order dimension.
ZORD_FILES = 16
ZORD_BITS = 16

_ZORDER_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
),
b AS (
  SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
         min(ts_us) AS lo_t, max(ts_us) AS hi_t
  FROM e
),
bk AS (
  SELECT user_id, ts_us,
         least(CAST(floor((CAST(user_id AS DOUBLE) - CAST(lo_u AS DOUBLE))
                 / (CASE WHEN hi_u > lo_u THEN CAST(hi_u AS DOUBLE) - CAST(lo_u AS DOUBLE) ELSE 1.0 END)
                 * {1 << ZORD_BITS}) AS BIGINT), {(1 << ZORD_BITS) - 1}) AS bu,
         least(CAST(floor((CAST(ts_us AS DOUBLE) - CAST(lo_t AS DOUBLE))
                 / (CASE WHEN hi_t > lo_t THEN CAST(hi_t AS DOUBLE) - CAST(lo_t AS DOUBLE) ELSE 1.0 END)
                 * {1 << ZORD_BITS}) AS BIGINT), {(1 << ZORD_BITS) - 1}) AS bt
  FROM e, b
),
zi AS (
  SELECT user_id, ts_us,
         (SELECT sum((((bu >> i) & 1) << (2 * i)) + (((bt >> i) & 1) << (2 * i + 1)))
          FROM range(0, {ZORD_BITS}) t(i)) AS zv
  FROM bk
),
zb AS (SELECT min(zv) AS zlo, max(zv) AS zhi FROM zi),
fz AS (
  SELECT user_id, ts_us,
         (zv - zlo) * {ZORD_FILES} // (zhi - zlo + 1) AS file_id
  FROM zi, zb
),
ft AS (
  SELECT user_id, ts_us,
         (ts_us - lo_t) * {ZORD_FILES} // (hi_t - lo_t + 1) AS file_id
  FROM e, b
)
SELECT 'zorder' AS layout, CAST(file_id AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(user_id) - min(user_id) AS BIGINT) AS user_span,
       CAST(max(ts_us) - min(ts_us) AS BIGINT) AS ts_span_us
FROM fz GROUP BY file_id
UNION ALL
SELECT 'ts_range', CAST(file_id AS BIGINT),
       CAST(count(*) AS BIGINT),
       CAST(max(user_id) - min(user_id) AS BIGINT),
       CAST(max(ts_us) - min(ts_us) AS BIGINT)
FROM ft GROUP BY file_id
"""


@register("zorder_layout_stats", _ZORDER_ORACLE, tags=("EXT3", "S5"))
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout readout — the footer-stat evidence behind
    operators/layout.py's OPTIMIZE ZORDER (with_zorder_key: broadcast
    global bounds -> equal-width bucket per dimension -> Morton bit
    interleave, pure JVM shift/and arithmetic): events are assigned to
    ``ZORD_FILES`` simulated files by z-key range, and per file the
    report carries the (user_id, ts) min/max SPANS parquet footers
    would expose — the z layout bounds BOTH dimensions' spans (each
    file covers a hyper-rectangle), while the ``ts_range`` baseline
    layout (sort-by-time, also reported) has tiny ts spans but
    full-corpus user spans, i.e. zero pruning for user predicates.
    The oracle replays the bucketing, the 16-bit interleave, and both
    file assignments exactly (integer micros + double bucket math —
    both deterministic).

    Scale shape: two tiny broadcast bound aggregates + pure
    expressions + one hash-agg per layout; file assignment is
    arithmetic on the z-key range, never a global sort or ntile (no
    SinglePartition anywhere). The real write path
    (write_zordered's repartitionByRange) is pinned by
    tests/test_layout.py's file-overlap pruning assertions."""
    from auto_trade_data_pipeline_spark.operators.layout import with_zorder_key

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    ev = scoped_persist(ev)  # with_zorder_key sees a persisted input -> no private cache
    keyed = with_zorder_key(ev, ["user_id", "ts_us"], bits=ZORD_BITS).df

    zb = keyed.agg(
        F.min("__z").alias("zlo"), F.max("__z").alias("zhi")
    )
    fz = keyed.join(F.broadcast(zb)).select(
        "user_id",
        "ts_us",
        F.expr(f"(__z - zlo) * {ZORD_FILES} div (zhi - zlo + 1)").alias("file_id"),
    )
    tb = ev.agg(F.min("ts_us").alias("lo_t"), F.max("ts_us").alias("hi_t"))
    ft = ev.join(F.broadcast(tb)).select(
        "user_id",
        "ts_us",
        F.expr(f"(ts_us - lo_t) * {ZORD_FILES} div (hi_t - lo_t + 1)").alias("file_id"),
    )

    def report(df: DataFrame, layout: str) -> DataFrame:
        return df.groupBy("file_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("user_id") - F.min("user_id")).cast("long").alias("user_span"),
            (F.max("ts_us") - F.min("ts_us")).cast("long").alias("ts_span_us"),
        ).select(
            F.lit(layout).alias("layout"),
            F.col("file_id").cast("long").alias("file_id"),
            "n_rows",
            "user_span",
            "ts_span_us",
        )

    return report(fz, "zorder").unionByName(report(ft, "ts_range"))
