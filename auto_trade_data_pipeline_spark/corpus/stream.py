"""Streaming corpus (ST1-ST4): availableNow replay queries whose
results are deterministic functions of the input — so the windowed
candle replay gets a full DuckDB oracle (batch candles restricted to
the windows the final watermark closed)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.corpus import register, scoped_persist
from auto_trade_data_pipeline_spark.corpus.trade import (
    CANDLES_CTE,
    TICKS_CTE,
    TS_FMT_DUCK,
    TS_FMT_SPARK,
)
from auto_trade_data_pipeline_spark.streaming import (
    interval_join_after_anchor,
    interval_left_outer_orphans,
    read_table_stream,
    read_ticks_stream,
    run_available_now,
    streaming_candles,
    streaming_dedup,
)

_STREAM_CANDLES_ORACLE = f"""
WITH {CANDLES_CTE},
wm AS (SELECT max(timestamp) - INTERVAL 10 MINUTE AS w FROM ticks)
SELECT symbol,
       strftime(timestamp, '{TS_FMT_DUCK}') AS bucket_ts,
       open, high, low, close,
       round(volume, 4) AS volume,
       number_of_trades,
       round(vwap, 4) AS vwap
FROM candles, wm
WHERE timestamp + INTERVAL 1 SECOND <= wm.w
"""


@register("streaming_candles_replay", _STREAM_CANDLES_ORACLE, tags=("ST1", "ST2", "ST8"))
def streaming_candles_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: watermarked 1-second candles over the events stream,
    drained with the availableNow trigger. Append mode emits exactly
    the windows closed by the final watermark (max event time minus
    10 minutes) — the oracle states that contract relationally
    against the batch candle definition."""
    stream = streaming_candles(read_ticks_stream(spark, sf_dir), 1, watermark="10 minutes")
    result = run_available_now(stream, f"corpus_stream_candles_{uuid.uuid4().hex[:8]}")
    return result.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
        "number_of_trades",
        F.round("vwap", 4).alias("vwap"),
    )


_STREAM_DEDUP_ORACLE = """
WITH t AS (
  SELECT event_type AS symbol, CAST(ts AS TIMESTAMP) AS timestamp
  FROM events
)
SELECT symbol, count(DISTINCT timestamp) AS distinct_ts
FROM t
GROUP BY symbol
"""


@register("streaming_dedup_replay", _STREAM_DEDUP_ORACLE, tags=("ST3",))
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: watermark-bounded streaming dropDuplicates on
    (symbol, timestamp); the replay must leave exactly one row per
    distinct key, counted per symbol against a relational oracle."""
    deduped = streaming_dedup(read_ticks_stream(spark, sf_dir), ("symbol", "timestamp"))
    result = run_available_now(deduped, f"corpus_stream_dedup_{uuid.uuid4().hex[:8]}")
    # Plain count(*) of the deduped stream: only a correct dedup makes
    # it equal the oracle's count(DISTINCT timestamp).
    return result.groupBy("symbol").agg(F.count(F.lit(1)).alias("distinct_ts"))


# ---------------------------------------------------------------------------
# ST9: sliding windows (overlapping time buckets)
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = f"""
WITH {TICKS_CTE},
wins AS (
  SELECT symbol, price, volume,
         date_trunc('minute', timestamp) - i * INTERVAL 1 MINUTE AS w_start
  FROM ticks, range(0, 5) t(i)
)
SELECT symbol,
       strftime(w_start, '{TS_FMT_DUCK}') AS window_start,
       strftime(w_start + INTERVAL 5 MINUTE, '{TS_FMT_DUCK}') AS window_end,
       count(*) AS n_ticks,
       CAST(sum(CAST(round(volume) AS BIGINT)) AS BIGINT) AS total_volume,
       round((CAST(sum(CAST(round(price * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0)
             / count(*), 6) AS avg_price
FROM wins
GROUP BY symbol, w_start
"""


@register("sliding_window_agg", _SLIDING_ORACLE, tags=("ST9",))
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9: 5-minute windows sliding every 1 minute over the tick
    stream — Spark's native sliding ``F.window`` replicates each row
    into its 5 covering windows before one hash-agg (the oracle builds
    the same 5 windows with a range join). Means use integer-scaled
    sums for order-independent floats. Works identically under
    ``readStream`` with a watermark; stated here in its deterministic
    batch form."""
    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    t = ticks_from_events(spark, sf_dir)
    w = F.window("timestamp", "5 minutes", "1 minute")
    agg = t.groupBy("symbol", w).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(F.round("volume", 0).cast("long")).alias("total_volume"),
        F.round(
            (F.sum(F.round(F.col("price") * 1e6, 0).cast("long")) / 1e6) / F.count(F.lit(1)),
            6,
        ).alias("avg_price"),
    )
    return agg.select(
        "symbol",
        F.date_format("window.start", TS_FMT_SPARK).alias("window_start"),
        F.date_format("window.end", TS_FMT_SPARK).alias("window_end"),
        "n_ticks",
        "total_volume",
        "avg_price",
    )


# ---------------------------------------------------------------------------
# ST10: stream-stream interval join
# ---------------------------------------------------------------------------

#: Anchor events: the sparse high-volume trades (~0.2% of ticks).
BIG_VOLUME = 30_000

_INTERVAL_JOIN_ORACLE = f"""
WITH {TICKS_CTE},
anchors AS (
  SELECT symbol, timestamp AS anchor_ts, tick_id AS anchor_id, price AS anchor_price
  FROM ticks WHERE volume >= {BIG_VOLUME}
)
SELECT t.symbol,
       a.anchor_id,
       t.tick_id,
       strftime(a.anchor_ts, '{TS_FMT_DUCK}') AS anchor_ts,
       strftime(t.timestamp, '{TS_FMT_DUCK}') AS tick_ts,
       round(t.price - a.anchor_price, 4) AS drift
FROM ticks t
JOIN anchors a
  ON t.symbol = a.symbol
 AND t.timestamp > a.anchor_ts
 AND t.timestamp <= a.anchor_ts + INTERVAL 3600 SECOND
"""


@register("stream_interval_join_replay", _INTERVAL_JOIN_ORACLE, tags=("ST10", "J5"))
def stream_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST10: stream-stream inner interval join — every tick within one
    hour AFTER a same-symbol high-volume anchor trade, run as a
    real watermarked stream-stream join (both sides streaming,
    availableNow replay). The interval bound is what lets Spark evict
    join state once the watermark passes; the oracle states the same
    semantics as a batch range join. Multi-batch state carry is pinned
    by tests/test_streaming.py."""
    import uuid as _uuid

    ticks = read_ticks_stream(spark, sf_dir)
    anchors = read_ticks_stream(spark, sf_dir).filter(F.col("volume") >= BIG_VOLUME)
    joined = interval_join_after_anchor(ticks, anchors, window_seconds=3600)
    result = run_available_now(
        joined, f"corpus_stream_ivjoin_{_uuid.uuid4().hex[:8]}"
    )
    return result.select(
        "symbol",
        "anchor_id",
        "tick_id",
        F.date_format("anchor_ts", TS_FMT_SPARK).alias("anchor_ts"),
        F.date_format("timestamp", TS_FMT_SPARK).alias("tick_ts"),
        F.round(F.col("price") - F.col("anchor_price"), 4).alias("drift"),
    )


# ---------------------------------------------------------------------------
# ST9: session windows (gap-based sessionization)
# ---------------------------------------------------------------------------

_SESSION_ORACLE = f"""
WITH {CANDLES_CTE},
t AS (
  SELECT symbol, timestamp, volume,
         CASE WHEN lag(timestamp) OVER w IS NULL
                OR timestamp - lag(timestamp) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM candles
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp)
),
s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY symbol ORDER BY timestamp
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
)
SELECT symbol,
       strftime(min(timestamp), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(timestamp) + INTERVAL 30 MINUTE, '{TS_FMT_DUCK}') AS session_end,
       count(*) AS bars,
       CAST(sum(CAST(round(volume) AS BIGINT)) AS BIGINT) AS total_volume
FROM s
GROUP BY symbol, session_id
"""


@register("session_window_agg", _SESSION_ORACLE, tags=("ST9",))
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9: gap-based session windows (30 min inactivity closes a
    session) via Spark's native session_window — state merges
    adjacent windows; the oracle sessionizes relationally (lag-gap ->
    cumulative session ids). Session end = last event + gap in both."""
    from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)
    sess = candles.groupBy(
        "symbol", F.session_window("timestamp", "30 minutes")
    ).agg(
        F.count(F.lit(1)).alias("bars"),
        F.sum(F.round("volume", 0).cast("long")).alias("total_volume"),
    )
    return sess.select(
        "symbol",
        F.date_format("session_window.start", TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_window.end", TS_FMT_SPARK).alias("session_end"),
        "bars",
        "total_volume",
    )


# ---------------------------------------------------------------------------
# ST+: stream-static (broadcast dimension) enrichment join
# ---------------------------------------------------------------------------

_STREAM_STATIC_ORACLE = """
WITH t AS (
  SELECT event_type AS symbol,
         CASE WHEN event_id % 10 = 0 THEN 0.0 ELSE round(abs(value) * 100, 0) END AS volume
  FROM events
),
dim AS (
  SELECT DISTINCT event_type AS symbol,
         CASE WHEN event_type IN ('view', 'click') THEN 'browse' ELSE 'action' END AS family
  FROM events
)
SELECT d.family,
       count(*) AS n_ticks,
       CAST(sum(CAST(round(t.volume) AS BIGINT)) AS BIGINT) AS total_volume
FROM t JOIN dim d ON d.symbol = t.symbol
GROUP BY d.family
"""


@register("stream_static_enrich_replay", _STREAM_STATIC_ORACLE, tags=("ST2", "J4"))
def stream_static_enrich_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the unbounded tick stream joins a
    BATCH dimension table (symbol -> family) — Spark's stream-static
    join needs no watermark and no stream-side state because the
    static side is (re)broadcast per micro-batch; this is how slowly
    changing reference data (symbol metadata, nation/region dims)
    reaches a 100 TB/day stream without a stateful join. Replayed
    with availableNow and aggregated per family against a relational
    oracle."""
    from auto_trade_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select(F.col("event_type").alias("symbol"))
        .distinct()
        .withColumn(
            "family",
            F.when(F.col("symbol").isin("view", "click"), "browse").otherwise("action"),
        )
    )
    ticks = read_ticks_stream(spark, sf_dir)
    enriched = ticks.join(F.broadcast(dim), "symbol")
    out = run_available_now(
        enriched, f"corpus_stream_static_{uuid.uuid4().hex[:8]}"
    )
    return out.groupBy("family").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(F.round("volume", 0).cast("long")).alias("total_volume"),
    )


# ---------------------------------------------------------------------------
# ST2 chained: streaming candle cascade (1m -> 5m in one query)
# ---------------------------------------------------------------------------

_STREAM_CASCADE_ORACLE = f"""
WITH {TICKS_CTE},
cb AS (
  SELECT symbol,
         to_timestamp(300 * (CAST(floor(epoch(timestamp)) AS BIGINT) // 300)) AS bucket,
         price, volume, timestamp, tick_id,
         row_number() OVER (PARTITION BY symbol, 300 * (CAST(floor(epoch(timestamp)) AS BIGINT) // 300)
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, 300 * (CAST(floor(epoch(timestamp)) AS BIGINT) // 300)
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM ticks
),
c5 AS (
  SELECT symbol, bucket,
         max(CASE WHEN ra = 1 THEN price END) AS open,
         max(price) AS high,
         min(price) AS low,
         max(CASE WHEN rd = 1 THEN price END) AS close,
         sum(volume) AS volume,
         count(*) AS number_of_trades
  FROM cb GROUP BY symbol, bucket
),
wm AS (SELECT max(timestamp) - INTERVAL 10 MINUTE AS w FROM ticks)
SELECT symbol,
       strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
       open, high, low, close,
       round(volume, 4) AS volume,
       number_of_trades
FROM c5, wm
WHERE bucket + INTERVAL 300 SECOND <= wm.w
"""


@register("streaming_cascade_replay", _STREAM_CASCADE_ORACLE, tags=("ST2", "ST8"))
def streaming_cascade_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 chained: the 1m -> 5m candle cascade computed as TWO
    stateful window aggregations in ONE streaming query (Spark 3.4+
    chained time-window aggregation; the watermark propagates through
    both operators). Cascaded first/last-by-window-start opens and
    closes compose to the direct 5-minute candle, so the oracle
    states the end result relationally, restricted to the windows the
    final watermark closed — the same emission contract as the
    single-stage replay, now certified THROUGH the chain."""
    from auto_trade_data_pipeline_spark.streaming import streaming_candles_cascade

    stream = streaming_candles_cascade(
        read_ticks_stream(spark, sf_dir), base_seconds=60, factor=5
    )
    result = run_available_now(stream, f"corpus_stream_cascade_{uuid.uuid4().hex[:8]}")
    return result.select(
        "symbol",
        F.date_format("timestamp", TS_FMT_SPARK).alias("bucket_ts"),
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
        "number_of_trades",
    )


# ---------------------------------------------------------------------------
# ST10b: stream-stream LEFT OUTER interval join (watermark-gated nulls)
# ---------------------------------------------------------------------------

_OUTER_JOIN_ORACLE = f"""
WITH {TICKS_CTE},
anchors AS (
  SELECT symbol, timestamp AS anchor_ts, tick_id AS anchor_id, price AS anchor_price
  FROM ticks WHERE volume >= {BIG_VOLUME}
),
wm AS (
  SELECT least((SELECT max(timestamp) FROM ticks),
               (SELECT max(anchor_ts) FROM anchors)) - INTERVAL 10 MINUTE AS w
),
matched AS (
  SELECT a.symbol, a.anchor_id, t.tick_id,
         strftime(a.anchor_ts, '{TS_FMT_DUCK}') AS anchor_ts,
         strftime(t.timestamp, '{TS_FMT_DUCK}') AS tick_ts,
         round(t.price - a.anchor_price, 4) AS drift
  FROM anchors a
  JOIN ticks t
    ON t.symbol = a.symbol
   AND t.timestamp > a.anchor_ts
   AND t.timestamp <= a.anchor_ts + INTERVAL 3600 SECOND
),
orphans AS (
  SELECT a.symbol, a.anchor_id, CAST(NULL AS BIGINT) AS tick_id,
         strftime(a.anchor_ts, '{TS_FMT_DUCK}') AS anchor_ts,
         CAST(NULL AS VARCHAR) AS tick_ts,
         CAST(NULL AS DOUBLE) AS drift
  FROM anchors a, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM ticks t
          WHERE t.symbol = a.symbol
            AND t.timestamp > a.anchor_ts
            AND t.timestamp <= a.anchor_ts + INTERVAL 3600 SECOND)
    AND a.anchor_ts + INTERVAL 3600 SECOND < wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM orphans
"""


@register("stream_outer_join_replay", _OUTER_JOIN_ORACLE, tags=("ST10", "J5"))
def stream_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST10b: LEFT OUTER stream-stream interval join — the
    null-emission contract on top of the inner variant: a high-volume
    anchor with NO same-symbol tick in the following hour (an orphan:
    the last burst before a session gap) emits exactly once with null
    tick columns, and ONLY after the global watermark (min over both
    sides of max event time minus the 10-minute delay) passes its
    interval end — Spark's proof that no late match can still
    arrive. Anchors whose interval the watermark has not yet closed
    stay in state and are withheld; the oracle states both the
    matches and that flush rule relationally
    (streaming/joins.py:interval_left_outer_orphans)."""
    import uuid as _uuid

    anchors = read_ticks_stream(spark, sf_dir).filter(F.col("volume") >= BIG_VOLUME)
    ticks = read_ticks_stream(spark, sf_dir)
    joined = interval_left_outer_orphans(anchors, ticks, window_seconds=3600)
    result = run_available_now(
        joined, f"corpus_stream_oivjoin_{_uuid.uuid4().hex[:8]}"
    )
    return result.select(
        F.col("a_symbol").alias("symbol"),
        "anchor_id",
        "tick_id",
        F.date_format("anchor_ts", TS_FMT_SPARK).alias("anchor_ts"),
        F.date_format("timestamp", TS_FMT_SPARK).alias("tick_ts"),
        F.round(F.col("price") - F.col("anchor_price"), 4).alias("drift"),
    )


# ---------------------------------------------------------------------------
# ST+: score an unbounded document stream with an in-engine-trained model
# ---------------------------------------------------------------------------


def _stream_cls_oracle() -> str:
    from auto_trade_data_pipeline_spark.corpus.clean import CLS_BUCKETS, CLS_ITERS, _cls_train_ctes
    from auto_trade_data_pipeline_spark.corpus.ext import _DOCS_CTE, _duck_hash

    tok_w = (
        f"CAST(round(w.w_arr[({_duck_hash('tok', 'feat')} % {CLS_BUCKETS}) + 1] * 1000000) AS BIGINT)"
    )
    return f"""
WITH {_DOCS_CTE},
{_cls_train_ctes()},
wtab AS (SELECT list(w ORDER BY bucket) AS w_arr FROM cls_w{CLS_ITERS}),
sc AS (
  SELECT t.doc_id,
         CASE WHEN len(t.ts) > 0 THEN
           (CAST(list_reduce(list_transform(t.ts, tok -> {tok_w}), (a, x) -> a + x) AS DOUBLE)
            / 1000000.0) / len(t.ts) + w.w_arr[{CLS_BUCKETS + 1}]
         ELSE 0.0 END AS z
  FROM toks t, wtab w
)
SELECT doc_id, round(z, 6) AS margin,
       round(0.5 + (z / 2) / (1 + abs(z)), 6) AS score
FROM sc
"""


@register("streaming_classifier_scores_replay", _stream_cls_oracle(), tags=("ST2", "EXT3"))
def streaming_classifier_scores_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming model inference: the GD-trained quality classifier
    (corpus/clean.py:quality_classifier_gd) scores an unbounded
    document stream. The model is trained in BATCH, collapsed to one
    dimension-sized weight array, and joined stream-static on a
    constant key — rebroadcast per micro-batch, zero stream-side
    state, fully stateless plan (the per-token margin is a sequential
    integer-scaled fold, so streaming scores are bit-identical to the
    oracle's). This is the standard shape for model-in-the-loop
    filtering of a 100 TB/day ingest: retraining swaps the static
    side; the stream never repartitions."""
    from auto_trade_data_pipeline_spark.corpus.clean import CLS_BUCKETS, CLS_ITERS, CLS_LR
    from auto_trade_data_pipeline_spark.operators import classifier as CF
    from auto_trade_data_pipeline_spark.operators import text as TX
    from auto_trade_data_pipeline_spark.operators.text import hash64
    from auto_trade_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", TX.tokens(F.col("text")).alias("__ts"))
    # train_logistic_gd's caller contract: persist feats — every
    # eager training iteration reads it twice (margins + gradient).
    feats = scoped_persist(CF.hashed_features(base, "__ts", "doc_id", n_buckets=CLS_BUCKETS))
    labels = docs.select(
        "doc_id", F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y")
    )
    w = CF.train_logistic_gd(
        feats, labels, "doc_id", n_buckets=CLS_BUCKETS, iters=CLS_ITERS, lr=CLS_LR
    )
    wrow = F.broadcast(
        w.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "w"))), lambda s: s["w"]
            ).alias("w_arr")
        ).withColumn("__k", F.lit(1))
    )

    stream = read_table_stream(
        spark,
        sf_dir,
        "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    toks = TX.tokens(F.col("text"))
    joined = stream.withColumn("__k", F.lit(1)).join(wrow, "__k")
    term = lambda t: F.round(  # noqa: E731
        F.element_at(
            F.col("w_arr"),
            (F.pmod(hash64(t, salt="feat"), F.lit(CLS_BUCKETS)) + 1).cast("int"),
        )
        * 1000000,
        0,
    ).cast("long")
    s = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + term(t))
    n = F.size(toks)
    z = F.when(
        n > 0,
        (s / F.lit(1000000.0)) / n + F.element_at(F.col("w_arr"), CLS_BUCKETS + 1),
    ).otherwise(0.0)
    scored = joined.select(
        "doc_id",
        F.round(z, 6).alias("margin"),
        F.round(F.lit(0.5) + (z / 2) / (1 + F.abs(z)), 6).alias("score"),
    )
    return run_available_now(
        scored, f"corpus_stream_cls_{uuid.uuid4().hex[:8]}"
    ).select("doc_id", "margin", "score")


# ---------------------------------------------------------------------------
# ST4+: streaming KMV distinct sketch (bounded-state stateful operator)
# ---------------------------------------------------------------------------

_STREAM_KMV_ORACLE = """
WITH h AS (
  SELECT DISTINCT event_type AS group_key,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM events
),
rk AS (
  SELECT group_key, hv,
         row_number() OVER (PARTITION BY group_key ORDER BY hv) AS r,
         count(*) OVER (PARTITION BY group_key) AS n
  FROM h
)
SELECT group_key,
       CAST(least(64, max(n)) AS INT) AS sketch_n,
       max(CASE WHEN r = 64 THEN hv END) AS kth_hv,
       round(CASE WHEN max(n) < 64 THEN CAST(least(64, max(n)) AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976.0 / max(CASE WHEN r = 64 THEN hv END) END,
             4) AS est_distinct
FROM rk GROUP BY group_key
"""


@register("streaming_kmv_replay", _STREAM_KMV_ORACLE, tags=("ST4", "A9"))
def streaming_kmv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count sketch (streaming/sketch.py): keyed
    state holds at most k=64 hashes per event type — bounded memory
    forever, no watermark needed — and every micro-batch merges its
    hashes into the bottom-k. Because bottom-k merge is exact, the
    REPLAYED streaming state is bit-identical to the batch sketch, so
    this stateful streaming operator carries a full SQL oracle (the
    batch KMV formula). `updates` picks each group's latest row from
    the update-mode sink."""
    from auto_trade_data_pipeline_spark.streaming.sketch import (
        kmv_estimate_cols,
        streaming_kmv_sketch,
    )
    from pyspark.sql.window import Window as W

    stream = read_table_stream(
        spark, sf_dir, "events", "event_id long, user_id long, event_type string"
    )
    vals = stream.select("event_type", F.col("user_id").cast("string").alias("v"))
    sk = streaming_kmv_sketch(vals, "event_type", k=64)
    out = run_available_now(
        sk, f"corpus_stream_kmv_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    latest = (
        out.withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("group_key").orderBy(F.col("updates").desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn", "updates")
    )
    return kmv_estimate_cols(latest, k=64).select(
        "group_key", "sketch_n", "kth_hv", "est_distinct"
    )


# ---------------------------------------------------------------------------
# ST4+: streaming KMV quantile sketch (bounded-state quantile estimation)
# ---------------------------------------------------------------------------


def _stream_kmvq_oracle() -> str:
    from auto_trade_data_pipeline_spark.corpus.events_analytics import (
        _KMVQ_HV,
        _kmvq_idx,
        KMVQ_K,
        KMVQ_QS,
    )

    est_cols = ",\n".join(
        f"       sv[CAST({_kmvq_idx('s.sample_n', q)} AS INTEGER)] AS est_p{q}"
        for q in KMVQ_QS
    )
    return f"""
WITH b AS (
  SELECT event_type AS group_key, CAST(round(value * 100) AS BIGINT) AS cents,
         {_KMVQ_HV} AS hv
  FROM events
),
n AS (SELECT group_key, CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY group_key),
rk AS (
  SELECT group_key, cents,
         row_number() OVER (PARTITION BY group_key ORDER BY hv, cents) AS r
  FROM b
),
samp AS (
  SELECT group_key, list(cents ORDER BY cents) AS sv,
         CAST(count(*) AS BIGINT) AS sample_n
  FROM rk WHERE r <= {KMVQ_K} GROUP BY group_key
)
SELECT s.group_key, n.n_rows, s.sample_n,
{est_cols}
FROM samp s JOIN n ON n.group_key = s.group_key
"""


@register("streaming_quantile_replay", _stream_kmvq_oracle(), tags=("ST4", "A5"))
def streaming_quantile_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile estimation in bounded memory
    (streaming/sketch.py:streaming_kmv_quantile): keyed state holds
    the bottom-k=128 (hash, cents) row sample per event type —
    deterministic uniform sampling with NO reservoir order-dependence
    — and every micro-batch merges its rows into the sample. Bottom-k
    merge is exact, so the replayed streaming sample is bit-identical
    to the batch `kmv_quantile_sketch` sample and the P50/P90/P99
    estimates (batch order-statistic rule, applied in-state) carry
    the batch SQL oracle. State is k pairs + one counter per group
    forever; no watermark."""
    from auto_trade_data_pipeline_spark.corpus.events_analytics import KMVQ_K, KMVQ_QS
    from auto_trade_data_pipeline_spark.operators.text import hash64
    from auto_trade_data_pipeline_spark.streaming.sketch import streaming_kmv_quantile
    from pyspark.sql.window import Window as W

    stream = read_table_stream(
        spark, sf_dir, "events", "event_id long, event_type string, value double"
    )
    rows = stream.select(
        F.col("event_type").alias("group_key"),
        hash64(F.col("event_id").cast("string"), salt="kmvq").alias("hv"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    sk = streaming_kmv_quantile(rows, k=KMVQ_K, qs=KMVQ_QS)
    out = run_available_now(
        sk, f"corpus_stream_kmvq_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    return (
        out.withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("group_key").orderBy(F.col("updates").desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "group_key",
            "n_rows",
            "sample_n",
            *[f"est_p{q}" for q in KMVQ_QS],
        )
    )


# ---------------------------------------------------------------------------
# ST4+: streaming Count-Min sketch (bounded-state frequency estimation)
# ---------------------------------------------------------------------------


def _stream_cms_oracle() -> str:
    # The replayed streaming sketch is bit-identical to the batch CMS
    # (cellwise addition is exact under any batching), so the batch
    # CMS oracle IS the streaming oracle.
    from auto_trade_data_pipeline_spark.corpus.ext import _cms_oracle

    return _cms_oracle()


@register("streaming_cms_replay", _stream_cms_oracle(), tags=("ST4", "EXT3"))
def streaming_cms_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequency sketch (streaming/sketch.py
    :streaming_cms_sketch): the document token stream is bucketed
    scan-side into (r, bucket) cells (same salted-hash derivation as
    the batch sketch) and a stateful operator keyed by sketch row
    accumulates the counters — bounded state (width cells per row)
    forever, no watermark. CMS merge is exact cellwise addition, so
    the REPLAYED streaming state is bit-identical to the batch
    sketch; probing it with the exact top-30 tokens therefore
    hash-matches the batch CMS oracle end-to-end — a custom stateful
    streaming operator with a full SQL oracle."""
    from auto_trade_data_pipeline_spark.corpus.ext import CMS_DEPTH, CMS_TOPN, CMS_WIDTH
    from auto_trade_data_pipeline_spark.operators import text as TX
    from auto_trade_data_pipeline_spark.operators.sketch import (
        cms_bucket_array,
        cms_lookup,
    )
    from auto_trade_data_pipeline_spark.sources import load_table
    from auto_trade_data_pipeline_spark.streaming.sketch import streaming_cms_sketch
    from pyspark.sql.window import Window as W

    stream = read_table_stream(
        spark,
        sf_dir,
        "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pairs = (
        stream.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .select(F.explode(cms_bucket_array("tok", CMS_DEPTH, CMS_WIDTH)).alias("rb"))
        .select(F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    )
    sk = streaming_cms_sketch(pairs)
    out = run_available_now(
        sk, f"corpus_stream_cms_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    latest = (
        out.withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("r", "bucket").orderBy(F.col("updates").desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("r", "bucket", "c")
    )
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    probes = (
        tk.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "tok")
        .limit(CMS_TOPN)
    )
    est = cms_lookup(latest, probes, "tok", depth=CMS_DEPTH, width=CMS_WIDTH)
    return est.select(
        F.col("tok").alias("token"),
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# ST+: streaming CEP pattern matching (bounded tail-buffer state)
# ---------------------------------------------------------------------------


def _stream_pattern_oracle() -> str:
    """The batch pattern oracle restricted to FINALIZED matches (two
    later ticks exist) — exactly the streaming emission contract."""
    from auto_trade_data_pipeline_spark.corpus.trade import _PATTERN_ORACLE

    return _PATTERN_ORACLE.replace(
        "QUALIFY three_up",
        "QUALIFY three_up AND lead(tick_id, 2) OVER w IS NOT NULL",
    )


@register("streaming_pattern_replay", _stream_pattern_oracle(), tags=("ST4", "W8"))
def streaming_pattern_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP (streaming/patterns.py): the three-upticks +
    volume-spike-confirmation pattern evaluated in bounded keyed
    state (last 25 ticks per symbol + a finalized-through watermark);
    a match emits exactly once, in the micro-batch where its second
    confirming tick arrives. That emission contract is itself
    relational — the oracle is the batch pattern query QUALIFYed to
    matches whose confirmation window exists — so a custom stateful
    streaming CEP operator carries a full SQL oracle. Append output
    mode: no reconciliation window needed downstream."""
    from auto_trade_data_pipeline_spark.streaming.candles import read_ticks_stream
    from auto_trade_data_pipeline_spark.streaming.patterns import (
        streaming_pattern_matches,
    )

    ticks = read_ticks_stream(spark, sf_dir)
    out = run_available_now(
        streaming_pattern_matches(ticks),
        f"corpus_stream_cep_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    return out.select(
        "symbol",
        "match_ts",
        "tick_id",
        F.round("price", 4).alias("price"),
        "volume_confirmed",
    )


# ---------------------------------------------------------------------------
# Streaming volume bars (stateful activity-clock sampling)
# ---------------------------------------------------------------------------

def _stream_vbars_oracle() -> str:
    from auto_trade_data_pipeline_spark.corpus.labeling import (
        VOLUME_BAR_V,
        _MEASURED_CTE,
    )

    return f"""
WITH {_MEASURED_CTE},
b AS (
  SELECT *, prev_vol // {VOLUME_BAR_V} AS bar_id,
         row_number() OVER (PARTITION BY symbol, prev_vol // {VOLUME_BAR_V}
                            ORDER BY timestamp, tick_id) AS ra,
         row_number() OVER (PARTITION BY symbol, prev_vol // {VOLUME_BAR_V}
                            ORDER BY timestamp DESC, tick_id DESC) AS rd
  FROM runs
),
agg AS (
  SELECT symbol, CAST(bar_id AS BIGINT) AS bar_id,
         strftime(min(timestamp), '{TS_FMT_DUCK}') AS open_ts,
         strftime(max(timestamp), '{TS_FMT_DUCK}') AS close_ts,
         max(CASE WHEN ra = 1 THEN price END) AS open,
         max(price) AS high,
         min(price) AS low,
         max(CASE WHEN rd = 1 THEN price END) AS close,
         CAST(sum(vol_i) AS BIGINT) AS volume,
         CAST(count(*) AS BIGINT) AS n_ticks
  FROM b GROUP BY symbol, bar_id
)
SELECT * FROM agg QUALIFY bar_id < max(bar_id) OVER (PARTITION BY symbol)
"""


@register("streaming_volume_bars_replay", _stream_vbars_oracle(), tags=("ST4", "A1", "W-"))
def streaming_volume_bars_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming volume bars (streaming/bars.py): per-symbol keyed
    state carries the running activity total plus the one OPEN bar —
    O(1) state forever, no watermark — and each bar is emitted
    EXACTLY ONCE, in the micro-batch where the next bar opens. The
    emission contract is relational (a bar has closed iff a later bar
    exists), so the oracle is the batch volume-bar query QUALIFYed to
    bars that are not each symbol's last — a custom stateful
    streaming operator with a full SQL oracle. Multi-batch split
    parity is pinned in tests/test_streaming_bars.py."""
    from auto_trade_data_pipeline_spark.corpus.labeling import VOLUME_BAR_V
    from auto_trade_data_pipeline_spark.streaming.bars import streaming_volume_bars

    ticks = read_ticks_stream(spark, sf_dir)
    measured = ticks.select(
        "symbol",
        "timestamp",
        "tick_id",
        "price",
        F.round("volume", 0).cast("long").alias("vol_i"),
    )
    bars = streaming_volume_bars(measured, VOLUME_BAR_V)
    result = run_available_now(
        bars, f"corpus_stream_vbars_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    return result.select(
        "symbol",
        "bar_id",
        "open_ts",
        "close_ts",
        "open",
        "high",
        "low",
        "close",
        "volume",
        "n_ticks",
    )


# ---------------------------------------------------------------------------
# ST+: streaming distribution-drift monitor (stateful histogram counters)
# ---------------------------------------------------------------------------


def _stream_drift_oracle() -> str:
    # Streaming histogram accumulation is exact cellwise counting, so
    # the replayed counters equal the batch counts and the batch drift
    # oracle IS the streaming oracle.
    from auto_trade_data_pipeline_spark.corpus.events_analytics import _DRIFT_ORACLE

    return _DRIFT_ORACLE


@register("streaming_drift_replay", _stream_drift_oracle(), tags=("ST2", "A5", "EXT3"))
def streaming_drift_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-on data-quality drift monitoring as a STREAM: events are
    binned scan-side against broadcast baseline bounds (a stream-static
    join — the production shape where bounds come from yesterday's
    snapshot), and an update-mode streaming aggregation keeps the
    per-(event_type, bin) baseline/current counters as bounded keyed
    state (|types| x bins cells forever, no watermark). Counter
    updates are monotone, so each key's final value is the max over
    its emitted update rows; the replayed counters are bit-identical
    to the batch histogram and the whole chi-square /
    total-variation report reuses the batch drift oracle — a stateful
    streaming pipeline with a full SQL oracle."""
    from auto_trade_data_pipeline_spark.corpus.events_analytics import (
        drift_binned,
        drift_bounds,
        drift_report_from_counts,
    )
    from auto_trade_data_pipeline_spark.sources import load_table

    batch_ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    bounds = drift_bounds(batch_ev)
    stream = read_table_stream(
        spark,
        sf_dir,
        "events",
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    ).select("event_type", F.col("ts").cast("timestamp").alias("ts"), "value")
    binned = drift_binned(stream, bounds)
    cnts = binned.groupBy("event_type", "bin").agg(
        F.sum("is_base").alias("cb"), F.sum(1 - F.col("is_base")).alias("cc")
    )
    out = run_available_now(
        cnts, f"corpus_stream_drift_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    final = out.groupBy("event_type", "bin").agg(
        F.max("cb").alias("cb"), F.max("cc").alias("cc")
    )
    # The type dimension comes from the batch lineage (one
    # dimension-sized distinct) — the memory-sink table can't
    # self-join for the grid.
    return drift_report_from_counts(
        spark, final, types=batch_ev.select("event_type").distinct()
    )


# ---------------------------------------------------------------------------
# ST9+: DYNAMIC-gap session windows (per-event gap expression)
# ---------------------------------------------------------------------------

_DYN_GAP_VOL = 500  # integer volume units; >= extends the session

_DYN_SESSION_ORACLE = f"""
WITH {CANDLES_CTE},
g AS (
  SELECT symbol, timestamp, volume,
         CASE WHEN CAST(round(volume) AS BIGINT) >= {_DYN_GAP_VOL}
              THEN INTERVAL 45 MINUTE ELSE INTERVAL 15 MINUTE END AS gap
  FROM candles
),
t AS (
  SELECT symbol, timestamp, volume, gap,
         CASE WHEN max(timestamp + gap) OVER (PARTITION BY symbol ORDER BY timestamp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR timestamp > max(timestamp + gap)
                     OVER (PARTITION BY symbol ORDER BY timestamp
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_session
  FROM g
),
s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY symbol ORDER BY timestamp
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
)
SELECT symbol,
       strftime(min(timestamp), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(timestamp + gap), '{TS_FMT_DUCK}') AS session_end,
       count(*) AS bars,
       CAST(sum(CAST(round(volume) AS BIGINT)) AS BIGINT) AS total_volume
FROM s
GROUP BY symbol, session_id
"""


@register("dynamic_session_window_agg", _DYN_SESSION_ORACLE, tags=("ST9",))
def dynamic_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9+: session windows with a PER-EVENT gap expression — a
    heavy bar (volume >= {v}) holds its session open for 45 minutes,
    a quiet one only 15 — Spark's dynamic-gap session_window
    (gapDuration as a Column). The oracle replays the merge rule
    relationally: a new session starts when the event lands STRICTLY
    after the running max of (prior ts + prior gap) — an event at
    exactly the session end merges (Spark's inclusive-merge
    boundary); session end is
    the max extended end. The sibling of the fixed-gap
    `session_window_agg`.""".replace("{v}", str(_DYN_GAP_VOL))
    from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
    from auto_trade_data_pipeline_spark.sources import ticks_from_events

    candles = aggregate_candles(ticks_from_events(spark, sf_dir), 1)
    gap = F.when(
        F.round("volume", 0).cast("long") >= _DYN_GAP_VOL, F.lit("45 minutes")
    ).otherwise(F.lit("15 minutes"))
    sess = candles.groupBy("symbol", F.session_window("timestamp", gap)).agg(
        F.count(F.lit(1)).alias("bars"),
        F.sum(F.round("volume", 0).cast("long")).alias("total_volume"),
    )
    return sess.select(
        "symbol",
        F.date_format("session_window.start", TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_window.end", TS_FMT_SPARK).alias("session_end"),
        "bars",
        "total_volume",
    )


# ---------------------------------------------------------------------------
# ST9 streaming: session windows under a watermark (append-mode replay)
# ---------------------------------------------------------------------------

_STREAM_SESSION_ORACLE = f"""
WITH {TICKS_CTE},
wm AS (SELECT max(timestamp) - INTERVAL 10 MINUTE AS w FROM ticks),
t AS (
  SELECT symbol, timestamp, volume,
         CASE WHEN lag(timestamp) OVER w IS NULL
                OR timestamp - lag(timestamp) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY timestamp, tick_id)
),
s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY symbol ORDER BY timestamp
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
),
g AS (
  SELECT symbol,
         min(timestamp) AS session_start,
         max(timestamp) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_ticks,
         CAST(sum(CAST(round(volume) AS BIGINT)) AS BIGINT) AS total_volume
  FROM s GROUP BY symbol, session_id
)
SELECT symbol,
       strftime(session_start, '{TS_FMT_DUCK}') AS session_start,
       strftime(session_end, '{TS_FMT_DUCK}') AS session_end,
       n_ticks, total_volume
FROM g, wm WHERE session_end <= wm.w
"""


@register("streaming_session_replay", _STREAM_SESSION_ORACLE, tags=("ST9", "ST8"))
def streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9 as a REAL stream: watermarked session windows over the
    tick stream, drained with availableNow in APPEND mode — the
    stateful MERGING-window operator (sessions coalesce as
    late-but-in-watermark events bridge gaps) emits each session
    exactly once, when the watermark passes its end. The oracle
    states that contract relationally: batch lag-gap sessionization
    restricted to sessions whose end (last tick + 30 min gap) the
    final watermark (max event time - 10 min) has passed."""
    ticks = read_ticks_stream(spark, sf_dir).withWatermark("timestamp", "10 minutes")
    sess = ticks.groupBy("symbol", F.session_window("timestamp", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(F.round("volume", 0).cast("long")).alias("total_volume"),
    )
    result = run_available_now(sess, f"corpus_stream_sess_{uuid.uuid4().hex[:8]}")
    return result.select(
        "symbol",
        F.date_format("session_window.start", TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_window.end", TS_FMT_SPARK).alias("session_end"),
        "n_ticks",
        "total_volume",
    )


_STREAM_DYN_SESSION_ORACLE = f"""
WITH {TICKS_CTE},
wm AS (SELECT max(timestamp) - INTERVAL 10 MINUTE AS w FROM ticks),
g0 AS (
  SELECT symbol, timestamp, tick_id, volume,
         CASE WHEN CAST(round(volume) AS BIGINT) >= {_DYN_GAP_VOL}
              THEN INTERVAL 45 MINUTE ELSE INTERVAL 15 MINUTE END AS gap
  FROM ticks
),
t AS (
  SELECT symbol, timestamp, tick_id, volume, gap,
         CASE WHEN max(timestamp + gap) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR timestamp > max(timestamp + gap)
                     OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_session
  FROM g0
),
s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY symbol ORDER BY timestamp, tick_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
),
g AS (
  SELECT symbol,
         min(timestamp) AS session_start,
         max(timestamp + gap) AS session_end,
         count(*) AS n_ticks,
         CAST(sum(CAST(round(volume) AS BIGINT)) AS BIGINT) AS total_volume
  FROM s GROUP BY symbol, session_id
)
SELECT symbol,
       strftime(session_start, '{TS_FMT_DUCK}') AS session_start,
       strftime(session_end, '{TS_FMT_DUCK}') AS session_end,
       n_ticks, total_volume
FROM g, wm WHERE session_end <= wm.w
"""


@register("streaming_dynamic_session_replay", _STREAM_DYN_SESSION_ORACLE, tags=("ST9", "ST8"))
def streaming_dynamic_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dynamic-gap session window (per-event gapDuration Column —
    heavy ticks hold sessions open 45 minutes, quiet ones 15) run as
    a watermarked APPEND-mode stream: merging-window state with
    per-event expiry, each session emitted exactly once when the
    watermark passes its extended end. The oracle composes the two
    contracts already pinned separately: the strictly-after running
    max merge rule (dynamic_session_window_agg) and the
    watermark-closure filter (streaming_session_replay)."""
    ticks = read_ticks_stream(spark, sf_dir).withWatermark("timestamp", "10 minutes")
    gap = F.when(
        F.round("volume", 0).cast("long") >= _DYN_GAP_VOL, F.lit("45 minutes")
    ).otherwise(F.lit("15 minutes"))
    sess = ticks.groupBy("symbol", F.session_window("timestamp", gap)).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(F.round("volume", 0).cast("long")).alias("total_volume"),
    )
    result = run_available_now(sess, f"corpus_stream_dsess_{uuid.uuid4().hex[:8]}")
    return result.select(
        "symbol",
        F.date_format("session_window.start", TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_window.end", TS_FMT_SPARK).alias("session_end"),
        "n_ticks",
        "total_volume",
    )


# ---------------------------------------------------------------------------
# ST+ / S7+: streaming CDC apply replay (exactly-once tombstone sink)
# ---------------------------------------------------------------------------


def _stream_cdc_oracle() -> str:
    # The sink applies per-key last-change-wins with tombstones; over
    # a deterministic changelog the final snapshot equals the batch
    # CDC result, so the batch CDC oracle IS the streaming oracle.
    from auto_trade_data_pipeline_spark.corpus.relational import _CDC_ORACLE

    return _CDC_ORACLE


@register("streaming_cdc_apply_replay", _stream_cdc_oracle(), tags=("S7", "ST4"))
def streaming_cdc_apply_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once CDC SINK as an oracled streaming query: the
    deterministic orders changelog (every 5th order updated twice,
    every 15th terminally deleted — `cdc_apply_changelog`'s feed) is
    written as version-split parquet files, streamed one file per
    micro-batch, and applied to a snapshot table through
    streaming/sink.py:stream_cdc_writer (foreachBatch + batch commit
    markers + tombstone apply). The returned DataFrame is the FINAL
    on-disk snapshot; it must hash-match the one-shot batch CDC
    oracle — proving ordered incremental application converges to
    the batch result. State on disk is the snapshot itself; the
    changelog is applied version-batch by version-batch, exactly
    once."""
    import os
    import shutil

    from auto_trade_data_pipeline_spark.sources import load_table
    from auto_trade_data_pipeline_spark.streaming.sink import stream_cdc_writer

    orders = load_table(spark, sf_dir, "orders")
    snap = orders.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("price_e2"),
        F.lit("snap").alias("src"),
    )
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
        "cdc_replay",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(base, ignore_errors=True)
    feed = os.path.join(base, "feed")
    target = os.path.join(base, "table")
    # Seed the snapshot, then write the changelog as one file per
    # version so maxFilesPerTrigger=1 replays it in change order.
    snap.write.mode("overwrite").parquet(target)
    for v in (1, 2):
        chg_v = (
            orders.filter(F.col("o_orderkey") % 5 == 0)
            .select(
                "o_orderkey",
                F.lit(v).alias("v"),
                F.when((F.lit(v) == 2) & (F.col("o_orderkey") % 15 == 0), "D")
                .otherwise("U")
                .alias("op"),
                (F.expr("CAST(round(o_totalprice * 100) AS BIGINT)") + F.lit(v)).alias(
                    "price_e2"
                ),
                F.concat(F.lit("v"), F.lit(v).cast("string")).alias("src"),
            )
        )
        chg_v.coalesce(1).write.mode("overwrite").parquet(f"{base}/stage_v{v}")
        import glob as _glob

        os.makedirs(feed, exist_ok=True)
        for i, f in enumerate(sorted(_glob.glob(f"{base}/stage_v{v}/part-*.parquet"))):
            shutil.copy(f, os.path.join(feed, f"v{v}_{i}.parquet"))
    stream = (
        spark.readStream.format("parquet")
        .schema("o_orderkey long, v int, op string, price_e2 long, src string")
        .option("maxFilesPerTrigger", 1)
        .load(feed)
    )
    q = (
        stream.writeStream.foreachBatch(stream_cdc_writer(target, ["o_orderkey"], "v"))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from auto_trade_data_pipeline_spark.plan_audit import audit_streaming_query

    audit_streaming_query(q, "corpus_stream_cdc_apply")
    return spark.read.parquet(target).select("o_orderkey", "price_e2", "src")


# ---------------------------------------------------------------------------
# ST+: streaming A/B experiment counters (stateful per-user counting)
# ---------------------------------------------------------------------------


def _stream_ab_oracle() -> str:
    # Streaming per-user purchase counting is exact (monotone update-
    # mode counters; final value = max over update rows), so the
    # replayed counts equal the batch counts and the batch A/B oracle
    # IS the streaming oracle.
    from auto_trade_data_pipeline_spark.corpus.events_analytics import _AB_ORACLE

    return _AB_ORACLE


@register("streaming_ab_replay", _stream_ab_oracle(), tags=("ST2", "A4", "A6"))
def streaming_ab_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-on experimentation as a STREAM: per-user purchase
    counters accumulate as bounded keyed state (|users| cells, no
    watermark — the live-dashboard shape), each micro-batch emits
    updated counters in update mode, and the final counter per user is
    the monotone max over its update rows. The two-proportion z
    readout then reuses the BATCH A/B tail verbatim
    (events_analytics.ab_report_from_user_counts), and because
    streaming counting is exact the batch oracle is the streaming
    oracle — the same contract as the drift monitor."""
    from auto_trade_data_pipeline_spark.corpus.events_analytics import (
        ab_report_from_user_counts,
    )

    stream = read_table_stream(
        spark,
        sf_dir,
        "events",
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double",
    ).select("user_id", "event_type")
    cnts = stream.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        )
    )
    out = run_available_now(
        cnts, f"corpus_stream_ab_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    final = out.groupBy("user_id").agg(F.max("n_purchases").alias("n_purchases"))
    return ab_report_from_user_counts(final)


# ---------------------------------------------------------------------------
# ST+: streaming sequence packing (stateful fill carry per source)
# ---------------------------------------------------------------------------

def _stream_packing_oracle() -> str:
    # A document's bin assignment is final on arrival (the greedy fold
    # never revisits a closed bin), so the drained replay equals the
    # batch fold row for row and the batch packing oracle IS the
    # streaming oracle.
    from auto_trade_data_pipeline_spark.corpus.clean import _PACKING_ORACLE

    return _PACKING_ORACLE


@register("streaming_packing_replay", _stream_packing_oracle(), tags=("ST4", "EXT3"))
def streaming_packing_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window prep as a STREAM (streaming/packing.py): the
    doc-atomic greedy packing of ``sequence_packing`` (the same
    ``operators/scans.py:greedy_pack``) carried as
    O(1) keyed state per source (open bin id + fill) — the shape of a
    continuous pretraining-ingest pipeline, where documents pack into
    fixed-capacity windows as they arrive rather than in a nightly
    batch. Every document's assignment is emitted exactly once, in its
    arrival micro-batch (append mode, no watermark); multi-batch ==
    single-batch parity is pinned in tests/test_streaming_packing.py,
    and the DuckDB oracle is the batch packing SQL unchanged."""
    from auto_trade_data_pipeline_spark.corpus.clean import PACK_CAPACITY
    from auto_trade_data_pipeline_spark.operators import text as TX
    from auto_trade_data_pipeline_spark.streaming.packing import (
        streaming_sequence_packing,
    )

    stream = read_table_stream(
        spark,
        sf_dir,
        "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = stream.select(
        "source",
        "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    out = run_available_now(
        streaming_sequence_packing(docs, PACK_CAPACITY),
        f"corpus_stream_pack_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    return out.select("source", "doc_id", "n_tokens", "bin_id")


# ---------------------------------------------------------------------------
# ST+: streaming semantic decontamination (model-in-the-loop ingest)
# ---------------------------------------------------------------------------

def _stream_sem_contam_oracle() -> str:
    # Stateless stream-static scoring of vectors that each appear
    # exactly once: the drained replay equals the batch query, so the
    # batch oracle (which replays the quantizer training + probing in
    # SQL) is the streaming oracle.
    from auto_trade_data_pipeline_spark.corpus.ext import _sem_contam_oracle

    return _sem_contam_oracle()


@register("streaming_contamination_replay", _stream_sem_contam_oracle(), tags=("ST2", "EXT2", "EXT3"))
def streaming_contamination_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic train/test decontamination of a continuous ingest —
    the streaming twin of ``semantic_contamination`` and the vector
    sibling of ``streaming_classifier_scores_replay``'s
    model-in-the-loop shape: the IVF quantizer is trained in BATCH on
    the train split (the index never sees the benchmark), the eval
    probes are computed in batch (benchmark-sized), and the incoming
    TRAIN stream is scored statelessly — each vector's cell comes
    from a pure-expression argmax fold against the one-row broadcast
    centroid table (`operators/vectors.py:assign_cell_expr` — stream
    DataFrames cannot run `assign_cells`'s ranking window), then a
    stream-static equi join against the broadcast probes on cell and
    a cosine-threshold filter. Per-train-vector hit aggregation runs
    as an update-mode streaming agg (each vector arrives once, so its
    row finalizes in its arrival batch); the deterministic argmax
    eval id rides a struct max (max cos, then min eval id via
    negation). At 100 TB/day: retraining swaps the broadcast side,
    the ingest stream never repartitions, and state is O(flagged
    vectors), itself benchmark-bounded in practice."""
    from auto_trade_data_pipeline_spark.corpus.ext import (
        KMEANS_ITERS,
        KMEANS_K,
        SEM_CONTAM_EVAL_MOD,
        SEM_CONTAM_EVAL_RESIDUE,
        SEM_CONTAM_NPROBE,
        SEM_CONTAM_T,
    )
    from auto_trade_data_pipeline_spark.operators import vectors as VX
    from auto_trade_data_pipeline_spark.sources import load_table
    from pyspark.sql import Window as W

    m, r = SEM_CONTAM_EVAL_MOD, SEM_CONTAM_EVAL_RESIDUE
    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % m != r)
    evalq = emb.filter(F.col("vec_id") % m == r)
    _assigned, cents = VX.kmeans_cells(train, k=KMEANS_K, iters=KMEANS_ITERS)
    ctab = F.broadcast(VX.centroids_as_row(cents))

    probe_w = W.partitionBy("eval_id").orderBy(F.col("__ccos").desc(), "cell")
    probes = (
        evalq.select(F.col("vec_id").alias("eval_id"), F.col("embedding").alias("__qv"))
        .join(F.broadcast(cents))
        .withColumn("__ccos", F.round(VX.cosine(F.col("__qv"), F.col("centroid")), 6))
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= SEM_CONTAM_NPROBE)
        .select("eval_id", "__qv", "cell")
    )

    stream = read_table_stream(
        spark, sf_dir, "embeddings", "vec_id long, embedding array<float>, label int"
    ).filter(F.col("vec_id") % m != r)
    routed = stream.withColumn("__k", F.lit(1)).join(ctab, "__k").select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("__tv"),
        VX.assign_cell_expr(F.col("embedding"), F.col("__ctab")).alias("cell"),
    )
    hits = (
        routed.join(F.broadcast(probes), "cell")
        .withColumn("cos", F.round(VX.cosine(F.col("__qv"), F.col("__tv")), 6))
        .filter(F.col("cos") >= SEM_CONTAM_T)
    )
    agg = hits.groupBy("train_id").agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        F.max(F.struct(F.col("cos"), (-F.col("eval_id")).alias("neg_eval"))).alias("__top"),
    )
    out = run_available_now(
        agg, f"corpus_stream_contam_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    # Each train vector arrives exactly once, so its group finalizes
    # in one batch; the re-agg makes the readout robust to any replay
    # that splits a vector's hits across update rows anyway.
    final = out.groupBy("train_id").agg(
        F.max("n_eval_hits").alias("n_eval_hits"),
        F.max("__top").alias("__top"),
    )
    return final.select(
        "train_id",
        "n_eval_hits",
        F.col("__top.cos").alias("max_cos"),
        (-F.col("__top.neg_eval")).alias("top_eval_id"),
    )


# ---------------------------------------------------------------------------
# ST+: streaming LSH near-dup filter (the index as keyed state)
# ---------------------------------------------------------------------------

def _stream_lsh_oracle() -> str:
    # "Earliest prior bucket occupant" under doc_id-ordered arrival is
    # the minimum smaller doc_id sharing a band bucket — relational,
    # so the stateful index op gets a full SQL oracle built from the
    # same shingle/signature/banding CTEs as the batch LSH queries.
    from auto_trade_data_pipeline_spark.corpus.ext import (
        _DOCS_CTE,
        _band_rows_sql,
        _mh_cols_sql,
        _shingles_cte,
    )

    return f"""
WITH {_DOCS_CTE},
{_shingles_cte()},
mh AS (
  SELECT doc_id,
         {_mh_cols_sql()}
  FROM sh WHERE len(shingles) > 0
),
bands AS (
{_band_rows_sql()}
),
earlier AS (
  SELECT b.doc_id, min(a.doc_id) AS nearest_earlier
  FROM bands b LEFT JOIN bands a
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  GROUP BY b.doc_id
)
SELECT doc_id, nearest_earlier IS NOT NULL AS is_dup, nearest_earlier FROM earlier
"""


@register("streaming_lsh_dedup_replay", _stream_lsh_oracle(), tags=("ST4", "EXT1"))
def streaming_lsh_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-duplicate filtering (streaming/lsh.py): every
    arriving document is checked against EVERYTHING previously seen —
    the signature computed statelessly per row
    (operators/text.py:minhash_cols_expr, identical arithmetic to the
    batch groupBy path), banded with the batch `_banded` inline
    array, and probed against the LSH index carried as keyed state
    (one min-doc-id cell per band bucket). Each document reports
    whether any bucket already had an earlier occupant and the
    earliest such document — the keep/drop decision a 100 TB/day
    ingest makes BEFORE paying storage for a duplicate, without ever
    re-scanning the corpus. Candidate-level semantics (the batch
    pipeline's exact-Jaccard verify runs downstream on the flagged
    minority, exactly as in `dedup_near_minhash_lsh`). Multi-batch ==
    batch parity pinned in tests/test_streaming_lsh.py; the oracle
    replays signature, banding, and the earliest-occupant reduction
    relationally."""
    from auto_trade_data_pipeline_spark.corpus.ext import NUM_PERMS, ROWS_PER_BAND
    from auto_trade_data_pipeline_spark.operators import text as TX
    from auto_trade_data_pipeline_spark.operators.text import _banded
    from auto_trade_data_pipeline_spark.streaming.lsh import streaming_lsh_flags

    stream = read_table_stream(
        spark,
        sf_dir,
        "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sh = TX.shingles_array(TX.tokens(F.col("text")))
    sig = stream.select(
        "doc_id", *TX.minhash_cols_expr(sh, NUM_PERMS)
    ).filter(F.col("mh0").isNotNull())
    banded = _banded(sig, "doc_id", NUM_PERMS, ROWS_PER_BAND)
    flags = streaming_lsh_flags(banded)
    out = run_available_now(
        flags, f"corpus_stream_lsh_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return out.groupBy("doc_id").agg(
        F.min("earlier").isNotNull().alias("is_dup"),
        F.min("earlier").alias("nearest_earlier"),
    )
