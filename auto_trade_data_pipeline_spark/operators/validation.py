"""Validation with side-output (P2-P4, S9, A5, A6).

The reference validates every batch and diverts invalid rows to a
quarantine CSV (``src/fetch_historical_trades_nvda.py:102-138`` for
ticks, ``src/candle_to_calcs.py:76-136`` for candles;
``validate_final_csv`` report ``src/fetch_historical_trades_nvda.py:286-325``).

Spark-first shape: build ONE boolean `valid` predicate column, then
split the (cached) scan into two frames — `df.filter(p)` streams to the
main pipeline, `df.filter(~p)` to the quarantine sink. On a cluster
this is a single pass over the data with two sinks, no driver loop.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class SplitResult(NamedTuple):
    valid: DataFrame
    invalid: DataFrame


def tick_valid_predicate(ts_str_col: str | None = None) -> Column:
    """The reference's tick validity rule
    (``src/fetch_historical_trades_nvda.py:108-124``):
    price/volume non-null (P2), price > 0 and volume >= 0 (P3), and —
    when the on-disk string timestamp is still present — the strict
    format regex (P4, ``:48``).
    """
    p = (
        F.col("price").isNotNull()
        & F.col("volume").isNotNull()
        & (F.col("price") > 0)
        & (F.col("volume") >= 0)
    )
    if ts_str_col is not None:
        p = p & F.col(ts_str_col).rlike(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6} UTC$")
    else:
        p = p & F.col("timestamp").isNotNull()
    return p


def candle_valid_predicate() -> Column:
    """Candle validity (``src/candle_to_calcs.py:93-111``): required
    numerics non-null (vwap exempt, ``src/aggregator_candles.py:147``),
    high >= low, positive open/close (``src/candle_to_calcs.py:100``),
    volume >= 0, and NOT(trades <= 0 while volume > 0)."""
    required = ["open", "high", "low", "close", "volume", "number_of_trades"]
    p = F.lit(True)
    for c in required:
        p = p & F.col(c).isNotNull()
    return (
        p
        & (F.col("high") >= F.col("low"))
        & (F.col("open") > 0)
        & (F.col("close") > 0)
        & (F.col("volume") >= 0)
        & ~((F.col("number_of_trades") <= 0) & (F.col("volume") > 0))
    )


def validate_split(df: DataFrame, predicate: Column) -> SplitResult:
    """Split into (valid, invalid) on one predicate — S9.

    NOT cached: caching a full input scan is wrong at 100 TB. The
    scale-correct side-output pattern is a single flag-partitioned
    write (see :func:`sinks.write_split`).
    Null predicate results count as invalid (reference drops them via
    dropna, ``src/fetch_historical_trades_nvda.py:225``).
    """
    flagged = df.withColumn("__valid", F.coalesce(predicate, F.lit(False)))
    return SplitResult(
        valid=flagged.filter(F.col("__valid")).drop("__valid"),
        invalid=flagged.filter(~F.col("__valid")).drop("__valid"),
    )


def tick_quality_report(
    df: DataFrame,
    ts_str_col: str | None = None,
    count_valid: Column | None = None,
) -> DataFrame:
    """Single-pass validation aggregate report (A5),
    ``src/fetch_historical_trades_nvda.py:294-312``: null counts,
    invalid-value counts, bad-timestamp count, distinct timestamps,
    min/max span, total rows.  One job, map-side partial aggregation.
    The distinct-timestamp count is exact, so the report is
    oracle-checkable.

    ``count_valid``: optional boolean predicate (e.g.
    :func:`tick_valid_predicate` with the strict P4 timestamp regex) —
    adds a ``valid_rows`` count to the same single-pass aggregate.
    """
    bad_ts = (
        ~F.col(ts_str_col).rlike(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6} UTC$")
        if ts_str_col is not None
        else F.col("timestamp").isNull()
    )
    extra = (
        [F.sum(F.when(F.coalesce(count_valid, F.lit(False)), 1).otherwise(0)).alias("valid_rows")]
        if count_valid is not None
        else []
    )
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        *extra,
        F.sum(F.when(F.col("price").isNull(), 1).otherwise(0)).alias("null_price"),
        F.sum(F.when(F.col("volume").isNull(), 1).otherwise(0)).alias("null_volume"),
        F.sum(F.when(F.col("price") <= 0, 1).otherwise(0)).alias("nonpositive_price"),
        F.sum(F.when(F.col("volume") < 0, 1).otherwise(0)).alias("negative_volume"),
        F.sum(F.when(F.coalesce(bad_ts, F.lit(True)), 1).otherwise(0)).alias("bad_timestamp"),
        F.countDistinct("timestamp").alias("distinct_timestamps"),
        F.min("timestamp").alias("min_timestamp"),
        F.max("timestamp").alias("max_timestamp"),
    )


def has_violations(df: DataFrame, predicate: Column) -> bool:
    """Batch-rejecting any() check (A6), ``src/aggregator_candles.py:147-162``:
    true if any row violates. `limit(1)` short-circuits the scan."""
    return df.filter(~F.coalesce(predicate, F.lit(False))).limit(1).count() > 0


def with_observed_quality(df: DataFrame, predicate: Column, observation) -> DataFrame:
    """Attach OBSERVED quality metrics to a pipeline (`df.observe`):
    row count, invalid count, and null-predicate count accumulate ON
    THE EXECUTORS while the query runs its normal action — zero extra
    passes, zero extra jobs (`tick_quality_report` is the standalone
    report; this is the always-on production telemetry form). Pass a
    `pyspark.sql.Observation` for batch (read `.get` after the
    action) or a string name for streaming (metrics arrive in
    `StreamingQueryProgress.observedMetrics`) — the Spark analogue of
    the reference's per-run validation log
    (src/fetch_historical_trades_nvda.py:394-400).

    The returned DataFrame is the input unchanged; compose it
    anywhere in a pipeline."""
    return df.observe(
        observation,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~F.coalesce(predicate, F.lit(False)), 1).otherwise(0)).alias(
            "n_invalid"
        ),
        F.sum(F.when(predicate.isNull(), 1).otherwise(0)).alias("n_null_pred"),
    )
