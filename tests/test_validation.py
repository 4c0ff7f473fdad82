"""Validation split partitions the input; quality report counts."""

from __future__ import annotations

from datetime import datetime

from auto_trade_data_pipeline_spark import schemas
from auto_trade_data_pipeline_spark.operators.validation import (
    candle_valid_predicate,
    has_violations,
    tick_valid_predicate,
    validate_split,
)


def test_split_partitions_input(spark):
    rows = [
        ("NVDA", datetime(2024, 1, 1, 0, 0, 1), 10.0, 1.0, 1),   # valid
        ("NVDA", datetime(2024, 1, 1, 0, 0, 2), None, 1.0, 2),   # null price
        ("NVDA", datetime(2024, 1, 1, 0, 0, 3), -5.0, 1.0, 3),   # negative price
        ("NVDA", datetime(2024, 1, 1, 0, 0, 4), 10.0, -1.0, 4),  # negative volume
        ("NVDA", datetime(2024, 1, 1, 0, 0, 5), 10.0, 0.0, 5),   # volume 0 is valid
    ]
    df = spark.createDataFrame(rows, schema=schemas.TICKS)
    valid, invalid = validate_split(df, tick_valid_predicate())
    assert sorted(r.tick_id for r in valid.collect()) == [1, 5]
    assert sorted(r.tick_id for r in invalid.collect()) == [2, 3, 4]


def test_candle_predicate_and_any_check(spark):
    base = dict(symbol="NVDA", timestamp=datetime(2024, 1, 1))
    mk = lambda **kw: {**base, "open": 10.0, "high": 11.0, "low": 9.0, "close": 10.5,
                       "volume": 5.0, "number_of_trades": 2, "vwap": 10.2, **kw}
    good = spark.createDataFrame([mk()], schema=schemas.CANDLES)
    bad = spark.createDataFrame(
        [mk(high=8.0), mk(number_of_trades=0, volume=3.0)], schema=schemas.CANDLES
    )
    assert not has_violations(good, candle_valid_predicate())
    assert has_violations(bad, candle_valid_predicate())
    assert has_violations(good.unionByName(bad), candle_valid_predicate())


def test_table_profile_exact_and_approx_paths(spark):
    """The profile's row, null and exact distinct counts and its
    lexical min/max are literal."""
    from auto_trade_data_pipeline_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (2, "b", 1.5), (None, None, 2.5)],
        "k long, s string, v double",
    )
    prof = {r["column_name"]: r for r in table_profile(df).collect()}
    assert prof["k"]["n_rows"] == 4 and prof["k"]["n_nulls"] == 1
    assert prof["k"]["n_distinct"] == 2
    assert prof["s"]["min_value"] == "a" and prof["s"]["max_value"] == "b"
    assert prof["v"]["n_distinct"] == 2 and prof["v"]["n_nulls"] == 1


def test_observed_quality_metrics_ride_the_action(spark):
    """with_observed_quality delivers executor-side counts to the
    driver with NO extra job: one count() action yields both the
    result and the metrics (Observation wraps the listener)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from auto_trade_data_pipeline_spark.operators.validation import (
        tick_valid_predicate,
        with_observed_quality,
    )

    rows = [
        ("A", "2024-01-02 14:30:00", 10.0, 5.0, 1),
        ("A", "2024-01-02 14:30:01", -1.0, 5.0, 2),   # invalid price
        ("A", "2024-01-02 14:30:02", 11.0, None, 3),  # null -> pred null
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts string, price double, volume double, tick_id long"
    ).select("symbol", F.to_timestamp("ts").alias("timestamp"), "price", "volume", "tick_id")
    obs = Observation("quality")
    observed = with_observed_quality(df, tick_valid_predicate(), obs)
    assert observed.count() == 3  # the only action
    m = obs.get
    assert m["n_rows"] == 3
    assert m["n_invalid"] == 2       # invalid price + null-volume row both fail
    # tick_valid_predicate is null-SAFE (isNotNull conjuncts): it never
    # evaluates to NULL, so the tri-state counter stays zero here.
    assert m["n_null_pred"] == 0
