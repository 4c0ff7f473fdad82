"""Blocked bounded-window evaluator — bit-equivalence to the
symbol-global window and block-level partitioning (VERDICT item 8)."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.blocked import (
    blocked_copies,
    blocked_rows_window,
)
from auto_trade_data_pipeline_spark.operators.windows import (
    _bollinger,
    _volume_spike,
    with_bollinger,
    with_rolling_features_blocked,
    with_volume_spike,
)
from auto_trade_data_pipeline_spark.plan_audit import _walk


def _candles(spark, n=300, symbols=("A", "B")):
    rows = []
    for s in symbols:
        for i in range(n):
            px = 100.0 + (i % 17) * 0.5 - (i % 5)
            rows.append(
                (
                    s,
                    datetime(2024, 1, 1, 0, 0, 0) + timedelta(minutes=17 * i),  # spans days
                    px,
                    px + 0.5,
                    px - 0.5,
                    px + 0.1,
                    float((i % 7) * 50),
                    2,
                    px,
                )
            )
    return spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, open double, high double, low double,"
        " close double, volume double, number_of_trades long, vwap double",
    )


def _names(exprs):
    return sorted(exprs.apply(i).sql() for i in range(exprs.size()))


def _collect(df, cols):
    return sorted(tuple(r[c] for c in ("symbol", "timestamp", *cols)) for r in df.collect())


def test_blocked_bollinger_bit_identical(spark):
    df = _candles(spark)
    cols = ["bb_mid", "bb_upper", "bb_lower", "bb_width", "bb_pos", "bb_breakout"]
    plain = _collect(with_bollinger(df), cols)
    # Tiny blocks force many carries, including across day boundaries.
    blocked = _collect(
        blocked_rows_window(df, 19, lambda u, o: _bollinger(u, o, 20, 2.0), block_size=64),
        cols,
    )
    assert plain == blocked


def test_blocked_volume_spike_bit_identical_small_blocks(spark):
    df = _candles(spark)
    cols = ["rolling_avg_volume", "is_volume_spike"]
    plain = _collect(with_volume_spike(df), cols)
    tiny = _collect(
        blocked_rows_window(df, 59, lambda u, o: _volume_spike(u, o, 60, 1.5), block_size=64),
        cols,
    )
    assert plain == tiny


def test_blocked_plan_partitions_by_block_not_symbol(spark):
    df = _candles(spark)
    out = blocked_rows_window(
        df, 19, lambda u, o: _bollinger(u, o, 20, 2.0), block_size=64
    )
    # The window's exchange is keyed on (symbol, __grp) — parallelism
    # scales with blocks (data volume), not symbol cardinality.
    exchange_keys = []
    for node in _walk(out._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() == "WindowExec" and _names(
            node.partitionSpec()
        ) == ["__grp", "symbol"]:
            exchange = next(
                n for n in _walk(node) if n.getClass().getSimpleName() == "ShuffleExchangeExec"
            )
            exchange_keys.append(_names(exchange.outputPartitioning().expressions()))
    assert exchange_keys and all(k == ["__grp", "symbol"] for k in exchange_keys), exchange_keys
    assert out.count() == df.count()  # emit rows preserved exactly
    # 300 rows/symbol at block 64 (lookback 19) -> 5 blocks per symbol.
    blocks = blocked_copies(df, 19, 64).groupBy("symbol").agg(
        F.countDistinct("__grp").alias("n")
    )
    assert {r["symbol"]: r["n"] for r in blocks.collect()} == {"A": 5, "B": 5}


def test_combined_blocked_pass_bit_identical(spark):
    df = _candles(spark)
    cols = ["bb_mid", "bb_upper", "bb_pos", "bb_breakout", "rolling_avg_volume", "is_volume_spike"]
    plain = _collect(with_volume_spike(with_bollinger(df)), cols)
    combined = _collect(with_rolling_features_blocked(df), cols)
    assert plain == combined
