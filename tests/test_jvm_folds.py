"""The recursive scans through ``operators/scans.py:scan_by_key``.

Each scan must equal its ``functions/ta.py`` kernel run over the
key's tape in order (same doubles, no tolerance), with the kernel's
NaN warm-up rows delivered as NULL: that is the contract the DuckDB
oracles compare against. The packing scan is checked
against a plain-Python greedy loop written here.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.functions import ta
from auto_trade_data_pipeline_spark.operators.scans import greedy_pack, scan_by_key

pytestmark = pytest.mark.usefixtures("spark")

_SYMBOLS = (("AAA", 7), ("BBB", 11), ("CCC", 13))


def _walk(seed: int, n: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return np.round(100.0 + np.cumsum(rng.randn(n) * 0.5), 4)


def _bars(seed: int, n: int = 257):
    px = _walk(seed, n)
    hi = px + np.abs(np.round(np.random.RandomState(seed + 1).rand(n), 4))
    lo = px - np.abs(np.round(np.random.RandomState(seed + 2).rand(n), 4))
    op = np.round((hi + lo) / 2.0, 4)
    return op, hi, lo, px


def _df(spark, n=257):
    """Three symbols of OHLC bars, rows shuffled so the scan must sort.
    (Scan functions are written inline in each test: Python workers
    cannot import this module, so they must be pickled by value.)"""
    rows = []
    for s, seed in _SYMBOLS:
        op, hi, lo, px = _bars(seed, n)
        rows += [
            (s, i, float(op[i]), float(hi[i]), float(lo[i]), float(px[i]))
            for i in range(n)
        ]
    np.random.RandomState(0).shuffle(rows)
    return spark.createDataFrame(
        rows, "symbol string, i int, open double, high double, low double, close double"
    )


def _pairs(out, col, key="symbol", order="i"):
    return {(r[key], r[order]): r[col] for r in out.collect()}


def _assert_exact(got: dict, symbol: str, expect: np.ndarray):
    for i, e in enumerate(expect):
        g = got[(symbol, i)]
        if math.isnan(e):
            assert g is None, f"i={i}: expected NULL, got {g!r}"
        else:
            assert g == e, f"i={i}: {g!r} != {e!r} (diff {g - e!r})"


def test_ema_scan_bit_exact(spark):
    out = scan_by_key(
        _df(spark), ["symbol"], "i", ["close"],
        {"ema12": ("double", lambda pdf: ta.ema(pdf["close"].to_numpy(dtype=float), 12)),
         "ema26": ("double", lambda pdf: ta.ema(pdf["close"].to_numpy(dtype=float), 26))},
    )
    assert out.columns == ["symbol", "i", "close", "ema12", "ema26"]
    e12 = _pairs(out, "ema12")
    e26 = _pairs(out, "ema26")
    for s, seed in _SYMBOLS:
        px = _walk(seed, 257)
        _assert_exact(e12, s, ta.ema(px, 12))
        _assert_exact(e26, s, ta.ema(px, 26))


def test_ema_scan_leading_nulls(spark):
    """A cascaded EMA input (leading NULLs — the MACD signal shape)
    starts its warm-up at the first non-null value; every warm-up row,
    the NULL prefix included, comes out NULL, never NaN."""
    px = _walk(3, 120)
    vals = [None] * 25 + [float(v) for v in px[25:]]
    df = spark.createDataFrame(
        [("S", i, v) for i, v in enumerate(vals)], "symbol string, i int, x double"
    )
    out = scan_by_key(
        df, ["symbol"], "i", ["x"],
        {"e9": ("double", lambda pdf: ta.ema(pdf["x"].to_numpy(dtype=float), 9))},
    )
    arr = px.copy()
    arr[:25] = np.nan
    got = _pairs(out, "e9")
    _assert_exact(got, "S", ta.ema(arr, 9))
    assert sum(v is None for v in got.values()) == 25 + 8


def test_atr_scan_bit_exact(spark):
    def atr14(pdf):
        return ta.atr(*(pdf[c].to_numpy(dtype=float) for c in ("high", "low", "close")), 14)

    out = scan_by_key(
        _df(spark), ["symbol"], "i", ["high", "low", "close"], {"atr14": ("double", atr14)}
    )
    got = _pairs(out, "atr14")
    for s, seed in _SYMBOLS:
        _op, hi, lo, px = _bars(seed)
        _assert_exact(got, s, ta.atr(hi, lo, px, 14))


def test_kalman_scan_bit_exact(spark):
    def kx(pdf):
        return ta.kalman_filter(pdf["close"].to_numpy(dtype=float), 0.01, 1.0)

    out = scan_by_key(_df(spark), ["symbol"], "i", ["close"], {"kx": ("double", kx)})
    got = _pairs(out, "kx")
    for s, seed in _SYMBOLS:
        _assert_exact(got, s, ta.kalman_filter(_walk(seed, 257), 0.01, 1.0))


def test_holt_scan_bit_exact(spark):
    """A struct-typed scan output survives the Arrow dict -> struct
    conversion bit-exactly."""
    def hw(pdf):
        lev, tr = ta.holt_linear(pdf["close"].to_numpy(dtype=float), 0.5, 0.3)
        return [{"l": float(li), "b": float(bi)} for li, bi in zip(lev, tr)]

    out = scan_by_key(
        _df(spark), ["symbol"], "i", ["close"], {"hw": ("struct<l: double, b: double>", hw)}
    )
    assert out.schema["hw"].dataType.simpleString() == "struct<l:double,b:double>"
    out = out.select("symbol", "i", F.col("hw.l").alias("l"), F.col("hw.b").alias("b"))
    gl, gb = _pairs(out, "l"), _pairs(out, "b")
    for s, seed in _SYMBOLS:
        lvl, trd = ta.holt_linear(_walk(seed, 257), 0.5, 0.3)
        _assert_exact(gl, s, lvl)
        _assert_exact(gb, s, trd)


def test_ha_open_scan_bit_exact(spark):
    def ha_open(pdf):
        return ta.heikin_ashi(
            *(pdf[c].to_numpy(dtype=float) for c in ("open", "high", "low", "close"))
        )[0]

    out = scan_by_key(
        _df(spark), ["symbol"], "i", ["open", "high", "low", "close"],
        {"ha_open": ("double", ha_open)},
    )
    got = _pairs(out, "ha_open")
    for s, seed in _SYMBOLS:
        _assert_exact(got, s, ta.heikin_ashi(*_bars(seed))[0])


def test_scan_one_row_tape(spark):
    """A one-row tape: the EMA is still warming up (NULL), the Kalman
    level is seeded with the row's own value."""
    df = spark.createDataFrame([("S", 0, 101.5)], "symbol string, i int, close double")

    def close(pdf):
        return pdf["close"].to_numpy(dtype=float)

    out = scan_by_key(
        df, ["symbol"], "i", ["close"],
        {"e5": ("double", lambda pdf: ta.ema(close(pdf), 5)),
         "kx": ("double", lambda pdf: ta.kalman_filter(close(pdf), 1e-5, 0.01))},
    )
    assert [tuple(r) for r in out.collect()] == [("S", 0, 101.5, None, 101.5)]


def _ref_pack(counts, cap):
    """Independent greedy reference: a bin absorbs items while its
    fill stays <= cap; an item that does not fit opens the next bin."""
    out, b, fill = [], 0, 0
    for c in counts:
        if b == 0 or fill + c > cap:
            b, fill = b + 1, c
        else:
            fill += c
        out.append(b)
    return out


def test_packing_scan_greedy_bins(spark):
    """Greedy contiguous packing: bin absorbs while fill <= capacity,
    oversize items get their own bin, bin ids are 1-based."""
    import random

    rng = random.Random(7)
    counts = [rng.randint(1, 40) for _ in range(2065)]
    counts[5] = 300  # oversize: > capacity, must sit alone in its bin
    cap = 100

    df = spark.createDataFrame(
        [("K", i, c) for i, c in enumerate(counts)], "k string, i int, n long"
    )
    out = scan_by_key(
        df, ["k"], "i", ["n"], {"bin": ("bigint", lambda pdf: greedy_pack(pdf["n"], cap)[0])}
    )
    assert dict(out.dtypes)["bin"] == "bigint"
    got = [r["bin"] for r in out.orderBy("i").collect()]
    assert got == _ref_pack(counts, cap)
    # The oversize item is alone: no neighbor shares its bin.
    assert got.count(got[5]) == 1


def test_packing_scan_empty_tape(spark):
    df = spark.createDataFrame([], "k string, i int, n long")
    out = scan_by_key(
        df, ["k"], "i", ["n"], {"bin": ("bigint", lambda pdf: greedy_pack(pdf["n"], 100)[0])}
    )
    assert out.columns == ["k", "i", "n", "bin"]
    assert out.count() == 0
