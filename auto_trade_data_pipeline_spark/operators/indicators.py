"""Stage-3 indicator kernel (W2-W5, W7-W9, W11 + A8): one
``applyInPandas`` grouped-map per symbol computing every
recursive/path-dependent column of the reference's
``apply_all_calculations`` (``/root/reference/src/candle_to_calcs.py:560-575``)
in a single pass — ADX/DI, MACD, PSAR, ATR pack, T3 + slope + trend
labels, all 59 CDL patterns + pattern sum, and scipy-style
peaks/valleys at three scales.

Division of labor with the native-window operators (operators/
windows.py): anything expressible as a bounded SQL window (Bollinger,
volume spike, session flags, running daily extrema) stays JVM-side;
this kernel carries only what is genuinely recursive (EMA cascades,
Wilder smoothing, SAR state, prominence scans) — the minimal
Python/Arrow surface.

Scale shape: one shuffle keyed by symbol; each group is processed by
vectorized numpy (no per-row Python in the loop bodies except the
inherently sequential recursions). Cross-day EMA warm-up demands
whole-symbol series (SURVEY §7 hard-part 2), so the partition key is
`symbol`, not (symbol, day); parallelism comes from symbol count —
the reference's own constraint, not an artifact.

Reference fillna semantics preserved exactly: adx/atr/macd packs
fillna(0) with a len>=14 gate for adx/atr, psar fillna(close), t3
fillna(close) with a len<60 close-passthrough, t3_slope =
t3.diff(60).fillna(0) (``:386-438``, ``:429-452``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from auto_trade_data_pipeline_spark.functions import cdl as cdl_mod
from auto_trade_data_pipeline_spark.functions import ta

__all__ = ["enrich_indicators", "INDICATOR_COLUMNS", "CDL_NAMES"]

CDL_NAMES: tuple[str, ...] = tuple(cdl_mod.ALL_PATTERNS.keys())

#: Kernel column families — each independently computable, so a query
#: that selects only one family's columns can skip the others' compute
#: AND their Arrow transfer (Catalyst cannot prune columns INTO a
#: Python kernel; this is that pruning, pushed by the caller).
FAMILY_COLUMNS: dict[str, tuple[tuple[str, str], ...]] = {
    "pack": (
        ("typical_price", "double"),
        ("adx", "double"),
        ("di_pos", "double"),
        ("di_neg", "double"),
        ("di_diff", "double"),
        ("macd", "double"),
        ("macd_signal", "double"),
        ("macd_diff", "double"),
        ("psar", "double"),
        ("psar_trend", "int"),
        ("psar_reversal", "double"),
        ("atr", "double"),
        ("atr_norm", "double"),
        ("atr_change", "double"),
        ("high_volatility", "int"),
        ("t3", "double"),
        ("t3_slope", "double"),
        ("is_uptrend", "int"),
        ("is_downtrend", "int"),
        ("is_no_trend", "int"),
    ),
    "cdl": (
        *[(name, "int") for name in CDL_NAMES],
        ("candle_pattern_sum", "long"),
    ),
    "peaks": (
        ("is_major_peak", "int"),
        ("is_major_valley", "int"),
        ("is_minor_peak", "int"),
        ("is_minor_valley", "int"),
        ("is_micro_peak", "int"),
        ("is_micro_valley", "int"),
    ),
}

#: Family evaluation/emission order — fixed, so any family subset
#: preserves the reference column order.
_FAMILY_ORDER: tuple[str, ...] = ("pack", "cdl", "peaks")

#: (name, spark type) of every kernel-added column, in reference order.
INDICATOR_COLUMNS: tuple[tuple[str, str], ...] = tuple(
    col for fam in _FAMILY_ORDER for col in FAMILY_COLUMNS[fam]
)


def _zeros_int(n: int) -> np.ndarray:
    return np.zeros(n, dtype=np.int32)


def _indicator_kernel(
    pdf: pd.DataFrame, *, families: frozenset[str] = frozenset(_FAMILY_ORDER)
) -> pd.DataFrame:
    # `families` is KEYWORD-ONLY on purpose: applyInPandas switches to
    # the (key, pdf) calling convention for any 2-positional-parameter
    # function, so a second positional arg here would silently change
    # how Spark invokes the kernel if passed directly.
    pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
    n = len(pdf)
    h = pdf["high"].to_numpy(dtype=float)
    l = pdf["low"].to_numpy(dtype=float)  # noqa: E741
    c = pdf["close"].to_numpy(dtype=float)
    o = pdf["open"].to_numpy(dtype=float)

    # Columns are gathered here and attached with one concat: inserting
    # them one by one (86 inserts) took half the kernel's CPU time.
    out: dict[str, np.ndarray] = {}
    if "pack" in families:
        out["typical_price"] = (h + l + c) / 3.0

        # --- ADX / DI pack (len>=14 gate, src/candle_to_calcs.py:388-397)
        if n >= 14:
            adx, pdi, mdi = ta.adx_di(h, l, c, 14)
            adx = np.nan_to_num(adx, nan=0.0)
            pdi = np.nan_to_num(pdi, nan=0.0)
            mdi = np.nan_to_num(mdi, nan=0.0)
        else:
            adx = pdi = mdi = np.zeros(n)
        out["adx"], out["di_pos"], out["di_neg"] = adx, pdi, mdi
        out["di_diff"] = pdi - mdi

        # --- MACD(12,26,9) (:399-402)
        macd_l, macd_s, macd_h = ta.macd(c, 12, 26, 9)
        out["macd"] = np.nan_to_num(macd_l, nan=0.0)
        out["macd_signal"] = np.nan_to_num(macd_s, nan=0.0)
        out["macd_diff"] = np.nan_to_num(macd_h, nan=0.0)

        # --- PSAR pack (:404-406); NaN (index 0) -> close
        psar = ta.psar(h, l, 0.02, 0.2)
        psar = np.where(np.isnan(psar), c, psar)
        trend = (c > psar).astype(np.int32)
        reversal = np.abs(np.diff(trend, prepend=trend[:1]).astype(float))
        if n:
            reversal[0] = 0.0  # diff().fillna(0)
        out["psar"], out["psar_trend"], out["psar_reversal"] = psar, trend, reversal

        # --- ATR pack (len>=14 gate, :408-417). atr_norm divides by close
        # (validation guarantees close>0; a 0 close yields 0, not inf —
        # documented deviation from the reference's no-op replace chain).
        if n >= 14:
            atr = np.nan_to_num(ta.atr(h, l, c, 14), nan=0.0)
            atr_norm = np.divide(atr, c, out=np.zeros(n), where=c != 0)
            atr_change = np.diff(atr, prepend=atr[:1])
            if n:
                atr_change[0] = 0.0
            roll = ta.rolling_mean(atr_norm, 14)
            high_vol = (atr_norm > np.nan_to_num(roll, nan=0.0)).astype(np.int32)
        else:
            atr = atr_norm = atr_change = np.zeros(n)
            high_vol = _zeros_int(n)
        out["atr"], out["atr_norm"] = atr, atr_norm
        out["atr_change"], out["high_volatility"] = atr_change, high_vol

        # --- T3(60) + slope + trend labels (:429-452, threshold 0.2)
        if n < 60:
            t3 = c.copy()
            slope = np.zeros(n)
        else:
            t3 = ta.t3(c, 60, 0.7)
            t3 = np.where(np.isnan(t3), c, t3)
            slope = np.empty(n)
            slope[:60] = 0.0  # diff(60).fillna(0)
            slope[60:] = t3[60:] - t3[:-60]
        out["t3"], out["t3_slope"] = t3, slope
        out["is_uptrend"] = (slope > 0.2).astype(np.int32)
        out["is_downtrend"] = (slope < -0.2).astype(np.int32)
        out["is_no_trend"] = (~((slope > 0.2) | (slope < -0.2))).astype(np.int32)

    if "cdl" in families:
        # --- 59 CDL patterns + horizontal sum (:454-515)
        patterns = cdl_mod.compute_all(o, h, l, c)
        psum = np.zeros(n, dtype=np.int64)
        for name in CDL_NAMES:
            arr = patterns[name]
            out[name] = arr
            psum += arr
        out["candle_pattern_sum"] = psum

    if "peaks" in families:
        # --- peaks/valleys x3 scales (:528-558), start_idx=0 in batch.
        # The three scales share one candidate/prominence computation
        # per series (find_peaks_multi) — identical indices, half the
        # sparse-table work.
        scales = (("major", 10, 0.9), ("minor", 7, 0.7), ("micro", 5, 0.5))
        specs = [(d, p) for _, d, p in scales]
        peak_idx = ta.find_peaks_multi(h, specs)
        valley_idx = ta.find_peaks_multi(-l, specs)
        for (prefix, _, _), pi, vi in zip(scales, peak_idx, valley_idx):
            pk = _zeros_int(n)
            vl = _zeros_int(n)
            pk[pi] = 1
            vl[vi] = 1
            out[f"is_{prefix}_peak"] = pk
            out[f"is_{prefix}_valley"] = vl
    return pd.concat([pdf, pd.DataFrame(out, index=pdf.index)], axis=1)


def enrich_indicators(
    candles: DataFrame,
    chunked: bool = False,
    buffer_rows: int = 10_000,
    block_rows: int | None = None,
    families: tuple[str, ...] | None = None,
) -> DataFrame:
    """Attach the full recursive-indicator pack to a candle table.
    Input: the candles_1s schema (symbol, timestamp, open, high, low,
    close, volume, number_of_trades, vwap). Output: input columns +
    :data:`INDICATOR_COLUMNS`, one row per input row.

    ``families`` selects which kernel column families to compute and
    emit (subset of ``("pack", "cdl", "peaks")``; None = all, in the
    fixed reference order regardless of the tuple's order). Catalyst
    cannot prune columns INTO a Python kernel, so a caller that only
    reads one family passes it here to skip the other families'
    compute and Arrow transfer — at sf0.1 the pack-only kernel is
    ~2x the full one. Column values are identical for any subset
    (the families share only the raw OHLC inputs).

    ``chunked=False`` (default) is one applyInPandas task per symbol —
    exact, but a single-symbol 100 TB series is one task.

    ``chunked=True`` is the extreme-skew mitigation: each symbol's
    series is split into blocks of ``block_rows`` (default
    ``buffer_rows``) via the blocked evaluator's sequence/overlap
    machinery (operators/blocked.py), each block is evaluated with the
    preceding ``buffer_rows`` rows as a non-emitted warm-up tail, and
    blocks run in PARALLEL — per-task memory and time are
    O(block_rows + buffer_rows) regardless of symbol skew. This is
    the batch twin of the streaming tail buffer
    (streaming/indicators.py; the reference's ROLLING_BUFFER_SIZE
    trade, ``src/candle_to_calcs.py:42,691``): recursive indicators
    (EMA cascades, Wilder, SAR) see truncated history at block
    starts, with divergence decaying exponentially in ``buffer_rows``
    (bounded + decaying, asserted in tests); left-dependent bounded
    columns (CDL patterns: lags + trailing setting-averages) are exact
    once the overlap covers their span. Peak/valley flags are
    block-local: prominence also scans RIGHT of the bar, so flags near
    a block's end may differ from the global pass — the same
    buffer-locality the streaming form (and the reference's rolling
    buffer) accepts."""
    fams = frozenset(families) if families is not None else frozenset(_FAMILY_ORDER)
    unknown = fams - set(_FAMILY_ORDER)
    if unknown:
        raise ValueError(f"unknown indicator families: {sorted(unknown)}")
    cols = tuple(c for fam in _FAMILY_ORDER if fam in fams for c in FAMILY_COLUMNS[fam])
    out_fields = list(candles.schema.fields) + [
        T.StructField(name, _SPARK_TYPES[t], True) for name, t in cols
    ]
    schema = T.StructType(out_fields)
    if not chunked:
        return candles.groupBy("symbol").applyInPandas(
            lambda pdf: _indicator_kernel(pdf, families=fams), schema=schema
        )

    from auto_trade_data_pipeline_spark.operators.blocked import (
        INTERNAL_COLS,
        blocked_copies,
    )

    u = blocked_copies(candles, buffer_rows, block_rows or buffer_rows)
    in_cols = candles.columns

    def _chunk_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__seq", kind="mergesort").reset_index(drop=True)
        emit = pdf["__emit"].to_numpy()
        enriched = _indicator_kernel(pdf[in_cols].copy(), families=fams)
        return enriched.loc[emit, [f.name for f in out_fields]]

    return u.groupBy("symbol", "__grp").applyInPandas(
        _chunk_kernel, schema=schema
    ).drop(*[c for c in INTERNAL_COLS if c in schema.fieldNames()])


_SPARK_TYPES = {
    "double": T.DoubleType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
}
