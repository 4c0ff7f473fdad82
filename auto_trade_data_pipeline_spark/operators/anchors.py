"""Stateful anchor tracking + anchored VWAP (ST5-ST7 batch form).

The reference drives a per-symbol state machine over time-ordered
candles (``/root/reference/src/candle_to_calcs.py:210-311``, loop
``:657-675``):

- NY-date change resets all daily anchors (``:281-288``);
- first bar at NY 04:00 / 09:30 / 16:00 adds a daily close anchor,
  once per day (``:289-299``);
- a new daily high/low REPLACES the daily_high/daily_low anchor
  (``:301-311``);
- peak/valley bars (6 scale/direction flags) APPEND anchors
  (``:660-662``; the reference's ``max_per_type`` parameter is
  accepted but never enforced — accumulation is bounded by flushes);
- every ANCHOR_FLUSH_INTERVAL (300 s) all active anchors are
  snapshotted and cleared (``:664-675``); a final snapshot flushes at
  end of input;
- snapshots dedup keep-last on (symbol, timeframe, anchor_timestamp)
  ordered by snapshot time (``:183-193``).

Deterministic deviations (documented; SURVEY §7 hard-parts 4-5):
- the reference flushes on WALL clock (``time.time()``), which is
  irreproducible; we flush on EVENT time (>= 300 s of event time
  since the last flush), so replays are bit-identical;
- the reference snapshots against the chunk's last row
  (``current_idx = len(df)-1``, ``:236``) — a buffer artifact; we
  snapshot against the row that triggered the flush;
- anchor_idx/current_idx are global per-symbol row numbers (the
  reference's are buffer-relative);
- the keep-last dedup gets a deterministic anchor_type tiebreak.

Anchored VWAP: the reference leaves ``anchored_vwap`` as a NULL
placeholder (``:246``). Here the kernel, which already holds its
symbol's candles sorted, fills it for every row it emits: the
volume-weighted close over rows [anchor_idx, current_idx], summed
directly over that range (``_range_vwap``), NULL when the range's
volume is 0. Differencing prefix sums would cancel digits.

Scale shape: one applyInPandas pass per symbol (the state is
inherently sequential per symbol — same constraint as the reference);
the points table needs one shuffle by symbol and nothing after it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from auto_trade_data_pipeline_spark.functions import ta

__all__ = ["anchored_vwap_points", "fill_anchored_vwap"]

DAILY_ANCHOR_TYPES = ("daily_4am", "daily_930", "daily_4pm", "daily_high", "daily_low")
PEAK_SCALES = (("major", 10, 0.9), ("minor", 7, 0.7), ("micro", 5, 0.5))

ANCHOR_SCHEMA = (
    "symbol string, timeframe string, anchor_type string,"
    " anchor_timestamp timestamp, anchor_idx long, price_at_anchor double,"
    " current_snapshot_timestamp timestamp, current_idx long, anchored_vwap double"
)
ANCHOR_COLS = [
    "symbol", "timeframe", "anchor_type", "anchor_timestamp", "anchor_idx",
    "price_at_anchor", "current_snapshot_timestamp", "current_idx", "anchored_vwap",
]


def _range_vwap(pv: np.ndarray, v: np.ndarray, a_idx: int, s_idx: int) -> float | None:
    """Volume-weighted close over rows ``a_idx..s_idx`` inclusive, from
    ``pv = close * volume`` and ``v = volume``; None (SQL NULL) when the
    range's volume is not positive."""
    vol = v[a_idx : s_idx + 1].sum()
    if not vol > 0:
        return None
    return float(pv[a_idx : s_idx + 1].sum() / vol)


def _make_kernel(timeframe: str, flush_secs: int):
    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(columns=ANCHOR_COLS)
        symbol = pdf["symbol"].iloc[0]
        h_arr = pdf["high"].to_numpy(dtype=float)
        l_arr = pdf["low"].to_numpy(dtype=float)
        ts = pdf["timestamp"]
        local = ts.dt.tz_localize("UTC").dt.tz_convert("America/New_York")
        # Python-scalar lists for the state-machine loop (same values;
        # per-element numpy indexing boxes a scalar per access — the
        # ta.py loop discipline, round 10).
        h = h_arr.tolist()
        l = pdf["low"].to_numpy(dtype=float).tolist()  # noqa: E741
        c = pdf["close"].to_numpy(dtype=float).tolist()
        l_date = local.dt.date.to_numpy().tolist()
        l_hour = local.dt.hour.to_numpy().tolist()
        l_min = local.dt.minute.to_numpy().tolist()

        # Shared candidates/prominences across the three scales per
        # direction (ta.find_peaks_multi — exact-equal to per-scale
        # find_peaks, pinned in tests/test_indicators.py).
        specs = [(dist, prom) for _prefix, dist, prom in PEAK_SCALES]
        peak_idx = ta.find_peaks_multi(h_arr, specs)
        valley_idx = ta.find_peaks_multi(-l_arr, specs)
        flags = {}
        for (prefix, _d, _p), pi, vi in zip(PEAK_SCALES, peak_idx, valley_idx):
            pk = np.zeros(n, dtype=bool)
            vl = np.zeros(n, dtype=bool)
            pk[pi] = True
            vl[vi] = True
            flags[f"{prefix}_peak"] = pk.tolist()
            flags[f"{prefix}_valley"] = vl.tolist()
        flag_items = list(flags.items())

        # Timestamps as datetime64[ns] round-trip intact.
        ts_vals = ts.to_numpy()
        ts_ns = ts_vals.astype("datetime64[ns]").astype("int64").tolist()
        flush_ns = int(flush_secs * 1_000_000_000)

        active: dict[str, list[tuple[int, object, float]]] = {}
        cur_date = None
        added = {"daily_4am": False, "daily_930": False, "daily_4pm": False}
        day_high = day_low = None
        # Keep-last IN the kernel: each (anchor_type, anchor_idx) key
        # overwrites its previous snapshot row, so the kernel emits at
        # most one row per dedup key — the later row_number window
        # (and its exchange+sort) the operator used to pay is gone.
        # (anchor_timestamp is the candle timestamp at anchor_idx and
        # candle timestamps are unique per symbol, so (anchor_type,
        # anchor_idx) IS the operator's documented dedup key with the
        # constant symbol/timeframe dropped.)
        latest: dict[tuple[str, int], tuple] = {}
        last_flush_ns = ts_ns[0]

        def add(atype: str, idx: int, price: float, when) -> None:
            if atype in DAILY_ANCHOR_TYPES:
                active[atype] = []
            active.setdefault(atype, []).append((idx, when, price))

        def snapshot(idx: int, when) -> None:
            for atype, lst in active.items():
                for a_idx, a_ts, a_price in lst:
                    latest[(atype, a_idx)] = (
                        symbol, timeframe, atype, a_ts, a_idx, a_price, when, idx
                    )

        for i in range(n):
            when = ts_vals[i]
            if cur_date is None or l_date[i] != cur_date:
                cur_date = l_date[i]
                for atype in DAILY_ANCHOR_TYPES:
                    active.pop(atype, None)
                added = {k: False for k in added}
                day_high, day_low = h[i], l[i]
            if not added["daily_4am"] and l_hour[i] == 4 and l_min[i] == 0:
                add("daily_4am", i, c[i], when)
                added["daily_4am"] = True
            if not added["daily_930"] and l_hour[i] == 9 and l_min[i] == 30:
                add("daily_930", i, c[i], when)
                added["daily_930"] = True
            if not added["daily_4pm"] and l_hour[i] == 16 and l_min[i] == 0:
                add("daily_4pm", i, c[i], when)
                added["daily_4pm"] = True
            if day_high is None or h[i] > day_high:
                day_high = h[i]
                add("daily_high", i, h[i], when)
            if day_low is None or l[i] < day_low:
                day_low = l[i]
                add("daily_low", i, l[i], when)
            for atype, flag in flag_items:
                if flag[i]:
                    add(atype, i, h[i] if "peak" in atype else l[i], when)

            if ts_ns[i] - last_flush_ns >= flush_ns:
                snapshot(i, when)
                active.clear()
                last_flush_ns = ts_ns[i]

        snapshot(n - 1, ts_vals[n - 1])
        v = pdf["volume"].to_numpy(dtype=float)
        pv = pdf["close"].to_numpy(dtype=float) * v
        return pd.DataFrame(
            [(*r, _range_vwap(pv, v, r[4], r[7])) for r in latest.values()],
            columns=ANCHOR_COLS,
        )

    return _kernel


def anchored_vwap_points(
    candles: DataFrame, timeframe: str = "1s", flush_secs: int = 300
) -> DataFrame:
    """Replay the anchor state machine per symbol and emit the
    deduplicated ``anchored_vwap_points_1s`` table, keep-last by
    snapshot time, with ``anchored_vwap`` filled over each row's
    [anchor_idx, current_idx] candle range (module docstring).

    Documented deviation: the dedup key here is (symbol, timeframe,
    anchor_type, anchor_timestamp). The reference's key omits
    anchor_type (``src/candle_to_calcs.py:189-191``), which silently
    drops one of two DIFFERENT anchors landing on the same bar (e.g.
    a bar that is both the day's new high and new low trigger) —
    clearly unintended data loss we do not replicate.

    The keep-last dedup happens INSIDE the kernel (round 10): the
    whole key lives within one symbol group, so a per-key overwrite
    as snapshots replay IS keep-last-by-snapshot-time — the
    row_number window this operator used to run over the kernel
    output re-shuffled and re-sorted rows the kernel had already
    made unique (plan: 1 Exchange + 2 Sort + Window removed;
    tests/test_anchors.py pins key uniqueness and the keep-last
    row content)."""
    return candles.groupBy("symbol").applyInPandas(
        _make_kernel(timeframe, flush_secs), schema=ANCHOR_SCHEMA
    )


def _row_index(ts: np.ndarray, when: np.ndarray) -> np.ndarray:
    """Row of each ``when`` in the sorted ``ts``; -1 where it is absent."""
    i = np.searchsorted(ts, when)
    hit = i < len(ts)
    hit[hit] = ts[i[hit]] == when[hit]
    return np.where(hit, i, -1)


def fill_anchored_vwap(points: DataFrame, candles: DataFrame) -> DataFrame:
    """Fill ``anchored_vwap`` on a points table built outside the anchor
    kernel (``anchored_vwap_points`` fills its own): the volume-weighted
    candle close over [anchor_timestamp, current_snapshot_timestamp],
    NULL when that range's volume is 0 or either timestamp is not a
    candle of the symbol.

    Shape: one cogroup of points and candles by symbol; each group maps
    both timestamps to row indices of its sorted candles and sums the
    range with the kernel's ``_range_vwap``, so the fill is written
    once."""
    schema = StructType(
        [f for f in points.schema if f.name != "anchored_vwap"]
        + [StructField("anchored_vwap", DoubleType())]
    )

    def _fill(pts: pd.DataFrame, bars: pd.DataFrame) -> pd.DataFrame:
        bars = bars.sort_values("timestamp", kind="mergesort")
        ts = bars["timestamp"].to_numpy(dtype="datetime64[ns]")
        v = bars["volume"].to_numpy(dtype=float)
        pv = bars["close"].to_numpy(dtype=float) * v
        a = _row_index(ts, pts["anchor_timestamp"].to_numpy(dtype="datetime64[ns]"))
        s = _row_index(ts, pts["current_snapshot_timestamp"].to_numpy(dtype="datetime64[ns]"))
        vwap = [
            _range_vwap(pv, v, ai, si) if ai >= 0 and si >= 0 else None
            for ai, si in zip(a.tolist(), s.tolist())
        ]
        return pts.assign(anchored_vwap=vwap)[schema.fieldNames()]

    # A fresh key column: points derived from ``candles`` share its
    # ``symbol`` attribute, which makes the cogroup's key ambiguous.
    bars = candles.select(
        F.col("symbol").alias("__symbol"), "timestamp", "close", "volume"
    )
    return (
        points.groupBy("symbol")
        .cogroup(bars.groupBy("__symbol"))
        .applyInPandas(_fill, schema=schema)
    )
