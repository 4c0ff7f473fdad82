"""Indicator kernel — TA math vs independent references, kernel
determinism, and reference fillna/gating semantics (SURVEY §5.3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from auto_trade_data_pipeline_spark.functions import cdl, ta


@pytest.fixture(scope="module")
def series():
    rng = np.random.default_rng(42)
    n = 600
    c = 100 + np.cumsum(rng.normal(0, 0.5, n))
    o = c + rng.normal(0, 0.4, n)
    h = np.maximum(o, c) + rng.uniform(0, 0.6, n)
    l = np.minimum(o, c) - rng.uniform(0, 0.6, n)  # noqa: E741
    v = rng.uniform(100, 1000, n)
    return o, h, l, c, v


def test_ema_matches_pandas_ewm_with_sma_seed(series):
    _, _, _, c, _ = series
    period = 12
    ours = ta.ema(c, period)
    # Independent construction: SMA seed, then pandas ewm(adjust=False)
    # over the remainder — the textbook TA-Lib-compatible recipe.
    seed = c[:period].mean()
    tail = pd.Series(np.concatenate([[seed], c[period:]]))
    ref = tail.ewm(alpha=2 / (period + 1), adjust=False).mean().to_numpy()
    np.testing.assert_allclose(ours[period - 1 :], ref, rtol=1e-12)
    assert np.isnan(ours[: period - 1]).all()


def test_macd_histogram_is_line_minus_signal(series):
    _, _, _, c, _ = series
    line, sig, hist = ta.macd(c)
    m = np.isfinite(hist)
    np.testing.assert_allclose(hist[m], (line - sig)[m], rtol=1e-12)
    assert np.isnan(line[:33]).all() and np.isfinite(line[33:]).all()


def test_atr_wilder_recursion_against_loop(series):
    _, h, l, c, _ = series
    ours = ta.atr(h, l, c, 14)
    # Independent plain-python Wilder loop.
    tr = [h[0] - l[0]]
    for i in range(1, len(c)):
        tr.append(max(h[i] - l[i], abs(h[i] - c[i - 1]), abs(l[i] - c[i - 1])))
    prev = float(np.mean(tr[1:15]))
    assert abs(ours[14] - prev) < 1e-12
    for i in range(15, len(c)):
        prev = (prev * 13 + tr[i]) / 14
        assert abs(ours[i] - prev) < 1e-9


def test_adx_di_bounds_and_warmup(series):
    _, h, l, c, _ = series
    adx, pdi, mdi = ta.adx_di(h, l, c, 14)
    assert np.isnan(pdi[:14]).all() and np.isnan(adx[:27]).all()
    for arr in (adx[27:], pdi[14:], mdi[14:]):
        assert np.isfinite(arr).all()
        assert ((arr >= 0) & (arr <= 100)).all()


def test_psar_tracks_price_side(series):
    _, h, l, _, _ = series
    p = ta.psar(h, l)
    assert np.isnan(p[0]) and np.isfinite(p[1:]).all()
    # SAR must stay within a sane envelope of the running extremes.
    assert (p[1:] <= h.max() + 1e-9).all() and (p[1:] >= l.min() - 1e-9).all()


def test_t3_lookback_and_smoothness(series):
    _, _, _, c, _ = series
    t = ta.t3(c, 60)
    assert np.isnan(t[:354]).all() and np.isfinite(t[354:]).all()
    # T3 is a heavy smoother: its variance is far below the input's.
    assert np.var(np.diff(t[354:])) < np.var(np.diff(c[354:]))


def test_find_peaks_scipy_semantics():
    x = np.array([0, 1, 0, 2, 0, 3, 0, 1, 0], dtype=float)
    assert ta.find_peaks(x, 1, 0.5).tolist() == [1, 3, 5, 7]
    # Distance: highest wins, neighbors within distance suppressed;
    # result in index order (scipy contract).
    assert ta.find_peaks(x, 3, 0.5).tolist() == [1, 5]
    # Prominence: the 1-high peaks flanked by 0 valleys have prom 1.
    assert ta.find_peaks(x, 1, 1.5).tolist() == [3, 5]
    # Plateau midpoint.
    y = np.array([0, 5, 5, 5, 0], dtype=float)
    assert ta.find_peaks(y, 1, 0.5).tolist() == [2]


def _local_maxima_scalar(x):
    """The scalar scan _local_maxima replaced — the equality reference."""
    peaks, n, i = [], len(x), 1
    while i < n - 1:
        if x[i - 1] < x[i]:
            ahead = i + 1
            while ahead < n - 1 and x[ahead] == x[i]:
                ahead += 1
            if x[ahead] < x[i]:
                peaks.append((i + ahead - 1) // 2)
                i = ahead
                continue
        i += 1
    return np.asarray(peaks, dtype=np.intp)


def _sgb_scalar(x):
    """The monotonic-stack _strictly_greater_bounds replaced."""
    n = len(x)
    prev = np.empty(n, dtype=np.intp)
    nxt = np.empty(n, dtype=np.intp)
    stack: list[int] = []
    for i in range(n):
        while stack and x[stack[-1]] <= x[i]:
            stack.pop()
        prev[i] = stack[-1] if stack else -1
        stack.append(i)
    stack.clear()
    for i in range(n - 1, -1, -1):
        while stack and x[stack[-1]] <= x[i]:
            stack.pop()
        nxt[i] = stack[-1] if stack else n
        stack.append(i)
    return prev, nxt


def test_vectorized_peak_machinery_matches_scalar_reference():
    """The block-skip-descent _strictly_greater_bounds and the
    sign-change _local_maxima must be INDEX-EXACT vs the scalar
    scans they replaced, across adversarial shapes: ties, plateaus,
    monotone runs, sawtooth, short/empty arrays."""
    rng = np.random.default_rng(7)
    cases = [
        np.array([]),
        np.array([1.0]),
        np.array([1.0, 1.0]),
        np.array([0, 1, 0], dtype=float),
        np.array([0, 5, 5, 5, 0], dtype=float),
        np.array([5, 5, 5, 5], dtype=float),
        np.arange(200, dtype=float),
        np.arange(200, dtype=float)[::-1].copy(),
        np.zeros(200),
        np.tile([0.0, 1.0], 100),
        np.repeat(rng.normal(0, 1, 30), 7),
        # NaN acts as a comparison wall in both implementations (every
        # <=/< against NaN is False) — pin that they agree on it.
        np.array([0, 5, np.nan, 5, 0], dtype=float),
        np.array([np.nan, 1, 0, 2, np.nan], dtype=float),
        # Monotone run then a higher plateau — the shape that degraded
        # a pointer-jumping formulation to O(n^2) (review finding):
        # every plateau element's chain walked the run one node per
        # round. The block-skip descent must stay exact AND flat here.
        np.concatenate([np.arange(800.0)[::-1], np.full(400, 1e6)]),
        np.concatenate([np.arange(800.0), np.full(400, -5.0)]),
    ]
    for k in range(40):
        n = int(rng.integers(0, 1200))
        kind = k % 4
        if kind == 0:
            x = rng.normal(0, 1, n)
        elif kind == 1:
            x = np.round(rng.normal(0, 1, n), 1)  # heavy ties
        elif kind == 2:
            x = np.cumsum(rng.normal(0, 1, n))
        else:
            x = rng.integers(0, 4, n).astype(float)
        cases.append(x)
    for x in cases:
        x = np.asarray(x, dtype=float)
        assert ta._local_maxima(x).tolist() == _local_maxima_scalar(x).tolist()
        p1, n1 = ta._strictly_greater_bounds(x)
        p2, n2 = _sgb_scalar(x)
        assert p1.tolist() == p2.tolist()
        assert n1.tolist() == n2.tolist()


def test_cdl_outputs_domain_and_warmup(series):
    o, h, l, c, _ = series
    out = cdl.compute_all(o, h, l, c)
    assert set(out) == set(cdl.ALL_PATTERNS)
    for name, arr in out.items():
        assert set(np.unique(arr)) <= {-100, 0, 100}, name
    # Settings need 10 prior bars: nothing using averages fires early.
    assert (out["CDLDOJI"][:10] == 0).all()


def test_cdl_hand_cases():
    # Bullish engulfing at bar 3.
    o = np.array([10.0, 10.5, 10.4, 9.8])
    c = np.array([10.5, 10.0, 9.9, 10.6])
    h = np.maximum(o, c) + 0.1
    l = np.minimum(o, c) - 0.1  # noqa: E741
    assert cdl.compute_all(o, h, l, c)["CDLENGULFING"][3] == 100
    # Doji after 10 normal bars.
    o = np.concatenate([np.arange(10.0, 20.0), [20.0]])
    c = np.concatenate([np.arange(10.5, 20.5), [20.001]])
    h = np.maximum(o, c) + 0.3
    l = np.minimum(o, c) - 0.3  # noqa: E741
    assert cdl.compute_all(o, h, l, c)["CDLDOJI"][10] == 100


def _candles_df(spark, n=200, symbols=("A", "B")):
    rows = []
    rng = np.random.default_rng(3)
    for s in symbols:
        c = 100 + np.cumsum(rng.normal(0, 0.5, n))
        for i in range(n):
            o = c[i] + rng.normal(0, 0.3)
            hi = max(o, c[i]) + abs(rng.normal(0, 0.2))
            lo = min(o, c[i]) - abs(rng.normal(0, 0.2))
            ts = (
                pd.Timestamp("2024-01-02 14:30:00") + pd.Timedelta(seconds=i)
            ).to_pydatetime()
            rows.append(
                (s, ts, float(o), float(hi), float(lo), float(c[i]), 100.0, 3, float(c[i])),
            )
    return spark.createDataFrame(
        rows,
        "symbol string, timestamp timestamp, open double, high double, low double,"
        " close double, volume double, number_of_trades long, vwap double",
    )


def test_kernel_end_to_end_and_partition_invariance(spark):
    from auto_trade_data_pipeline_spark.operators.indicators import enrich_indicators

    df = _candles_df(spark)
    out1 = enrich_indicators(df.repartition(1)).orderBy("symbol", "timestamp").collect()
    out8 = enrich_indicators(df.repartition(8)).orderBy("symbol", "timestamp").collect()
    assert out1 == out8  # kernel result independent of physical layout
    row = out1[150]
    assert row["adx"] >= 0 and row["t3"] is not None
    assert row["is_uptrend"] + row["is_downtrend"] + row["is_no_trend"] == 1


def test_kernel_family_pruning_identical_columns(spark):
    """enrich_indicators(families=...) — kernel-side column pruning:
    each family subset emits exactly the input columns + that family's
    columns in reference order, with values identical to the full
    kernel's (the families share only the raw OHLC inputs)."""
    from auto_trade_data_pipeline_spark.operators.indicators import (
        FAMILY_COLUMNS,
        enrich_indicators,
    )

    df = _candles_df(spark, n=120, symbols=("S", "T"))
    full = {
        (r["symbol"], r["timestamp"]): r.asDict()
        for r in enrich_indicators(df).collect()
    }
    for fams in (("pack",), ("cdl",), ("peaks",), ("peaks", "pack")):
        sub = enrich_indicators(df, families=fams)
        expected = df.columns + [
            c for f in ("pack", "cdl", "peaks") if f in fams for c, _ in FAMILY_COLUMNS[f]
        ]
        assert sub.columns == expected
        for r in sub.collect():
            ref = full[(r["symbol"], r["timestamp"])]
            got = r.asDict()
            assert all(got[k] == ref[k] for k in got), (fams, got, ref)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown indicator families"):
        enrich_indicators(df, families=("nope",))


def test_kernel_short_group_gates(spark):
    """Groups under the 14/60-row gates emit the reference defaults
    (0s; t3=close) instead of partial indicators."""
    from auto_trade_data_pipeline_spark.operators.indicators import enrich_indicators

    df = _candles_df(spark, n=10, symbols=("S",))
    rows = enrich_indicators(df).orderBy("timestamp").collect()
    assert all(r["adx"] == 0 and r["atr"] == 0 for r in rows)
    assert all(r["t3"] == r["close"] and r["t3_slope"] == 0 for r in rows)
    assert all(r["is_no_trend"] == 1 for r in rows)


def test_chunked_exact_when_tail_covers_prefix(spark):
    """chunked=True with buffer_rows == block_rows == n/2: block 1's
    warm-up tail IS the entire prefix, so every left-dependent column
    (recursive packs, CDL patterns) is bit-identical to the exact
    per-symbol kernel. (Peak/valley flags are excluded by design:
    prominence also scans RIGHT, so block 0 cannot see block 1's
    bars — the same buffer-locality the streaming form documents.)"""
    from auto_trade_data_pipeline_spark.operators.indicators import enrich_indicators

    df = _candles_df(spark, n=500, symbols=("S", "T"))
    exact = enrich_indicators(df).orderBy("symbol", "timestamp").collect()
    chunked = (
        enrich_indicators(df, chunked=True, buffer_rows=250, block_rows=250)
        .orderBy("symbol", "timestamp")
        .collect()
    )
    assert len(exact) == len(chunked)
    left_dep = [
        "adx", "di_pos", "di_neg", "macd", "macd_signal", "macd_diff",
        "psar", "psar_trend", "atr", "atr_norm", "t3", "t3_slope",
        "CDLDOJI", "CDLENGULFING", "candle_pattern_sum",
    ]
    for a, b in zip(exact, chunked):
        assert (a["symbol"], a["timestamp"]) == (b["symbol"], b["timestamp"])
        for col in left_dep:
            assert a[col] == b[col], (col, a["timestamp"])


def test_chunked_divergence_bounded_and_decaying(spark):
    """With blocks shorter than the series, recursive indicators see
    truncated history at block starts; divergence vs the exact kernel
    must be tiny with a 500-row warm-up tail (EMA/Wilder memory decays
    exponentially in the buffer length, so 500 rows puts every family
    far below float display precision)."""
    from auto_trade_data_pipeline_spark.operators.indicators import enrich_indicators

    df = _candles_df(spark, n=1500, symbols=("S",))
    exact = {
        r["timestamp"]: r
        for r in enrich_indicators(df).collect()
    }
    chunked = (
        enrich_indicators(df, chunked=True, buffer_rows=500, block_rows=500)
        .orderBy("timestamp")
        .collect()
    )
    assert len(chunked) == 1500
    # t3's tolerance is looser: a 6-fold EMA(60) cascade's impulse
    # response decays as a Gamma(6) tail — n^5 * (1-a)^n — orders of
    # magnitude slower than the single-EMA families.
    for col, tol in (("macd", 1e-6), ("atr", 1e-6), ("adx", 1e-5), ("t3", 2e-3)):
        diffs = [abs(r[col] - exact[r["timestamp"]][col]) for r in chunked]
        assert max(diffs) < tol, (col, max(diffs))


def test_full_enrichment_carries_the_complete_surface(spark, sf_small):
    """W14: the composed table carries every column family of the
    reference's candles_1s_calculated (~119 cols)."""
    from auto_trade_data_pipeline_spark.corpus.indicators import full_enrichment

    df = full_enrichment(spark, sf_small)
    cols = set(df.columns)
    assert len(cols) >= 119
    for c in ("adx", "macd", "psar", "atr", "t3", "bb_upper", "rolling_avg_volume",
              "is_morning", "is_micro_peak", "candle_pattern_sum", "CDLDOJI",
              "CDLMATHOLD", "local_timestamp", "is_no_trend"):
        assert c in cols, c
    assert df.limit(5).count() == 5


def test_full_enrichment_rejects_column_drift(spark, sf_small, monkeypatch):
    """The hard-coded output projection refuses, by name, a column set
    that no longer matches the enriched table's."""
    from auto_trade_data_pipeline_spark.corpus import indicators as corpus_ind
    from auto_trade_data_pipeline_spark.schemas import SchemaMismatchError

    monkeypatch.setattr(
        corpus_ind, "INDICATOR_COLUMNS", (*corpus_ind.INDICATOR_COLUMNS, ("ghost", "double"))
    )
    with pytest.raises(SchemaMismatchError, match="ghost"):
        corpus_ind.full_enrichment(spark, sf_small)


GOLDEN_HASHES = {
    # sha256[:16] of the round-8 output arrays on the seed-42 series —
    # pinned so any silent change to the TA algorithms fails loudly
    # (SURVEY §5.3 golden-output strategy; the reference's talib is
    # not installable here, so the pin is against our spec-reviewed
    # implementation at the time tests first went green).
    "adx": "5a14352272cb6fe7",
    "pdi": "11f48ab992f6a9d1",
    "mdi": "93f6442070797f05",
    "macd": "5b3c2db928406e91",
    "macd_signal": "ddf4d9692b4f0648",
    "atr": "f6a437e2917d4c6e",
    "psar": "925329804168d22f",
    "t3": "eac8bd3959c9af67",
    "cdl_all": "59f13a09e7a84a14",
    "peaks": "fca74610f1333dca",
}


def _golden_hash(a):
    import hashlib

    arr = np.round(np.nan_to_num(np.asarray(a, dtype=float), nan=-9e9), 8)
    return hashlib.sha256(arr.tobytes()).hexdigest()[:16]


def test_golden_pinned_outputs(series):
    o, h, l, c, _ = series  # noqa: E741
    adx, pdi, mdi = ta.adx_di(h, l, c, 14)
    macd_l, macd_s, _ = ta.macd(c)
    pats = cdl.compute_all(o, h, l, c)
    got = {
        "adx": _golden_hash(adx),
        "pdi": _golden_hash(pdi),
        "mdi": _golden_hash(mdi),
        "macd": _golden_hash(macd_l),
        "macd_signal": _golden_hash(macd_s),
        "atr": _golden_hash(ta.atr(h, l, c, 14)),
        "psar": _golden_hash(ta.psar(h, l)),
        "t3": _golden_hash(ta.t3(c, 60)),
        "cdl_all": _golden_hash(np.concatenate([pats[k] for k in sorted(pats)])),
        "peaks": _golden_hash(
            np.concatenate([ta.find_peaks(h, d, p) for d, p in ((10, 0.9), (7, 0.7), (5, 0.5))])
        ),
    }
    assert got == GOLDEN_HASHES


def test_pandas_udf_surface_matches_expression_twins(spark):
    """SURVEY §2.10: the vectorized-scalar and grouped-agg pandas_udf
    forms must agree exactly with their JVM expression twins (which
    are the hot path)."""
    from pyspark.sql import functions as F

    from auto_trade_data_pipeline_spark.functions.udfs import (
        typical_price_udf,
        vwap_agg_udf,
    )

    df = spark.createDataFrame(
        [
            ("A", 10.0, 8.0, 9.0, 5.0),
            ("A", 12.0, 9.0, 11.0, 0.0),
            ("B", 7.0, 6.0, 6.5, 2.0),
            ("C", 3.0, 2.0, 2.5, 0.0),  # zero-volume group -> null VWAP
        ],
        "symbol string, high double, low double, close double, volume double",
    )
    tp = df.select(
        typical_price_udf("high", "low", "close").alias("u"),
        ((F.col("high") + F.col("low") + F.col("close")) / 3.0).alias("e"),
    ).collect()
    assert all(r["u"] == r["e"] for r in tp)

    got = {
        r["symbol"]: r["vwap"]
        for r in df.groupBy("symbol")
        .agg(vwap_agg_udf(F.col("close"), F.col("volume")).alias("vwap"))
        .collect()
    }
    want = {
        r["symbol"]: r["vwap"]
        for r in df.groupBy("symbol")
        .agg(
            F.when(
                F.sum("volume") > 0,
                F.sum(F.col("close") * F.col("volume")) / F.sum("volume"),
            ).alias("vwap")
        )
        .collect()
    }
    assert got == want and got["C"] is None


def test_session_calendar_udtf_partitions_day_and_matches_flags(spark):
    """The UDTF calendar must partition the 1440-minute day exactly
    and agree with the W12 flag expressions for every minute."""
    import datetime as dt

    from pyspark.sql import functions as F

    from auto_trade_data_pipeline_spark.functions.udfs import SessionCalendar
    from auto_trade_data_pipeline_spark.operators.windows import (
        SESSION_FLAGS,
        with_session_flags,
    )

    spark.udtf.register("session_calendar", SessionCalendar)
    cal = spark.sql("SELECT * FROM session_calendar()").collect()
    assert len(cal) == 12
    spans = sorted((r["start_minute"], r["end_minute"]) for r in cal)
    assert spans[0][0] == 0 and spans[-1][1] == 1440
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))  # no gap/overlap
    # Flags and calendar read one table, so their agreement below is
    # circular on its own: pin the session starts to the reference's
    # NY wall-clock boundaries (src/candle_to_calcs.py:366-377).
    starts = {
        r["session_name"]: f"{r['start_minute'] // 60:02d}:{r['start_minute'] % 60:02d}"
        for r in cal
    }
    assert starts == {
        "is_overnight_early": "00:00",
        "is_overnight_late": "02:00",
        "is_early_morning": "04:00",
        "is_premarket_early": "08:00",
        "is_premarket_morn": "09:00",
        "is_morning": "09:30",
        "is_late_morning": "11:00",
        "is_midday": "12:30",
        "is_early_afternoon": "14:00",
        "is_late_afternoon": "15:30",
        "is_closing": "16:30",
        "is_afterhours": "17:01",
    }

    # One tick per minute of a NY winter day (UTC-5): flags vs calendar.
    base = dt.datetime(2024, 1, 16, 5, 0, 0)  # 00:00 NY in UTC
    ticks = spark.createDataFrame(
        [("S", base + dt.timedelta(minutes=i)) for i in range(1440)],
        "symbol string, timestamp timestamp",
    )
    flagged = with_session_flags(ticks)
    minute_of_day = (
        F.hour(F.from_utc_timestamp("timestamp", "America/New_York")) * 60
        + F.minute(F.from_utc_timestamp("timestamp", "America/New_York"))
    )
    cal_df = F.broadcast(spark.sql("SELECT * FROM session_calendar()"))
    joined = flagged.withColumn("mod", minute_of_day).join(
        cal_df,
        (F.col("mod") >= F.col("start_minute")) & (F.col("mod") < F.col("end_minute")),
    )
    assert joined.count() == 1440  # every minute in exactly one session
    for name in SESSION_FLAGS:
        mismatch = joined.filter(
            (F.col("session_name") == name) & (F.col(name) != 1)
        ).count()
        assert mismatch == 0, name


def test_kalman_filter_matches_naive_reference_and_converges():
    import numpy as np

    from auto_trade_data_pipeline_spark.functions.ta import kalman_filter

    rng = np.random.default_rng(7)
    z = 100 + rng.normal(0, 1, 500).cumsum()
    q, r = 0.01, 1.0
    got = kalman_filter(z, q, r)
    # Naive reference recursion, scalar step by step.
    x, p = float(z[0]), 1.0
    ref = [x]
    for t in range(1, len(z)):
        pp = p + q
        k = pp / (pp + r)
        x = x + k * (float(z[t]) - x)
        p = (1.0 - k) * pp
        ref.append(x)
    assert np.array_equal(got, np.array(ref))
    # The steady-state gain of (q=0.01, r=1) is ~0.095 — the filter
    # must track a drifting level with bounded lag, i.e. correlate
    # near-perfectly with the truth while smoothing the noise.
    assert abs(np.corrcoef(got[50:], z[50:])[0, 1]) > 0.98
    assert np.std(np.diff(got[50:])) < np.std(np.diff(z[50:]))


def test_lz78_jvm_fold_matches_python_reference(spark):
    from pyspark.sql import functions as F

    def lz78_py(s: str) -> int:
        d, cur = set(), ""
        for ch in s:
            cand = cur + ch
            if cand in d:
                cur = cand
            else:
                d.add(cand)
                cur = ""
        return len(d) + (1 if cur else 0)

    cases = ["", "u", "uu", "ud", "uudduudd", "u" * 40, "udf" * 15, "uduudduuudddf"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    out = df.select(
        "s",
        F.expr(
            """
            aggregate(
              filter(split(s, '(?!^)'), x -> x != ''),
              struct(CAST('' AS STRING) AS cur, CAST(array() AS ARRAY<STRING>) AS d),
              (acc, ch) -> IF(array_contains(acc.d, concat(acc.cur, ch)),
                              named_struct('cur', concat(acc.cur, ch), 'd', acc.d),
                              named_struct('cur', '', 'd',
                                           concat(acc.d, array(concat(acc.cur, ch))))),
              acc -> size(acc.d) + IF(acc.cur != '', 1, 0)
            )
            """
        ).alias("n"),
    ).collect()
    for r in out:
        assert r.n == lz78_py(r.s), r.s


def test_holt_winters_matches_naive_reference_and_tracks_trend():
    import numpy as np

    from auto_trade_data_pipeline_spark.functions.ta import holt_linear, holt_winters

    rng = np.random.default_rng(11)
    z = 100 + 0.05 * np.arange(600) + rng.normal(0, 1, 600)
    a, b = 0.5, 0.3
    lvl, trd = holt_linear(z, a, b)
    assert holt_winters is holt_linear  # deprecated alias kept
    # Naive reference recursion, scalar step by step.
    l, t = float(z[0]), 0.0
    rl, rt = [l], [t]
    for i in range(1, len(z)):
        lp = l
        l = a * float(z[i]) + (1.0 - a) * (lp + t)
        t = b * (l - lp) + (1.0 - b) * t
        rl.append(l)
        rt.append(t)
    assert np.array_equal(lvl, np.array(rl))
    assert np.array_equal(trd, np.array(rt))
    # On a steady 0.05/step drift the trend state must converge to it.
    assert abs(float(np.mean(trd[200:])) - 0.05) < 0.02
    # One-step-ahead forecasts beat a naive last-value carry-forward.
    fc = (lvl + trd)[:-1]
    naive = z[:-1]
    assert np.mean((fc - z[1:]) ** 2) < np.mean((naive - z[1:]) ** 2) * 1.1
