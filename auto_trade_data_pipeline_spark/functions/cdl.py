"""TA-Lib-compatible candle pattern recognition (59 CDL* functions) in
vectorized numpy.

TA-Lib is absent from this environment; these implement the published
TA-Lib candle-setting framework and per-pattern rules (ta-lib C
sources are public BSD; this is a from-spec reimplementation, not a
translation). The reference calls exactly these 59 via
``getattr(talib, p)`` (``/root/reference/src/candle_to_calcs.py:454-507``).

Framework (TA-Lib global candle settings, public defaults):

| setting         | range type | period | factor |
|-----------------|-----------|--------|--------|
| BodyLong        | RealBody  | 10     | 1.0    |
| BodyVeryLong    | RealBody  | 10     | 3.0    |
| BodyShort       | RealBody  | 10     | 1.0    |
| BodyDoji        | HighLow   | 10     | 0.1    |
| ShadowLong      | RealBody  | 0      | 1.0    |
| ShadowVeryLong  | RealBody  | 0      | 2.0    |
| ShadowShort     | Shadows   | 10     | 1.0    |
| ShadowVeryShort | HighLow   | 10     | 0.1    |
| Near            | HighLow   | 5      | 0.2    |
| Far             | HighLow   | 5      | 0.6    |
| Equal           | HighLow   | 5      | 0.05   |

The per-bar average is ``factor * mean(range over the `period` bars
STRICTLY BEFORE the evaluated bar)`` (period 0 -> the bar's own
range), halved for Shadows-type. Warm-up bars (insufficient trailing
history) emit 0, matching talib's integer outputs after the
reference's ``fillna(0)``.

Outputs are int arrays in {-100, 0, 100} (a few two-sided patterns
can emit both signs). A handful of exotic patterns (HIKKAKEMOD) are
spec-faithful best-effort where the upstream C behavior has
undocumented corners; each such spot is marked.
"""

from __future__ import annotations

import numpy as np

__all__ = ["compute_all", "ALL_PATTERNS"]

_SETTINGS = {
    "bodylong": ("rb", 10, 1.0),
    "bodyverylong": ("rb", 10, 3.0),
    "bodyshort": ("rb", 10, 1.0),
    "bodydoji": ("hl", 10, 0.1),
    "shadowlong": ("rb", 0, 1.0),
    "shadowverylong": ("rb", 0, 2.0),
    "shadowshort": ("shad", 10, 1.0),
    "shadowveryshort": ("hl", 10, 0.1),
    "near": ("hl", 5, 0.2),
    "far": ("hl", 5, 0.6),
    "equal": ("hl", 5, 0.05),
}


def _shift(a: np.ndarray, k: int) -> np.ndarray:
    """a[i-k] with NaN fill (NaN poisons comparisons -> False -> 0)."""
    if k == 0:
        return a
    out = np.full(len(a), np.nan)
    out[k:] = a[:-k]
    return out


class _Ctx:
    """Per-series candle anatomy + memoized setting averages."""

    def __init__(self, o, h, l, c):  # noqa: E741
        self.o, self.h, self.l, self.c = o, h, l, c
        self.n = len(o)
        self.rb = np.abs(c - o)
        self.hl = h - l
        self.top = np.maximum(c, o)
        self.bot = np.minimum(c, o)
        self.us = h - self.top
        self.ls = self.bot - l
        self.shad = self.us + self.ls
        self.color = np.where(c >= o, 1, -1)
        self._avg_cache: dict[tuple[str, int], np.ndarray] = {}

    def _trailing_mean(self, r: np.ndarray, period: int) -> np.ndarray:
        """mean(r[i-period .. i-1]); NaN while the window is short."""
        out = np.full(self.n, np.nan)
        if self.n > period:
            cs = np.concatenate([[0.0], np.cumsum(r)])
            out[period:] = (cs[period:-1] - cs[:-period - 1]) / period
        return out

    def avg(self, setting: str, offset: int = 0) -> np.ndarray:
        """Candle-setting average evaluated for bar i-offset, aligned
        to index i."""
        key = (setting, offset)
        if key not in self._avg_cache:
            rtype, period, factor = _SETTINGS[setting]
            r = getattr(self, rtype)
            base = factor * (r if period == 0 else self._trailing_mean(r, period))
            if rtype == "shad":
                base = base / 2.0
            self._avg_cache[key] = _shift(base, offset)
        return self._avg_cache[key]

    # Shorthand accessors: x.o1 == open shifted 1 (previous bar),
    # x.rb2 == real body two bars back, etc.
    def __getattr__(self, name: str):
        if name and name[-1].isdigit() and not name.startswith("_"):
            attr, k = name[:-1], int(name[-1])
            val = _shift(getattr(self, attr), k)
            object.__setattr__(self, name, val)  # memoize
            return val
        raise AttributeError(name)

    def gap_up(self, near_k: int, far_k: int) -> np.ndarray:
        """Real-body gap up: bot(near) > top(far)."""
        return _shift(self.bot, near_k) > _shift(self.top, far_k)

    def gap_down(self, near_k: int, far_k: int) -> np.ndarray:
        return _shift(self.top, near_k) < _shift(self.bot, far_k)


def _sign(cond, sign_arr):
    """int result: ±100 where cond, by sign_arr (array or scalar)."""
    res = np.where(cond, 100 * np.asarray(sign_arr), 0)
    return res.astype(np.int32)


# ---------------------------------------------------------------------------
# Single-candle patterns (17)
# ---------------------------------------------------------------------------


def _doji_body(x: _Ctx, k: int = 0):
    return _shift(x.rb, k) <= x.avg("bodydoji", k)


def cdldoji(x: _Ctx):
    return _sign(_doji_body(x), 1)


def cdllongleggeddoji(x: _Ctx):
    cond = _doji_body(x) & ((x.ls > x.avg("shadowlong")) | (x.us > x.avg("shadowlong")))
    return _sign(cond, 1)


def cdldragonflydoji(x: _Ctx):
    cond = _doji_body(x) & (x.us < x.avg("shadowveryshort")) & (x.ls > x.avg("shadowveryshort"))
    return _sign(cond, 1)


def cdlgravestonedoji(x: _Ctx):
    cond = _doji_body(x) & (x.ls < x.avg("shadowveryshort")) & (x.us > x.avg("shadowveryshort"))
    return _sign(cond, 1)


def cdltakuri(x: _Ctx):
    cond = _doji_body(x) & (x.us < x.avg("shadowveryshort")) & (x.ls > x.avg("shadowverylong"))
    return _sign(cond, 1)


def cdlrickshawman(x: _Ctx):
    mid = x.l + x.hl / 2
    cond = (
        _doji_body(x)
        & (x.ls > x.avg("shadowlong"))
        & (x.us > x.avg("shadowlong"))
        & (x.bot <= mid + x.avg("near"))
        & (x.top >= mid - x.avg("near"))
    )
    return _sign(cond, 1)


def cdlhammer(x: _Ctx):
    cond = (
        (x.rb < x.avg("bodyshort"))
        & (x.ls > x.avg("shadowlong"))
        & (x.us < x.avg("shadowveryshort"))
        & (x.bot <= x.l1 + x.avg("near", 1))
    )
    return _sign(cond, 1)


def cdlhangingman(x: _Ctx):
    cond = (
        (x.rb < x.avg("bodyshort"))
        & (x.ls > x.avg("shadowlong"))
        & (x.us < x.avg("shadowveryshort"))
        & (x.bot >= x.h1 - x.avg("near", 1))
    )
    return _sign(cond, -1)


def cdlinvertedhammer(x: _Ctx):
    cond = (
        (x.rb < x.avg("bodyshort"))
        & (x.us > x.avg("shadowlong"))
        & (x.ls < x.avg("shadowveryshort"))
        & x.gap_down(0, 1)
    )
    return _sign(cond, 1)


def cdlshootingstar(x: _Ctx):
    cond = (
        (x.rb < x.avg("bodyshort"))
        & (x.us > x.avg("shadowlong"))
        & (x.ls < x.avg("shadowveryshort"))
        & x.gap_up(0, 1)
    )
    return _sign(cond, -1)


def cdlmarubozu(x: _Ctx):
    cond = (
        (x.rb > x.avg("bodylong"))
        & (x.us < x.avg("shadowveryshort"))
        & (x.ls < x.avg("shadowveryshort"))
    )
    return _sign(cond, x.color)


def cdlclosingmarubozu(x: _Ctx):
    white = (x.color == 1) & (x.us < x.avg("shadowveryshort"))
    black = (x.color == -1) & (x.ls < x.avg("shadowveryshort"))
    cond = (x.rb > x.avg("bodylong")) & (white | black)
    return _sign(cond, x.color)


def cdlbelthold(x: _Ctx):
    white = (x.color == 1) & (x.ls < x.avg("shadowveryshort"))
    black = (x.color == -1) & (x.us < x.avg("shadowveryshort"))
    cond = (x.rb > x.avg("bodylong")) & (white | black)
    return _sign(cond, x.color)


def cdlhighwave(x: _Ctx):
    cond = (
        (x.rb < x.avg("bodyshort"))
        & (x.us > x.avg("shadowverylong"))
        & (x.ls > x.avg("shadowverylong"))
    )
    return _sign(cond, x.color)


def cdlspinningtop(x: _Ctx):
    cond = (x.rb < x.avg("bodyshort")) & (x.us > x.rb) & (x.ls > x.rb)
    return _sign(cond, x.color)


def cdlshortline(x: _Ctx):
    cond = (
        (x.rb < x.avg("bodyshort"))
        & (x.us < x.avg("shadowshort"))
        & (x.ls < x.avg("shadowshort"))
    )
    return _sign(cond, x.color)


def cdllongline(x: _Ctx):
    cond = (
        (x.rb > x.avg("bodylong"))
        & (x.us < x.avg("shadowshort"))
        & (x.ls < x.avg("shadowshort"))
    )
    return _sign(cond, x.color)


# ---------------------------------------------------------------------------
# Two-candle patterns (19; a few look back further)
# ---------------------------------------------------------------------------


def cdlharami(x: _Ctx):
    cond = (
        (x.rb1 > x.avg("bodylong", 1))
        & (x.rb <= x.avg("bodyshort"))
        & (x.top < x.top1)
        & (x.bot > x.bot1)
    )
    return _sign(cond, -_shift(x.color, 1))


def cdlharamicross(x: _Ctx):
    cond = (
        (x.rb1 > x.avg("bodylong", 1))
        & (x.rb <= x.avg("bodydoji"))
        & (x.top < x.top1)
        & (x.bot > x.bot1)
    )
    return _sign(cond, -_shift(x.color, 1))


def cdlengulfing(x: _Ctx):
    bull = (x.color == 1) & (_shift(x.color, 1) == -1) & (x.c > x.o1) & (x.o < x.c1)
    bear = (x.color == -1) & (_shift(x.color, 1) == 1) & (x.o > x.c1) & (x.c < x.o1)
    return _sign(bull, 1) + _sign(bear, -1)


def cdlpiercing(x: _Ctx):
    cond = (
        (_shift(x.color, 1) == -1)
        & (x.rb1 > x.avg("bodylong", 1))
        & (x.color == 1)
        & (x.rb > x.avg("bodylong"))
        & (x.o < x.l1)
        & (x.c > x.c1 + x.rb1 * 0.5)
        & (x.c < x.o1)
    )
    return _sign(cond, 1)


def cdldarkcloudcover(x: _Ctx):
    cond = (
        (_shift(x.color, 1) == 1)
        & (x.rb1 > x.avg("bodylong", 1))
        & (x.color == -1)
        & (x.o > x.h1)
        & (x.c > x.o1)
        & (x.c < x.c1 - x.rb1 * 0.5)
    )
    return _sign(cond, -1)


def _marubozu_at(x: _Ctx, k: int):
    return (
        (_shift(x.rb, k) > x.avg("bodylong", k))
        & (_shift(x.us, k) < x.avg("shadowveryshort", k))
        & (_shift(x.ls, k) < x.avg("shadowveryshort", k))
    )


def cdlkicking(x: _Ctx):
    opp = _shift(x.color, 1) == -x.color
    both = _marubozu_at(x, 0) & _marubozu_at(x, 1) & opp
    bull = both & (x.color == 1) & x.gap_up(0, 1)
    bear = both & (x.color == -1) & x.gap_down(0, 1)
    return _sign(bull, 1) + _sign(bear, -1)


def cdlkickingbylength(x: _Ctx):
    opp = _shift(x.color, 1) == -x.color
    both = _marubozu_at(x, 0) & _marubozu_at(x, 1) & opp
    bull = both & (x.color == 1) & x.gap_up(0, 1)
    bear = both & (x.color == -1) & x.gap_down(0, 1)
    longer = np.where(x.rb > x.rb1, x.color, _shift(x.color, 1))
    return _sign(bull | bear, longer)


def cdlcounterattack(x: _Ctx):
    cond = (
        (_shift(x.color, 1) == -x.color)
        & (x.rb > x.avg("bodylong"))
        & (x.rb1 > x.avg("bodylong", 1))
        & (np.abs(x.c - x.c1) <= x.avg("equal", 1))
    )
    return _sign(cond, x.color)


def cdlgapsidesidewhite(x: _Ctx):
    white_pair = (_shift(x.color, 1) == 1) & (x.color == 1)
    near_size = (x.rb >= x.rb1 - x.avg("near", 1)) & (x.rb <= x.rb1 + x.avg("near", 1))
    near_open = (x.o >= x.o1 - x.avg("near", 1)) & (x.o <= x.o1 + x.avg("near", 1))
    up = x.gap_up(1, 2) & x.gap_up(0, 2)
    down = x.gap_down(1, 2) & x.gap_down(0, 2)
    cond = white_pair & near_size & near_open
    return _sign(cond & up, 1) + _sign(cond & down, -1)


def cdlseparatinglines(x: _Ctx):
    belthold = (x.rb > x.avg("bodylong")) & (
        ((x.color == 1) & (x.ls < x.avg("shadowveryshort")))
        | ((x.color == -1) & (x.us < x.avg("shadowveryshort")))
    )
    cond = (
        (_shift(x.color, 1) == -x.color)
        & (np.abs(x.o - x.o1) <= x.avg("equal", 1))
        & belthold
    )
    return _sign(cond, x.color)


def cdlonneck(x: _Ctx):
    cond = (
        (_shift(x.color, 1) == -1)
        & (x.rb1 > x.avg("bodylong", 1))
        & (x.color == 1)
        & (x.o < x.l1)
        & (np.abs(x.c - x.l1) <= x.avg("equal", 1))
    )
    return _sign(cond, -1)


def cdlinneck(x: _Ctx):
    cond = (
        (_shift(x.color, 1) == -1)
        & (x.rb1 > x.avg("bodylong", 1))
        & (x.color == 1)
        & (x.o < x.l1)
        & (x.c >= x.c1)
        & (x.c <= x.c1 + x.avg("equal", 1))
    )
    return _sign(cond, -1)


def cdlthrusting(x: _Ctx):
    cond = (
        (_shift(x.color, 1) == -1)
        & (x.rb1 > x.avg("bodylong", 1))
        & (x.color == 1)
        & (x.o < x.l1)
        & (x.c > x.c1 + x.avg("equal", 1))
        & (x.c <= x.c1 + x.rb1 * 0.5)
    )
    return _sign(cond, -1)


def cdlstalledpattern(x: _Ctx):
    cond = (
        (_shift(x.color, 2) == 1)
        & (_shift(x.color, 1) == 1)
        & (x.color == 1)
        & (x.c > x.c1)
        & (x.c1 > x.c2)
        & (x.rb2 > x.avg("bodylong", 2))
        & (x.rb1 > x.avg("bodylong", 1))
        & (_shift(x.us, 1) < x.avg("shadowveryshort", 1))
        & (x.o1 > x.o2)
        & (x.o1 <= x.c2 + x.avg("near", 2))
        & (x.rb < x.avg("bodyshort"))
        & (x.o >= x.c1 - x.rb - x.avg("near", 1))
    )
    return _sign(cond, -1)


def cdlmatchinglow(x: _Ctx):
    cond = (
        (_shift(x.color, 1) == -1)
        & (x.color == -1)
        & (np.abs(x.c - x.c1) <= x.avg("equal", 1))
    )
    return _sign(cond, 1)


def cdlbreakaway(x: _Ctx):
    base = (
        (x.rb4 > x.avg("bodylong", 4))
        & (_shift(x.color, 4) == _shift(x.color, 3))
        & (_shift(x.color, 3) == _shift(x.color, 1))
        & (x.color == -_shift(x.color, 4))
    )
    bull = (
        base
        & (_shift(x.color, 4) == -1)
        & x.gap_down(3, 4)
        & (x.h2 < x.h3)
        & (x.l2 < x.l3)
        & (x.h1 < x.h2)
        & (x.l1 < x.l2)
        & (x.c > x.o3)
        & (x.c < x.c4)
    )
    bear = (
        base
        & (_shift(x.color, 4) == 1)
        & x.gap_up(3, 4)
        & (x.h2 > x.h3)
        & (x.l2 > x.l3)
        & (x.h1 > x.h2)
        & (x.l1 > x.l2)
        & (x.c < x.o3)
        & (x.c > x.c4)
    )
    return _sign(bull, 1) + _sign(bear, -1)


def cdlunique3river(x: _Ctx):
    cond = (
        (x.rb2 > x.avg("bodylong", 2))
        & (_shift(x.color, 2) == -1)
        & (_shift(x.color, 1) == -1)
        & (x.c1 > x.c2)
        & (x.o1 <= x.o2)
        & (x.l1 < x.l2)
        & (x.rb < x.avg("bodyshort"))
        & (x.color == 1)
        & (x.o > x.l1)
    )
    return _sign(cond, 1)


def cdlhomingpigeon(x: _Ctx):
    cond = (
        (_shift(x.color, 1) == -1)
        & (x.color == -1)
        & (x.rb1 > x.avg("bodylong", 1))
        & (x.rb < x.avg("bodyshort"))
        & (x.o < x.o1)
        & (x.c > x.c1)
    )
    return _sign(cond, 1)


def cdltasukigap(x: _Ctx):
    near_size = np.abs(x.rb1 - x.rb) < x.avg("near", 1)
    up = (
        x.gap_up(1, 2)
        & (_shift(x.color, 1) == 1)
        & (x.color == -1)
        & (x.o < x.c1)
        & (x.o > x.o1)
        & (x.c < x.o1)
        & (x.c > x.top2)
        & near_size
    )
    down = (
        x.gap_down(1, 2)
        & (_shift(x.color, 1) == -1)
        & (x.color == 1)
        & (x.o < x.o1)
        & (x.o > x.c1)
        & (x.c > x.o1)
        & (x.c < x.bot2)
        & near_size
    )
    return _sign(up, 1) + _sign(down, -1)


# ---------------------------------------------------------------------------
# Three-candle patterns (16)
# ---------------------------------------------------------------------------


def cdl3whitesoldiers(x: _Ctx):
    cond = (
        (_shift(x.us, 2) < x.avg("shadowveryshort", 2))
        & (_shift(x.us, 1) < x.avg("shadowveryshort", 1))
        & (x.us < x.avg("shadowveryshort"))
        & (_shift(x.color, 2) == 1)
        & (_shift(x.color, 1) == 1)
        & (x.color == 1)
        & (x.c > x.c1)
        & (x.c1 > x.c2)
        & (x.o1 > x.o2)
        & (x.o1 <= x.c2 + x.avg("near", 2))
        & (x.o > x.o1)
        & (x.o <= x.c1 + x.avg("near", 1))
        & (x.rb1 > x.rb2 - x.avg("far", 2))
        & (x.rb > x.rb1 - x.avg("far", 1))
    )
    return _sign(cond, 1)


def cdl3blackcrows(x: _Ctx):
    cond = (
        (_shift(x.ls, 2) < x.avg("shadowveryshort", 2))
        & (_shift(x.ls, 1) < x.avg("shadowveryshort", 1))
        & (x.ls < x.avg("shadowveryshort"))
        & (_shift(x.color, 3) == 1)
        & (_shift(x.color, 2) == -1)
        & (_shift(x.color, 1) == -1)
        & (x.color == -1)
        & (x.c2 < x.c3)
        & (x.c1 < x.c2)
        & (x.c < x.c1)
        & (x.o1 < x.o2)
        & (x.o1 > x.c2)
        & (x.o < x.o1)
        & (x.o > x.c1)
        & (x.h3 > x.c2)
    )
    return _sign(cond, -1)


def cdl3inside(x: _Ctx):
    harami = (
        (x.rb2 > x.avg("bodylong", 2))
        & (x.rb1 <= x.avg("bodyshort", 1))
        & (x.top1 < x.top2)
        & (x.bot1 > x.bot2)
    )
    bull = harami & (_shift(x.color, 2) == -1) & (x.color == 1) & (x.c > x.o2)
    bear = harami & (_shift(x.color, 2) == 1) & (x.color == -1) & (x.c < x.o2)
    return _sign(bull, 1) + _sign(bear, -1)


def _star_base(x: _Ctx, doji_star: bool):
    star_body = (
        x.rb1 <= x.avg("bodydoji", 1) if doji_star else x.rb1 < x.avg("bodyshort", 1)
    )
    return (x.rb2 > x.avg("bodylong", 2)) & star_body & (x.rb > x.avg("bodyshort"))


def cdleveningstar(x: _Ctx, penetration: float = 0.3):
    cond = (
        _star_base(x, False)
        & (_shift(x.color, 2) == 1)
        & x.gap_up(1, 2)
        & (x.color == -1)
        & (x.c < x.c2 - x.rb2 * penetration)
    )
    return _sign(cond, -1)


def cdlmorningstar(x: _Ctx, penetration: float = 0.3):
    cond = (
        _star_base(x, False)
        & (_shift(x.color, 2) == -1)
        & x.gap_down(1, 2)
        & (x.color == 1)
        & (x.c > x.c2 + x.rb2 * penetration)
    )
    return _sign(cond, 1)


def cdleveningdojistar(x: _Ctx, penetration: float = 0.3):
    cond = (
        _star_base(x, True)
        & (_shift(x.color, 2) == 1)
        & x.gap_up(1, 2)
        & (x.color == -1)
        & (x.c < x.c2 - x.rb2 * penetration)
    )
    return _sign(cond, -1)


def cdlmorningdojistar(x: _Ctx, penetration: float = 0.3):
    cond = (
        _star_base(x, True)
        & (_shift(x.color, 2) == -1)
        & x.gap_down(1, 2)
        & (x.color == 1)
        & (x.c > x.c2 + x.rb2 * penetration)
    )
    return _sign(cond, 1)


def cdldojistar(x: _Ctx):
    up = (_shift(x.color, 1) == 1) & x.gap_up(0, 1)
    down = (_shift(x.color, 1) == -1) & x.gap_down(0, 1)
    cond = (x.rb1 > x.avg("bodylong", 1)) & (x.rb <= x.avg("bodydoji")) & (up | down)
    return _sign(cond, -_shift(x.color, 1))


def cdlabandonedbaby(x: _Ctx, penetration: float = 0.3):
    base = (
        (x.rb2 > x.avg("bodylong", 2))
        & (x.rb1 <= x.avg("bodydoji", 1))
        & (x.rb > x.avg("bodyshort"))
    )
    bull = (
        base
        & (_shift(x.color, 2) == -1)
        & (x.color == 1)
        & (x.c > x.c2 + x.rb2 * penetration)
        & (x.h1 < x.l2)
        & (x.l > x.h1)
    )
    bear = (
        base
        & (_shift(x.color, 2) == 1)
        & (x.color == -1)
        & (x.c < x.c2 - x.rb2 * penetration)
        & (x.l1 > x.h2)
        & (x.h < x.l1)
    )
    return _sign(bull, 1) + _sign(bear, -1)


def cdltristar(x: _Ctx):
    dojis = (
        (x.rb2 <= x.avg("bodydoji", 2))
        & (x.rb1 <= x.avg("bodydoji", 1))
        & (x.rb <= x.avg("bodydoji"))
    )
    bear = dojis & x.gap_up(1, 2) & x.gap_down(0, 1)
    bull = dojis & x.gap_down(1, 2) & x.gap_up(0, 1)
    return _sign(bull, 1) + _sign(bear, -1)


def cdladvanceblock(x: _Ctx):
    weakening = (
        ((x.rb1 < x.rb2 - x.avg("far", 2)) & (x.rb < x.rb1 + x.avg("near", 1)))
        | (x.rb < x.rb1 - x.avg("far", 1))
        | (
            (x.rb < x.rb1)
            & (x.rb1 < x.rb2)
            & ((x.us > x.avg("shadowshort")) | (_shift(x.us, 1) > x.avg("shadowshort", 1)))
        )
        | ((x.rb < x.rb1) & (x.us > x.avg("shadowlong")))
    )
    cond = (
        (_shift(x.color, 2) == 1)
        & (_shift(x.color, 1) == 1)
        & (x.color == 1)
        & (x.c > x.c1)
        & (x.c1 > x.c2)
        & (x.o1 > x.o2)
        & (x.o1 <= x.c2 + x.avg("near", 2))
        & (x.o > x.o1)
        & (x.o <= x.c1 + x.avg("near", 1))
        & (x.rb2 > x.avg("bodylong", 2))
        & (_shift(x.us, 2) < x.avg("shadowshort", 2))
        & weakening
    )
    return _sign(cond, -1)


def cdlsticksandwich(x: _Ctx):
    cond = (
        (_shift(x.color, 2) == -1)
        & (_shift(x.color, 1) == 1)
        & (x.color == -1)
        & (x.l1 > x.c2)
        & (np.abs(x.c - x.c2) <= x.avg("equal", 2))
    )
    return _sign(cond, 1)


def cdl3starsinsouth(x: _Ctx):
    cond = (
        (_shift(x.color, 2) == -1)
        & (_shift(x.color, 1) == -1)
        & (x.color == -1)
        & (x.rb2 > x.avg("bodylong", 2))
        & (_shift(x.ls, 2) > x.avg("shadowlong", 2))
        & (x.rb1 < x.rb2)
        & (x.o1 > x.c2)
        & (x.o1 <= x.h2)
        & (x.l1 < x.c2)
        & (x.l1 >= x.l2)
        & (_shift(x.ls, 1) > x.avg("shadowveryshort", 1))
        & (x.rb < x.avg("bodyshort"))
        & (x.ls < x.avg("shadowveryshort"))
        & (x.us < x.avg("shadowveryshort"))
        & (x.l > x.l1)
        & (x.h < x.h1)
    )
    return _sign(cond, 1)


def cdlidentical3crows(x: _Ctx):
    cond = (
        (_shift(x.ls, 2) < x.avg("shadowveryshort", 2))
        & (_shift(x.ls, 1) < x.avg("shadowveryshort", 1))
        & (x.ls < x.avg("shadowveryshort"))
        & (_shift(x.color, 2) == -1)
        & (_shift(x.color, 1) == -1)
        & (x.color == -1)
        & (x.c2 > x.c1)
        & (x.c1 > x.c)
        & (np.abs(x.o1 - x.c2) <= x.avg("equal", 2))
        & (np.abs(x.o - x.c1) <= x.avg("equal", 1))
    )
    return _sign(cond, -1)


def cdl3linestrike(x: _Ctx):
    same3 = (_shift(x.color, 3) == _shift(x.color, 2)) & (
        _shift(x.color, 2) == _shift(x.color, 1)
    )
    opens_near_2 = (x.o2 >= x.bot3 - x.avg("near", 3)) & (x.o2 <= x.top3 + x.avg("near", 3))
    opens_near_1 = (x.o1 >= x.bot2 - x.avg("near", 2)) & (x.o1 <= x.top2 + x.avg("near", 2))
    up = (
        (_shift(x.color, 1) == 1)
        & (x.c1 > x.c2)
        & (x.c2 > x.c3)
        & (x.o > x.c1)
        & (x.c < x.o3)
    )
    down = (
        (_shift(x.color, 1) == -1)
        & (x.c1 < x.c2)
        & (x.c2 < x.c3)
        & (x.o < x.c1)
        & (x.c > x.o3)
    )
    cond = same3 & (x.color == -_shift(x.color, 1)) & opens_near_2 & opens_near_1 & (up | down)
    return _sign(cond, _shift(x.color, 1))


def cdl2crows(x: _Ctx):
    cond = (
        (_shift(x.color, 2) == 1)
        & (x.rb2 > x.avg("bodylong", 2))
        & (_shift(x.color, 1) == -1)
        & x.gap_up(1, 2)
        & (x.color == -1)
        & (x.o < x.o1)
        & (x.o > x.c1)
        & (x.c > x.o2)
        & (x.c < x.c2)
    )
    return _sign(cond, -1)


def cdlupsidegap2crows(x: _Ctx):
    cond = (
        (_shift(x.color, 2) == 1)
        & (x.rb2 > x.avg("bodylong", 2))
        & (_shift(x.color, 1) == -1)
        & x.gap_up(1, 2)
        & (x.color == -1)
        & (x.o > x.o1)
        & (x.c < x.c1)
        & (x.c > x.c2)
    )
    return _sign(cond, -1)


# ---------------------------------------------------------------------------
# Multi-candle patterns (7)
# ---------------------------------------------------------------------------


def cdlrisefall3methods(x: _Ctx):
    smalls_in_range = (
        (x.rb3 < x.avg("bodyshort", 3))
        & (x.rb2 < x.avg("bodyshort", 2))
        & (x.rb1 < x.avg("bodyshort", 1))
        & (x.h3 < x.h4)
        & (x.h2 < x.h4)
        & (x.h1 < x.h4)
        & (x.l3 > x.l4)
        & (x.l2 > x.l4)
        & (x.l1 > x.l4)
    )
    rising = (
        (_shift(x.color, 4) == 1)
        & (_shift(x.color, 3) == -1)
        & (_shift(x.color, 1) == -1)
        & (x.c3 > x.c2)
        & (x.c2 > x.c1)
        & (x.color == 1)
        & (x.o > x.c1)
        & (x.c > x.c4)
    )
    falling = (
        (_shift(x.color, 4) == -1)
        & (_shift(x.color, 3) == 1)
        & (_shift(x.color, 1) == 1)
        & (x.c3 < x.c2)
        & (x.c2 < x.c1)
        & (x.color == -1)
        & (x.o < x.c1)
        & (x.c < x.c4)
    )
    cond = (x.rb4 > x.avg("bodylong", 4)) & (x.rb > x.avg("bodylong")) & smalls_in_range
    return _sign(cond & rising, 1) + _sign(cond & falling, -1)


def cdlxsidegap3methods(x: _Ctx):
    base = (
        (_shift(x.color, 2) == _shift(x.color, 1))
        & (x.color == -_shift(x.color, 1))
        & (x.o < x.top1)
        & (x.o > x.bot1)
        & (x.c < x.top2)
        & (x.c > x.bot2)
    )
    up = base & (_shift(x.color, 2) == 1) & x.gap_up(1, 2)
    down = base & (_shift(x.color, 2) == -1) & x.gap_down(1, 2)
    return _sign(up, 1) + _sign(down, -1)


def cdlladderbottom(x: _Ctx):
    cond = (
        (_shift(x.color, 4) == -1)
        & (_shift(x.color, 3) == -1)
        & (_shift(x.color, 2) == -1)
        & (x.o3 < x.o4)
        & (x.c3 < x.c4)
        & (x.o2 < x.o3)
        & (x.c2 < x.c3)
        & (_shift(x.color, 1) == -1)
        & (_shift(x.us, 1) > x.avg("shadowveryshort", 1))
        & (x.color == 1)
        & (x.o > x.o1)
        & (x.c > x.h1)
    )
    return _sign(cond, 1)


def cdlconcealbabyswall(x: _Ctx):
    cond = (
        (_shift(x.color, 3) == -1)
        & (_shift(x.color, 2) == -1)
        & (_shift(x.color, 1) == -1)
        & (x.color == -1)
        & (_shift(x.ls, 3) < x.avg("shadowveryshort", 3))
        & (_shift(x.us, 3) < x.avg("shadowveryshort", 3))
        & (_shift(x.ls, 2) < x.avg("shadowveryshort", 2))
        & (_shift(x.us, 2) < x.avg("shadowveryshort", 2))
        & x.gap_down(1, 2)
        & (_shift(x.us, 1) > x.avg("shadowveryshort", 1))
        & (x.h1 > x.c2)
        & (x.h > x.h1)
        & (x.l < x.l1)
    )
    return _sign(cond, 1)


def cdlhikkakemod(x: _Ctx):
    """Modified Hikkake — spec-faithful best-effort: inside bar at i-2
    (vs i-3) closing near the range extreme, fake-out bar at i-1,
    confirmation close at i. (TA-Lib also emits non-confirmed pattern
    bars within a 3-bar window; we emit the confirmed form.)"""
    inside = (x.h2 < x.h3) & (x.l2 > x.l3)
    bull = (
        inside
        & (x.c2 <= x.l3 + x.avg("near", 3))
        & (x.h1 < x.h2)
        & (x.l1 < x.l2)
        & (x.c > x.h1)
    )
    bear = (
        inside
        & (x.c2 >= x.h3 - x.avg("near", 3))
        & (x.h1 > x.h2)
        & (x.l1 > x.l2)
        & (x.c < x.l1)
    )
    return _sign(bull, 1) + _sign(bear, -1)


def cdlmathold(x: _Ctx, penetration: float = 0.5):
    cond = (
        (x.rb4 > x.avg("bodylong", 4))
        & (x.rb3 < x.avg("bodyshort", 3))
        & (x.rb2 < x.avg("bodyshort", 2))
        & (x.rb1 < x.avg("bodyshort", 1))
        & (_shift(x.color, 4) == 1)
        & (_shift(x.color, 3) == -1)
        & x.gap_up(3, 4)
        & (np.minimum(np.minimum(x.l3, x.l2), x.l1) > x.c4 - x.rb4 * penetration)
        & (x.color == 1)
        & (x.o > x.c1)
        & (x.c > np.maximum(np.maximum(x.h3, x.h2), x.h1))
    )
    return _sign(cond, 1)


# ---------------------------------------------------------------------------
# Registry — the exact 59 names the reference calls.
# ---------------------------------------------------------------------------

ALL_PATTERNS = {
    "CDLDOJI": cdldoji,
    "CDLHAMMER": cdlhammer,
    "CDLINVERTEDHAMMER": cdlinvertedhammer,
    "CDLHANGINGMAN": cdlhangingman,
    "CDLSHOOTINGSTAR": cdlshootingstar,
    "CDLMARUBOZU": cdlmarubozu,
    "CDLLONGLEGGEDDOJI": cdllongleggeddoji,
    "CDLDRAGONFLYDOJI": cdldragonflydoji,
    "CDLGRAVESTONEDOJI": cdlgravestonedoji,
    "CDLTAKURI": cdltakuri,
    "CDLHIGHWAVE": cdlhighwave,
    "CDLSPINNINGTOP": cdlspinningtop,
    "CDLCLOSINGMARUBOZU": cdlclosingmarubozu,
    "CDLBELTHOLD": cdlbelthold,
    "CDLRICKSHAWMAN": cdlrickshawman,
    "CDLSHORTLINE": cdlshortline,
    "CDLLONGLINE": cdllongline,
    "CDLHARAMI": cdlharami,
    "CDLENGULFING": cdlengulfing,
    "CDLPIERCING": cdlpiercing,
    "CDLDARKCLOUDCOVER": cdldarkcloudcover,
    "CDLKICKING": cdlkicking,
    "CDLKICKINGBYLENGTH": cdlkickingbylength,
    "CDLCOUNTERATTACK": cdlcounterattack,
    "CDLGAPSIDESIDEWHITE": cdlgapsidesidewhite,
    "CDLSEPARATINGLINES": cdlseparatinglines,
    "CDLONNECK": cdlonneck,
    "CDLINNECK": cdlinneck,
    "CDLSTALLEDPATTERN": cdlstalledpattern,
    "CDLMATCHINGLOW": cdlmatchinglow,
    "CDLBREAKAWAY": cdlbreakaway,
    "CDLHARAMICROSS": cdlharamicross,
    "CDLTHRUSTING": cdlthrusting,
    "CDLUNIQUE3RIVER": cdlunique3river,
    "CDLHOMINGPIGEON": cdlhomingpigeon,
    "CDLTASUKIGAP": cdltasukigap,
    "CDL3WHITESOLDIERS": cdl3whitesoldiers,
    "CDL3BLACKCROWS": cdl3blackcrows,
    "CDL3INSIDE": cdl3inside,
    "CDLEVENINGSTAR": cdleveningstar,
    "CDLMORNINGSTAR": cdlmorningstar,
    "CDLDOJISTAR": cdldojistar,
    "CDLABANDONEDBABY": cdlabandonedbaby,
    "CDLTRISTAR": cdltristar,
    "CDLADVANCEBLOCK": cdladvanceblock,
    "CDLSTICKSANDWICH": cdlsticksandwich,
    "CDL3STARSINSOUTH": cdl3starsinsouth,
    "CDLMORNINGDOJISTAR": cdlmorningdojistar,
    "CDLEVENINGDOJISTAR": cdleveningdojistar,
    "CDL3LINESTRIKE": cdl3linestrike,
    "CDL2CROWS": cdl2crows,
    "CDLIDENTICAL3CROWS": cdlidentical3crows,
    "CDLRISEFALL3METHODS": cdlrisefall3methods,
    "CDLXSIDEGAP3METHODS": cdlxsidegap3methods,
    "CDLUPSIDEGAP2CROWS": cdlupsidegap2crows,
    "CDLLADDERBOTTOM": cdlladderbottom,
    "CDLCONCEALBABYSWALL": cdlconcealbabyswall,
    "CDLHIKKAKEMOD": cdlhikkakemod,
    "CDLMATHOLD": cdlmathold,
}


def compute_all(o, h, l, c) -> dict[str, np.ndarray]:  # noqa: E741
    """All 59 patterns in one pass over shared candle anatomy."""
    x = _Ctx(
        np.asarray(o, dtype=float),
        np.asarray(h, dtype=float),
        np.asarray(l, dtype=float),
        np.asarray(c, dtype=float),
    )
    return {name: fn(x) for name, fn in ALL_PATTERNS.items()}
