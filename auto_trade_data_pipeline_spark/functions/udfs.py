"""The pandas_udf surface (SURVEY §2.10): Arrow-vectorized scalar and
grouped-aggregate UDFs.

The engine's hot paths are JVM expressions (typical price, VWAP live
in operators/candles.py and operators/windows.py as built-ins —
whole-stage-codegen'd, no Python). These UDFs exist because the
reference's "UDFs" are Python lambdas (VWAP group lambda,
``src/aggregator_candles.py:212``) and a user of this engine gets the
same extension points: write a vectorized kernel, Spark ships Arrow
batches through it. The parity tests pin each UDF to its expression
twin, so the two paths can never drift.

Rule of thumb encoded here: a pandas_udf is ~10-100x faster than a
row-at-a-time F.udf (Arrow batch transfer, numpy inside) but still
loses to a pure-JVM expression — use built-ins first, pandas_udf when
the math genuinely needs numpy/scipy, F.udf never.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.functions import pandas_udf

from auto_trade_data_pipeline_spark.operators.windows import SESSION_BOUNDS

__all__ = ["typical_price_udf", "vwap_agg_udf"]


@pandas_udf("double")
def typical_price_udf(high: pd.Series, low: pd.Series, close: pd.Series) -> pd.Series:
    """Vectorized-scalar form of W1 typical price (h+l+c)/3
    (``src/candle_to_calcs.py:386``). One Arrow batch in, one out."""
    return (high + low + close) / 3.0


@pandas_udf("double")
def vwap_agg_udf(price: pd.Series, volume: pd.Series) -> float:
    """Grouped-aggregate form of A3 VWAP: sum(p*v)/sum(v), None when
    the group's volume is zero (the reference's nullable-vwap rule,
    ``src/aggregator_candles.py:212,147``). Partial aggregation does
    NOT apply to pandas grouped-agg UDFs — the whole group's columns
    ship to Python, which is exactly why the production candle path
    uses the expression form; this is the extension-point surface."""
    v = float(volume.sum())
    if v <= 0:
        return None
    return float((price * volume).sum() / v)


# ---------------------------------------------------------------------------
# UDTF surface (Spark 4): table-generating function
# ---------------------------------------------------------------------------

try:  # pyspark >= 3.5
    from pyspark.sql.functions import udtf

    @udtf(returnType="session_name string, start_minute int, end_minute int")
    class SessionCalendar:
        """UDTF emitting the 12-session NY trading-day calendar as a
        TABLE — the lateral-joinable form of the W12 flags: it yields
        ``operators.windows.SESSION_BOUNDS``, the table the flag
        expressions derive from (one row per session,
        [start_minute, end_minute) half-open, partitioning the
        1440-minute day). Register with
        ``spark.udtf.register("session_calendar", SessionCalendar)``
        and use ``SELECT * FROM session_calendar()`` or a LATERAL
        join. Dimension-sized output -> always broadcast."""

        def eval(self):  # noqa: D102 - yields the fixed calendar
            for row in SESSION_BOUNDS:
                yield row

except ImportError:  # pragma: no cover - pyspark < 3.5
    SessionCalendar = None
