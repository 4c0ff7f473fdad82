"""S1-S3: paginated REST tick source with rate limiting and retry.

Reference semantics (``/root/reference/src/fetch_historical_trades_nvda.py``):
- S1 pagination: ``stock_tick(symbol, date, limit=24000, skip=N)``
  until an empty page (``:141-183``, loop ``:344-353``);
- S2 rate limit: sliding 60 s window, <=130 calls/min (``:84-94``);
- S3 retry: 5 attempts, exponential backoff 1 -> 10 s (``:146-183``);
- weekend skip in NY time (``:97-99,333-335``).

Spark-first shape: the (symbol, date) fetch plan is a DataFrame; the
fetch itself runs inside ``mapInPandas`` — one task per plan
partition, each with its own rate-limiter budget (a driver-side
global limiter cannot distribute; divide the budget by concurrent
tasks). The HTTP client is injected (`fetch_fn`) — this container
has no network, so the default raises; tests inject fakes. Columnar
pages (arrays t/p/v) are zipped to rows (P1) vectorized.
"""

from __future__ import annotations

import time
from collections import deque
from collections.abc import Callable, Iterator
from datetime import date as date_t

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["RateLimiter", "with_retry", "fetch_trades", "trading_day_plan"]

#: One page of ticks: columnar arrays, Finnhub-style.
FetchFn = Callable[[str, str, int, int], dict]


class RateLimiter:
    """Sliding-window limiter (S2): at most `calls` timestamps inside
    the trailing `window_secs`; `acquire` sleeps until a slot frees.
    The reference's deque+lock, minus the lock (one per task)."""

    def __init__(self, calls: int, window_secs: float = 60.0, clock=time.monotonic, sleep=time.sleep):
        self.calls = calls
        self.window = window_secs
        self._clock = clock
        self._sleep = sleep
        self._stamps: deque[float] = deque()

    def acquire(self) -> float:
        """Returns the seconds slept (0.0 if a slot was free)."""
        slept = 0.0
        while True:
            now = self._clock()
            while self._stamps and now - self._stamps[0] >= self.window:
                self._stamps.popleft()
            if len(self._stamps) < self.calls:
                self._stamps.append(now)
                return slept
            wait = self.window - (now - self._stamps[0])
            slept += wait
            self._sleep(wait)


def with_retry(
    fn: Callable[[], dict],
    max_attempts: int = 5,
    base_delay: float = 1.0,
    max_delay: float = 10.0,
    sleep=time.sleep,
) -> dict:
    """S3: exponential backoff 1, 2, 4, 8, capped at 10 s; re-raises
    after `max_attempts` failures (Spark task retries take over)."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception:
            attempt += 1
            if attempt >= max_attempts:
                raise
            sleep(min(base_delay * 2 ** (attempt - 1), max_delay))


def trading_day_plan(
    spark: SparkSession, symbols: list[str], start: date_t, end: date_t
) -> DataFrame:
    """The fetch plan: (symbol, date) grid with NY weekends dropped
    (P7) — date is the unit of parallelism, as in the reference's
    process pool (``:379-381``)."""
    days = spark.sql(
        f"SELECT explode(sequence(DATE'{start}', DATE'{end}')) AS date"
    )
    ny_dow = F.dayofweek(F.col("date"))  # dates are tz-free; NY calendar
    days = days.filter(~ny_dow.isin(1, 7))
    syms = spark.createDataFrame([(s,) for s in symbols], "symbol string")
    return syms.crossJoin(days)


def fetch_trades(
    plan: DataFrame,
    fetch_fn: FetchFn | None = None,
    batch_size: int = 24_000,
    calls_per_min: int = 130,
    max_attempts: int = 5,
    tasks_sharing_budget: int = 4,
) -> DataFrame:
    """S1: run the paginated fetch over the plan inside mapInPandas.
    Each task gets `calls_per_min / tasks_sharing_budget` of the API
    budget (a distributed limiter needs an external token service;
    static division is the reference-equivalent conservative split).

    `fetch_fn(symbol, date_iso, limit, skip)` must return columnar
    arrays ``{"t": [epoch_ms...], "p": [price...], "v": [vol...]}``
    (empty lists end pagination). No HTTP client ships here — inject
    one; the default raises NotImplementedError (no network in the
    build environment; the pagination/limit/retry logic is what is
    under test)."""
    if fetch_fn is None:
        def fetch_fn(symbol, date_iso, limit, skip):  # pragma: no cover
            raise NotImplementedError(
                "inject fetch_fn: an HTTP client for the tick API "
                "(e.g. finnhub stock_tick) — no network access here"
            )

    budget = max(1, calls_per_min // tasks_sharing_budget)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limiter = RateLimiter(budget)
        for pdf in batches:
            for _, row in pdf.iterrows():
                symbol, date_iso = row["symbol"], str(row["date"])
                skip = 0
                while True:
                    limiter.acquire()
                    page = with_retry(
                        lambda s=symbol, d=date_iso, k=skip: fetch_fn(s, d, batch_size, k),
                        max_attempts=max_attempts,
                    )
                    ts = page.get("t") or []
                    if not ts:
                        break
                    yield pd.DataFrame(
                        {
                            "symbol": symbol,
                            "timestamp": pd.to_datetime(ts, unit="ms"),
                            "price": pd.array(page["p"], dtype="float64"),
                            "volume": pd.array(page["v"], dtype="float64"),
                            "tick_id": pd.array(
                                [skip + i for i in range(len(ts))], dtype="int64"
                            ),
                        }
                    )
                    if len(ts) < batch_size:
                        break
                    skip += len(ts)

    schema = (
        "symbol string, timestamp timestamp, price double, volume double, tick_id long"
    )
    return plan.repartition("symbol", "date").mapInPandas(_run, schema=schema)
