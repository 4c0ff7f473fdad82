"""Spark 4 Python DataSource for the paginated REST tick API (S1-S3).

Reference semantics (``src/fetch_historical_trades_nvda.py``):
S1 pagination, ``stock_tick(symbol, date, limit=24000, skip=N)`` until
an empty page (``:141-183``, loop ``:344-353``), and the NY weekend
skip (``:97-99,333-335``). The source is a first-class
`spark.read.format(...)` (and `readStream`) via the Spark 4 Python
DataSource API: partition planning, schema, and options live behind
the reader interface, and the engine schedules one task per
(symbol, trading day) partition exactly like any file source.

    spark.dataSource.register(TickRestDataSource)
    df = (spark.read.format("trade_rest")
          .option("symbols", "NVDA,AAPL")
          .option("start", "2024-01-02").option("end", "2024-01-31")
          .option("fetch_provider", "my_pkg.client:fetch_page")
          .load())

`fetch_provider` is a "module:function" import path resolved ON THE
EXECUTOR (options are strings; callables do not serialize) with the
page contract f(symbol, date_iso, limit, skip) -> {"t": [epoch_ms...],
"p": [...], "v": [...]} — empty "t" ends pagination. No HTTP client
ships here (no network in this build); `synthetic_fetch` is a deterministic in-repo provider that
exercises the full pagination path and makes the source usable
out of the box.

Scale shape: the partition grid is (symbols x weekdays) — thousands
of independent tasks, each rate-limited to its share of the API
budget (`calls_per_min / tasks_sharing_budget`, a static split:
a distributed limiter needs an external token service); retries with
exponential backoff per page (`sources/rest.py`).
Reference: src/fetch_historical_trades_nvda.py:96-170 (requests
loop), :379-381 (per-day process pool).
"""

from __future__ import annotations

import importlib
from datetime import date as date_t
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

__all__ = ["TickRestDataSource", "synthetic_fetch", "TICK_SCHEMA_DDL"]

TICK_SCHEMA_DDL = (
    "symbol string, timestamp timestamp, price double, volume double, tick_id long"
)


def synthetic_fetch(symbol: str, date_iso: str, limit: int, skip: int):
    """Deterministic offline page provider: 100 ticks per (symbol,
    day) at 1-minute cadence from 14:30 UTC, price seeded by a stable
    hash of (symbol, day) — honors limit/skip so multi-page
    pagination is exercised for limit < 100."""
    import hashlib

    n_total = 100
    if skip >= n_total:
        return {"t": [], "p": [], "v": []}
    seed = int(hashlib.md5(f"{symbol}|{date_iso}".encode()).hexdigest()[:8], 16)
    base_price = 100.0 + (seed % 10_000) / 100.0
    day = datetime.fromisoformat(date_iso).replace(tzinfo=timezone.utc)
    t0 = int(day.timestamp() * 1000) + (14 * 3600 + 1800) * 1000
    end = min(skip + limit, n_total)
    idx = range(skip, end)
    return {
        "t": [t0 + i * 60_000 for i in idx],
        "p": [round(base_price + ((seed >> 4) % 7 + 1) * 0.01 * (i % 13), 4) for i in idx],
        "v": [float(100 + (seed + i) % 900) for i in idx],
    }


class _DayPartition(InputPartition):
    def __init__(self, symbol: str, date_iso: str):
        self.symbol = symbol
        self.date_iso = date_iso


def _resolve_provider(path: str):
    mod, _, fn = path.partition(":")
    if not fn:
        raise ValueError(
            f"fetch_provider must be 'module:function', got {path!r}"
        )
    return getattr(importlib.import_module(mod), fn)


class _Opts:
    """Shared option parsing for the batch and stream readers."""

    def __init__(self, options: dict):
        symbols = options.get("symbols", "")
        self.symbols = [s.strip() for s in symbols.split(",") if s.strip()]
        if not self.symbols:
            raise ValueError("trade_rest: 'symbols' option is required (CSV)")
        try:
            self.start = date_t.fromisoformat(options["start"])
            self.end = date_t.fromisoformat(options["end"])
        except KeyError as e:
            raise ValueError(f"trade_rest: missing required option {e}") from None
        self.provider = options.get(
            "fetch_provider",
            "auto_trade_data_pipeline_spark.sources.pyds:synthetic_fetch",
        )
        self.batch_size = int(options.get("batch_size", 24_000))
        self.calls_per_min = int(options.get("calls_per_min", 130))
        self.tasks_sharing_budget = int(options.get("tasks_sharing_budget", 4))
        self.max_attempts = int(options.get("max_attempts", 5))

    def limiter(self):
        from auto_trade_data_pipeline_spark.sources.rest import RateLimiter

        return RateLimiter(max(1, self.calls_per_min // self.tasks_sharing_budget))


def _fetch_day(fetch, symbol: str, date_iso: str, opts: _Opts, limiter):
    """One (symbol, day)'s ticks through the paginated skip/limit
    loop with rate limiting and retry — shared by the batch partition
    reader and the streaming micro-batch reader."""
    from auto_trade_data_pipeline_spark.sources.rest import with_retry

    skip = 0
    while True:
        limiter.acquire()
        page = with_retry(
            lambda: fetch(symbol, date_iso, opts.batch_size, skip),
            max_attempts=opts.max_attempts,
        )
        ts = page.get("t") or []
        if not ts:
            return
        for i, (t, p, v) in enumerate(zip(ts, page["p"], page["v"])):
            yield (
                symbol,
                datetime.fromtimestamp(t / 1000.0, tz=timezone.utc).replace(tzinfo=None),
                float(p),
                float(v),
                skip + i,
            )
        if len(ts) < opts.batch_size:
            return
        skip += len(ts)


class _TickRestReader(DataSourceReader):
    def __init__(self, options: dict):
        o = _Opts(options)
        self.symbols, self.start, self.end = o.symbols, o.start, o.end
        self.opts = o

    def partitions(self):
        # (symbol, weekday) grid — NY weekends dropped (date is the
        # unit of parallelism, as in the reference's process pool).
        out = []
        d = self.start
        while d <= self.end:
            if d.isoweekday() not in (6, 7):
                for s in self.symbols:
                    out.append(_DayPartition(s, d.isoformat()))
            d += timedelta(days=1)
        return out

    def read(self, partition: _DayPartition):
        fetch = _resolve_provider(self.opts.provider)
        yield from _fetch_day(
            fetch, partition.symbol, partition.date_iso, self.opts, self.opts.limiter()
        )


class _TickRestStreamReader(SimpleDataSourceStreamReader):
    """Streaming form: the offset is the next unfetched trading day
    ({"next_day": iso}); each micro-batch ingests ONE trading day for
    every symbol and advances the offset — the day is the replay unit,
    so `readBetweenOffsets` re-produces any committed batch exactly
    (deterministic provider => exactly-once downstream of the
    checkpoint). Days past the `end` option yield empty batches
    (offset parks at end+1). This is the working form of the
    reference's `NotImplementedError`'d stream ingest
    (src/fetch_historical_trades_nvda.py:360-362).

    Trigger note: `availableNow` snapshots the SimpleStreamReader's
    one-batch prefetch, so it drains a single day per run; a
    continuous trigger (default / processingTime) ingests day after
    day until the offset parks at `end` + 1."""

    def __init__(self, options: dict):
        self.opts = _Opts(options)

    def initialOffset(self) -> dict:
        return {"next_day": self.opts.start.isoformat()}

    def _next_trading_day(self, d: date_t) -> date_t:
        while d.isoweekday() in (6, 7):
            d += timedelta(days=1)
        return d

    def _day_rows(self, day: date_t):
        fetch = _resolve_provider(self.opts.provider)
        limiter = self.opts.limiter()
        for s in self.opts.symbols:
            yield from _fetch_day(fetch, s, day.isoformat(), self.opts, limiter)

    def read(self, start: dict):
        day = self._next_trading_day(date_t.fromisoformat(start["next_day"]))
        if day > self.opts.end:
            return [], start
        # Materialized (not a generator): the engine's prefetch cache
        # copy.copy()s the returned iterator to serve both the current
        # batch and a later readBetweenOffsets replay — a day of ticks
        # is the batch unit and lives in the prefetch cache either way.
        return list(self._day_rows(day)), {
            "next_day": (day + timedelta(days=1)).isoformat()
        }

    def readBetweenOffsets(self, start: dict, end: dict):
        day = self._next_trading_day(date_t.fromisoformat(start["next_day"]))
        stop = date_t.fromisoformat(end["next_day"])
        while day < stop and day <= self.opts.end:
            yield from self._day_rows(day)
            day = self._next_trading_day(day + timedelta(days=1))


class TickRestDataSource(DataSource):
    """`spark.read.format("trade_rest")` / `spark.readStream.format(
    "trade_rest")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "trade_rest"

    def schema(self) -> str:
        return TICK_SCHEMA_DDL

    def reader(self, schema) -> DataSourceReader:
        return _TickRestReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _TickRestStreamReader(self.options)
