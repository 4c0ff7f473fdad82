"""S2-S3: the rate limiter and retry policy of the paginated REST tick
source (``sources/pyds.py``, ``format("trade_rest")``).

Reference semantics (``src/fetch_historical_trades_nvda.py``):
- S2 rate limit: sliding 60 s window, <=130 calls/min (``:84-94``);
- S3 retry: 5 attempts, exponential backoff 1 -> 10 s (``:146-183``).

Each Spark task builds its own limiter with its share of the API
budget (a driver-side global limiter cannot distribute; divide the
budget by concurrent tasks).
"""

from __future__ import annotations

import time
from collections import deque
from collections.abc import Callable

__all__ = ["RateLimiter", "with_retry"]


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
