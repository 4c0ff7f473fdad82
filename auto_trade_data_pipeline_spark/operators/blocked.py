"""Scale-safe evaluation of bounded ROWS windows (SURVEY §4, VERDICT
round-1 scale-killer): per-symbol window functions serialize on one
task per symbol — with the reference's single-symbol workload that is
ONE task sorting everything. For frames bounded by `lookback`
preceding rows, this module computes identical results with uniform
parallelism:

1. a global per-symbol row sequence is derived WITHOUT a per-symbol
   sort: rows get within-day row numbers (parallel across
   (symbol, day) groups), and day offsets come from a tiny
   (symbol, day, count) table cum-summed and broadcast back;
2. rows are bucketed into fixed-size blocks of `block_size` >=
   lookback rows; the last `lookback` rows of each block are ALSO
   sent to the next block as non-emitting overlap;
3. the window runs per (symbol, block) — every row still sees its
   full `lookback` preceding rows, blocks run in parallel, and
   per-task memory is O(block_size), independent of symbol skew.

The emitted rows are bit-identical to the symbol-global window
(asserted in tests): the frame contents are the same rows in the
same order, so even floating aggregation order is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["blocked_rows_window", "blocked_copies", "INTERNAL_COLS"]

#: Columns added internally; callers' frames must not collide.
_INTERNAL = ("__day", "__r", "__off", "__seq", "__grp", "__emit")
INTERNAL_COLS = _INTERNAL


def blocked_copies(
    df: DataFrame,
    lookback: int,
    block_size: int = 4096,
    ts_col: str = "timestamp",
) -> DataFrame:
    """The sequence + overlap-copy half of the blocked evaluator,
    reusable by any per-(symbol, block) computation (window functions
    here; the tail-chunked applyInPandas indicator kernel in
    operators/indicators.py). Adds ``__seq`` (global per-symbol row
    number, derived without a per-symbol sort), ``__grp`` (block id)
    and ``__emit`` (False for the overlap copies feeding the next
    block's first rows); every row lands in its own block plus, when
    within `lookback` of the block end, as a non-emitting copy in the
    next block. Requires a total per-symbol order on `ts_col`."""
    if block_size < lookback:
        raise ValueError("block_size must be >= lookback")

    day = F.to_date(ts_col)
    d = df.withColumn("__day", day)

    # Tiny side table: per-(symbol, day) row counts -> cumulative
    # offsets. |symbols| x |days| rows; the window over it is cheap.
    sizes = d.groupBy("symbol", "__day").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.partitionBy("symbol")
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "symbol",
        "__day",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )

    w_day = Window.partitionBy("symbol", "__day").orderBy(ts_col)
    d = (
        d.withColumn("__r", F.row_number().over(w_day))
        .join(F.broadcast(offsets), ["symbol", "__day"])
        .withColumn("__seq", F.col("__off") + F.col("__r"))
    )

    # Each row emits itself into its own block, plus — when it sits in
    # the last `lookback` rows of the block — a non-emitting overlap
    # copy into the next block. One conditional explode: the upstream
    # plan is scanned ONCE (a union of main/carry branches would
    # recompute everything above this operator twice).
    blk = ((F.col("__seq") - 1) / block_size).cast("long")
    is_carry = ((F.col("__seq") - 1) % block_size) >= block_size - lookback
    copies = F.array(
        F.struct(blk.alias("grp"), F.lit(True).alias("emit")),
        F.when(is_carry, F.struct((blk + 1).alias("grp"), F.lit(False).alias("emit"))),
    )
    return (
        d.withColumn("__c", F.explode(F.filter(copies, lambda x: x.isNotNull())))
        .withColumn("__grp", F.col("__c.grp"))
        .withColumn("__emit", F.col("__c.emit"))
        .drop("__c")
    )


def blocked_rows_window(
    df: DataFrame,
    lookback: int,
    apply_fn: Callable[[DataFrame, str], DataFrame],
    block_size: int = 4096,
    ts_col: str = "timestamp",
) -> DataFrame:
    """Evaluate `apply_fn(df, order)` — which must only add columns
    via window functions whose frames reach at most `lookback` ROWS
    back (frame aggs, lag up to `lookback`) — with block-level
    parallelism instead of symbol-level. `order` is the window's SQL
    ``PARTITION BY … ORDER BY …`` clause over the blocks; callers put
    their own ROWS frames after it, so several window families share
    one sequence/overlap computation in the SAME pass. Requires a
    total per-symbol order on `ts_col` (unique timestamps per symbol,
    e.g. candles)."""
    u = blocked_copies(df, lookback, block_size, ts_col)
    out = apply_fn(u, "PARTITION BY symbol, __grp ORDER BY __seq")
    return out.filter(F.col("__emit")).drop(*_INTERNAL)
