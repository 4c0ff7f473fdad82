"""Per-key recursive scans: one ordered pass per key over its whole tape.

The recursive indicators (EMA, Wilder ATR, Kalman, Holt, the
Heikin-Ashi open) and doc-atomic sequence packing are left-to-right
scalar folds — inherently per-key sequential. :func:`scan_by_key` runs
them as one Arrow-batched ``applyInPandas`` per key: the key's rows
are stably sorted on the order column and each scan function (the
numpy kernels of ``functions/ta.py``, or :func:`greedy_pack`) maps the
sorted frame to one output column. The reference computes the same
recursions once per symbol through TA-Lib in one pandas loop
(``src/candle_to_calcs.py:386-438``).

NULL (not NaN) marks warm-up rows: float NaN crosses the Arrow
boundary as NULL, which is what the DuckDB ``list_reduce`` oracles
compare against.

Scale shape: parallelism is key cardinality and a task holds one key's
tape; a single very long tape needs the bounded-tail chunked evaluator
of ``operators/indicators.enrich_indicators`` instead.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType, _parse_datatype_string

__all__ = ["greedy_pack", "scan_by_key"]


def greedy_pack(
    n_tokens: Iterable, capacity: int, bin_id: int = 0, fill: int = 0
) -> tuple[list[int], int, int]:
    """Doc-atomic greedy sequence packing (LLM context-window prep).

    Documents arrive in order with their token counts; the open bin
    absorbs a document while its fill stays <= ``capacity``, otherwise
    the next bin opens with it (an oversize document sits alone in its
    bin — never split, never dropped). ``(bin_id, fill)`` is the open
    bin carried in from earlier documents (``bin_id`` 0: none yet).
    Returns the 1-based bin id of each document and the state after
    the last one."""
    bins = []
    for n in n_tokens:
        n = int(n)
        if bin_id == 0 or fill + n > capacity:
            bin_id += 1
            fill = n
        else:
            fill += n
        bins.append(bin_id)
    return bins, bin_id, fill


def scan_by_key(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
    scans: dict[str, tuple[str, Callable[[pd.DataFrame], object]]],
) -> DataFrame:
    """Run each scan over every key's tape, ordered by ``order_col``.

    ``scans`` maps an output column name to ``(spark_type_ddl, fn)``:
    ``fn(sorted_pdf)`` gets one key's rows (``key_cols`` +
    ``order_col`` + ``payload_cols``, mergesorted on ``order_col``)
    and returns one value per row. Output columns: ``key_cols`` +
    ``order_col`` + ``payload_cols`` + one column per scan; float NaN
    comes out as NULL.

    ``(key_cols, order_col)`` must be unique per row: the sort is
    stable, so rows tied on ``order_col`` would reach the recursion in
    whatever order Spark delivers them.
    """
    proj = df.select(*key_cols, order_col, *payload_cols)
    out_schema = StructType(
        list(proj.schema.fields)
        + [StructField(name, _parse_datatype_string(ddl)) for name, (ddl, _fn) in scans.items()]
    )
    items = list(scans.items())
    out_cols = [*key_cols, order_col, *payload_cols]

    def kernel(pdf):
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        out = pdf[out_cols].copy()
        for name, (_ddl, fn) in items:
            out[name] = fn(pdf)
        return out

    return proj.groupBy(*key_cols).applyInPandas(kernel, schema=out_schema)
