"""Table profiling — the ANALYZE/summary operator: per-column row,
null, exact-distinct counts and lexical min/max in ONE pass.

Shape: `stack()` unpivots the k columns to (column_name, value:string)
rows — an EXPAND, k x input rows, all map-side — then one shuffle
keyed by column_name computes every stat. An exact per-column distinct
count is inherently a shuffle of the values (there is no cheaper exact
answer), and the exact count is what keeps the profile oracle-checkable.

Values are compared as strings (lexical min/max) so one operator
covers every column type; numeric-typed extrema belong to the query
layer where the type is known.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["table_profile"]


def table_profile(df: DataFrame) -> DataFrame:
    """One row per column: (column_name, n_rows, n_nulls, n_distinct,
    min_value, max_value)."""
    cols = df.columns
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
    long = df.selectExpr(f"stack({len(cols)}, {pairs}) AS (column_name, value)")
    return long.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_nulls"),
        F.count_distinct(F.col("value")).alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
