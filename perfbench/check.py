"""Correctness of a run's outputs, outside every timed region.

Each check runs one of the repo's DuckDB oracles over the generated
input files and compares it with the Spark projection the workload
names: sorted column names, row count, pandas-dtype drift and the
order-insensitive value hash, with the same ``table_hash`` and
``dtype_drift`` the repo's own verifier uses.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import DataFrame

from tools.verify_local import dtype_drift, table_hash

TABLES = ("events", "documents")


def connect(in_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(in_dir, f"{t}.parquet")
        if os.path.isdir(path):  # a stream's slices
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare(con: duckdb.DuckDBPyConnection, sdf: DataFrame, oracle: str) -> str | None:
    """None when ``sdf`` equals the oracle's result, else the reason."""
    rel = con.sql(oracle)
    drift = dtype_drift(sdf.schema, rel.columns, rel.types)
    if drift:
        return f"dtype drift: {drift}"
    if sorted(sdf.columns) != sorted(rel.columns):
        return f"columns {sorted(sdf.columns)} != {sorted(rel.columns)}"
    srows = [tuple(r) for r in sdf.collect()]
    orows = rel.fetchall()
    if len(srows) != len(orows):
        return f"rows {len(srows)} != {len(orows)}"
    sh, oh = table_hash(srows, sdf.columns), table_hash(orows, rel.columns)
    return None if sh == oh else f"hash {sh} != {oh}"


def output_hashes(outputs: dict[str, DataFrame]) -> dict[str, str]:
    """Order-insensitive value hash of every output table."""
    return {
        name: table_hash([tuple(r) for r in df.collect()], df.columns)
        for name, df in outputs.items()
    }
