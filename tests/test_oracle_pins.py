"""Hash-exact oracle pins for the window families, BPE training, the
anchor table with its anchored VWAP, and the KMV distinct-count sketch.

Each query runs on Spark and on its DuckDB oracle at sf0.001 and must
agree on column names, row count, render classes (no pandas dtype
drift) and the order-insensitive value hash — the same comparison
``tools/verify_local.py`` makes, without its sweep-manifest write.
Together they pin the values of every window-family builder
(``operators/windows.py``, plain and block-parallel), the BPE pair
stream, the anchor kernel's points and filled VWAP, the stand-alone
VWAP fill and the KMV estimate against references written
independently of them.
"""

from __future__ import annotations

import duckdb
import pytest

from auto_trade_data_pipeline_spark.corpus import load_all
from tools.verify_local import TABLES, dtype_drift, table_hash


@pytest.fixture(scope="module")
def duck(sf_small):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "session_flags",
        "rolling_window_features",
        "full_enrichment",
        "bpe_train_merges",
        "anchored_vwap_points",
        "anchored_vwap_filled",
        "anchored_vwap_fill",
        "kmv_distinct_sketch",
    ],
)
def test_query_matches_duckdb_oracle(spark, sf_small, duck, name):
    q = load_all()[name]
    sdf = q.fn(spark, sf_small)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(q.oracle)
    orows = rel.fetchall()
    assert dtype_drift(sdf.schema, rel.columns, rel.types) == []
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert len(srows) == len(orows) > 0
    assert table_hash(srows, sdf.columns) == table_hash(orows, rel.columns)
