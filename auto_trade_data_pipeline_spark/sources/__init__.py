"""Sources: schema-asserting scans and the REST-paginated tick API as a
Spark 4 Python DataSource (`format("trade_rest")`, batch and
streaming)."""

from auto_trade_data_pipeline_spark.sources.files import (
    fan_out_scan,
    load_table,
    read_candles,
    read_ticks,
    ticks_from_events,
)
from auto_trade_data_pipeline_spark.sources.pyds import TickRestDataSource

__all__ = [
    "fan_out_scan",
    "load_table",
    "read_ticks",
    "read_candles",
    "ticks_from_events",
    "TickRestDataSource",
]
