"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference trade-data pipeline
(nileshlin/auto-trade-data-pipeline), re-expressed Spark-first.

Layout
------
- ``session``    : tuned SparkSession factory
- ``pyworker``   : the sessions' Python worker daemon
- ``schemas``    : explicit StructType registry for every logical table
- ``sources``    : batch/stream sources + sinks (REST-paginated source
                   adapter, schema-asserting scans, upsert/append sinks)
- ``operators``  : the operator library (candle aggregation, dedup,
                   validation split, window indicators, anchors, as-of
                   joins, text/dedup/similarity EXT operators)
- ``streaming``  : Structured Streaming variants (watermarked candles,
                   streaming dedup, stateful anchor tracking)

Everything is built on public PySpark 4.x DataFrame / SQL /
Structured Streaming APIs; heavy per-symbol series math uses
Arrow-batched ``applyInPandas`` kernels (numpy), never row-at-a-time
Python UDFs.
"""

__version__ = "0.1.0"
