"""File scans (S4) — schema-asserted parquet/CSV reads.

Reference behavior being replicated: read, assert expected columns,
parse timestamps, reject-all on malformed input
(``src/aggregator_candles.py:61-98``, ``src/candle_to_calcs.py:593-609``).
Spark-first translation: Parquet carries types, so "parse ts" becomes a
schema assertion; CSV reads get the declared StructType (never
inferSchema) plus an explicit ``to_timestamp`` for the reference's
``"%Y-%m-%d %H:%M:%S.%f UTC"`` string format
(``src/fetch_historical_trades_nvda.py:48``).

Scan efficiency at 100 TB: we always read through the declared schema
and select only declared columns, so Catalyst prunes the parquet
ReadSchema; filters applied by callers push down to row-group level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from auto_trade_data_pipeline_spark import schemas
from auto_trade_data_pipeline_spark.plan_audit import _walk

#: The reference's on-disk timestamp format (``fetch_historical_trades_nvda.py:48``):
#: "2024-01-02 14:30:00.123456 UTC".  For Spark's parser the literal
#: "UTC" tail is matched after stripping.
REF_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
REF_TS_REGEX = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6} UTC$"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) as parquet.

    Tables with a pinned schema in :mod:`schemas` are asserted; others
    (small TPC-H dims) load as-is from the parquet footer.

    TIMESTAMP(NANOS) handling: Spark's parquet reader has no nanosecond
    timestamp type (``events.ts`` is nanos in the driver data), so we
    read nanos as raw int64 (``spark.sql.legacy.parquet.nanosAsLong``)
    and truncate to microseconds with exact integer division — the same
    truncation DuckDB applies, so oracle comparisons agree. Plain
    micro/milli timestamp columns are untouched.
    """
    # The engine's storage convention is UTC (SURVEY §1.4); pin the
    # session tz here so results do not depend on the caller's session
    # defaults (the driver may hand us an untuned SparkSession).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    expected = schemas.DRIVER_TABLES.get(name)
    if expected is None:
        return df
    actual = {f.name: f.dataType for f in df.schema.fields}
    for field in expected.fields:
        if (
            isinstance(field.dataType, T.TimestampType)
            and isinstance(actual.get(field.name), T.LongType)
        ):
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
        elif (
            isinstance(field.dataType, T.TimestampType)
            and isinstance(actual.get(field.name), T.TimestampNTZType)
        ):
            # Driver date columns are parquet TIMESTAMP without tz;
            # storage convention is UTC, and the session tz is pinned
            # UTC above, so this cast relabels without shifting.
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return schemas.assert_schema(df, expected, table=name)


#: Distinct ``event_type`` values in the driver's events table at
#: every sf (signup/error/click/view/purchase) — the symbol
#: cardinality of the tick tape, used as the key-cardinality hint for
#: the recursive-scan shape routing (operators/jvm_folds.py).
N_TICK_SYMBOLS = 5


#: Node classes that plan a shuffle: optimized logical operators
#: (Deduplicate, Intersect and Except are rewritten into these by
#: then), plus the exchanges of a cached relation's physical plan.
_SHUFFLING = frozenset(
    "Repartition RepartitionByExpression RebalancePartitions Sort Aggregate Join"
    " Window WindowGroupLimit Distinct FlatMapGroupsInPandas FlatMapCoGroupsInPandas"
    " ShuffleExchangeExec BroadcastExchangeExec".split()
)


def _shuffles(jplan) -> bool:
    """Whether ``jplan`` (logical, or a cache's physical plan) has a
    shuffle-introducing node — by node class, not plan text, where a
    column like ``JoinKey`` or a path would match."""
    for node in _walk(jplan):
        name = node.getClass().getSimpleName()
        if name in _SHUFFLING:
            return True
        if name == "InMemoryRelation" and _shuffles(node.cachedPlan()):
            return True
    return False


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Spread a scan whose file layout yields fewer input splits than
    the session's parallelism (guide §2.5 "input skew": the driver
    testdata tables are single-row-group parquet files, so every scan
    is exactly ONE task and the whole map side — token explode, gram
    hashing, candle partial aggregation — serializes on one core).

    Scale-adaptive by construction: when the scan already splits to at
    least ``defaultParallelism`` tasks (any real multi-file/multi-
    row-group table — the 100 TB case), this is a NO-OP costing one
    physical-plan inspection; the round-robin exchange only exists
    where the input cannot provide parallelism itself. Results are
    unchanged: repartition is row-preserving, and Spark's
    sort-before-repartition keeps the placement deterministic under
    task retries.

    Use ONLY where the serialized map side is expensive per row —
    gram/shingle hashing, tokenization explosions. For cheap per-row
    pipelines the exchange costs more than the serialization saves
    (measured on the tick family: kalman 0.74->1.17s, volume_bars
    0.53->0.65s interleaved A/B — fan-out reverted there; and on BPE's
    histogram build, r10 A/B — reverted there too).

    INPUT CONTRACT: ``df`` must be a RAW SCAN (no shuffle in its
    lineage). The split count is probed via ``df.rdd``, and under AQE
    converting a plan that CONTAINS shuffles to an RDD eagerly
    executes its query stages at build time — a silent
    whole-subquery materialization. Asserted below rather than
    documented-only (r9 advice): the helper is exported API."""
    spark = df.sparkSession
    if _shuffles(df._jdf.queryExecution().optimizedPlan()):
        raise ValueError(
            "fan_out_scan expects a raw scan (no shuffle in lineage); "
            "got a plan containing a shuffle-introducing operator — "
            "probing its partition count via .rdd would eagerly "
            "execute the upstream query stages under AQE"
        )
    want = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def ticks_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``events`` table onto the reference ``ticks`` schema
    (FIXTURES.md §B): ``event_type`` → symbol, ``ts`` → timestamp,
    ``value`` → price, a deterministic synthetic volume, and ``event_id``
    as the monotonically-assigned tick id (the dedup / ordered-first
    tiebreaker demanded by SURVEY §2.4's ordered-semantics note).

    Volume is ``round(abs(value)*100)`` — an INTEGER-valued double
    (a share count) — with every 10th tick forced to 0 so the
    null-VWAP path (``src/aggregator_candles.py:212``) is exercised.
    Integer-valued volumes make every downstream volume sum/avg exact
    in both engines, eliminating float-summation-order hash drift
    (SURVEY §7 hard-part 6).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.col("value").alias("price"),
        F.when(F.col("event_id") % 10 == 0, F.lit(0.0))
        .otherwise(F.round(F.abs(F.col("value")) * 100, 0))
        .alias("volume"),
        F.col("event_id").alias("tick_id"),
    )


def read_ticks(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Schema-asserted tick scan (S4). CSV path parses the reference's
    string timestamp format; parquet asserts directly."""
    if fmt == "csv":
        raw_schema = "symbol string, timestamp string, price double, volume double, tick_id long"
        raw = spark.read.csv(path, header=True, schema=raw_schema)
        df = raw.withColumn(
            "timestamp",
            F.to_timestamp(F.regexp_replace("timestamp", " UTC$", ""), REF_TS_FORMAT),
        )
    else:
        df = spark.read.schema(schemas.TICKS).parquet(path)
    return schemas.assert_schema(df, schemas.TICKS, table="ticks")


def read_candles(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Schema-asserted candle scan (S4), ``src/aggregator_candles.py:142-146``."""
    if fmt == "csv":
        raw_schema = (
            "symbol string, timestamp string, open double, high double, low double,"
            " close double, volume double, number_of_trades long, vwap double"
        )
        raw = spark.read.csv(path, header=True, schema=raw_schema)
        df = raw.withColumn(
            "timestamp",
            F.to_timestamp(F.regexp_replace("timestamp", " UTC$", ""), REF_TS_FORMAT),
        )
    else:
        df = spark.read.schema(schemas.CANDLES).parquet(path)
    return schemas.assert_schema(df, schemas.CANDLES, table="candles")
