"""End-to-end pipeline: the three reference stages as one job, with
checkpointed outputs round-tripping, and the one candle table that
every derived output reads."""

from __future__ import annotations

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.pipeline import run_batch_pipeline
from auto_trade_data_pipeline_spark.plan_audit import _walk, file_scans
from auto_trade_data_pipeline_spark.sources import ticks_from_events


def _run(result) -> None:
    for df in (result.invalid_ticks, result.candles, result.calculated, result.anchors):
        df.write.mode("overwrite").format("noop").save()


def test_batch_pipeline_end_to_end(spark, sf_small, tmp_path):
    ticks = ticks_from_events(spark, sf_small)
    out = run_batch_pipeline(ticks, output_dir=str(tmp_path / "out"))

    n_ticks = ticks.count()
    assert out.invalid_ticks.count() + (
        out.candles.agg(F.sum("number_of_trades")).first()[0]
    ) == n_ticks  # every tick is either quarantined or in a candle

    # The calculated table carries the full surface on every candle.
    assert out.calculated.count() == out.candles.count()
    assert {"adx", "t3", "bb_upper", "is_morning", "CDLDOJI"} <= set(out.calculated.columns)

    # Anchors exist and their filled VWAP respects candle price bounds.
    a = out.anchors.filter(F.col("anchored_vwap").isNotNull())
    assert a.count() > 0
    lo, hi = ticks.agg(F.min("price"), F.max("price")).first()
    bad = a.filter((F.col("anchored_vwap") < lo - 1e-6) | (F.col("anchored_vwap") > hi + 1e-6))
    assert bad.count() == 0

    # Checkpoints round-trip.
    assert spark.read.parquet(str(tmp_path / "out/candles_1s")).count() == out.candles.count()
    assert (
        spark.read.parquet(str(tmp_path / "out/anchored_vwap_points_1s")).count()
        == out.anchors.count()
    )


def test_candles_materialized_once_and_shared(spark, sf_small):
    """Every candle consumer reads one materialized candle relation:
    the executed plans of ``candles``, ``calculated`` and ``anchors``
    (the points kernel and the VWAP fill both read candles) scan no
    events file and read one checkpointed candle RDD, computed by the
    first of them to run. Without it every candle read re-runs scan ->
    validate -> aggregate: five events scans (one each in candles and
    calculated, three in anchors)."""
    r = run_batch_pipeline(ticks_from_events(spark, sf_small))
    _run(r)
    plans = [
        df._jdf.queryExecution().executedPlan() for df in (r.candles, r.calculated, r.anchors)
    ]
    assert file_scans(plans)["events.parquet"] == 0
    rdds = [
        [n.rdd() for n in _walk(p) if n.getClass().getSimpleName() == "RDDScanExec"]
        for p in plans
    ]
    assert all(rdds) and len({rdd.id() for rs in rdds for rdd in rs}) == 1
    assert rdds[0][0].isCheckpointed()


def test_pipeline_runs_add_no_cache_entries(spark, sf_small):
    """The candle table is not a cache-manager entry: a loop of runs
    leaves nothing for the caller to free."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    start = cache.numCachedEntries()
    for _ in range(2):
        _run(run_batch_pipeline(ticks_from_events(spark, sf_small)))
        assert cache.numCachedEntries() == start


def test_rerun_reads_changed_input(spark, sf_small, tmp_path):
    """A second run in the same session over the same path, after its
    files changed, computes all four outputs from the new files: no
    candle table of the first run is matched against the second."""
    sf = tmp_path / "sf"
    sf.mkdir()
    events = pq.read_table(f"{sf_small}/events.parquet")
    pq.write_table(events, sf / "events.parquet")
    _run(run_batch_pipeline(ticks_from_events(spark, str(sf))))

    symbol = events.column("event_type")[0].as_py()
    kept = events.filter(pc.equal(events.column("event_type"), symbol))
    pq.write_table(kept, sf / "events.parquet")
    r = run_batch_pipeline(ticks_from_events(spark, str(sf)))
    _run(r)
    trades = r.candles.agg(F.sum("number_of_trades")).first()[0]
    assert r.invalid_ticks.count() + trades == kept.num_rows
    for df in (r.candles, r.calculated, r.anchors):
        assert {row.symbol for row in df.select("symbol").distinct().collect()} == {symbol}
