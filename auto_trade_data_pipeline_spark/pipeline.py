"""The three reference stages as one composable Spark job.

The reference runs ingest -> candles -> enrichment as three CLI
programs communicating through CSV files (SURVEY §3). Here the same
DAG is a library function with no intermediate file round-trips. As
in the reference, where stage 2 writes ``candles_1s`` once and stage 3
reads it for every derived table, the 1-s candle table is materialized
once per run (a local checkpoint) and every consumer reads that one
relation, so the tick scan, validation and candle aggregation run
once, not once per output. Stage boundaries can still be checkpointed
to parquet (pass ``output_dir``) to keep the reference's
restartable-stage property.

    ticks (any source: rest.fetch_trades, files.read_ticks, events)
      └─ validate_split ──────────── invalid side-output (S9)
      └─ valid ─ aggregate_candles ─ candles_1s (A1-A3), materialized once
                   ├─ enrich: local cols + sessions + kernel +
                   │  bollinger + volume spike  →  candles_calculated
                   ├─ anchored_vwap_points ─ fill_anchored_vwap
                   │  (both read the one candle relation)
                   └─ output_dir checkpoints

Reference lifecycle being replaced:
``src/fetch_historical_trades_nvda.py:356-403`` ->
``src/aggregator_candles.py:444-492`` ->
``src/candle_to_calcs.py:580-700``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from auto_trade_data_pipeline_spark import sinks
from auto_trade_data_pipeline_spark.operators.anchors import (
    anchored_vwap_points,
    fill_anchored_vwap,
)
from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
from auto_trade_data_pipeline_spark.operators.indicators import enrich_indicators
from auto_trade_data_pipeline_spark.operators.validation import (
    tick_valid_predicate,
    validate_split,
)
from auto_trade_data_pipeline_spark.operators.windows import (
    with_bollinger,
    with_local_time,
    with_session_flags,
    with_volume_spike,
)

__all__ = ["PipelineResult", "run_batch_pipeline"]


@dataclass
class PipelineResult:
    invalid_ticks: DataFrame
    candles: DataFrame
    calculated: DataFrame
    anchors: DataFrame


def run_batch_pipeline(
    ticks: DataFrame,
    timeframe_seconds: int = 1,
    flush_secs: int = 300,
    output_dir: str | None = None,
) -> PipelineResult:
    """Run the full reference DAG over a tick DataFrame and return all
    four logical tables (SURVEY §1.1). With ``output_dir`` set, each
    table is also checkpointed to parquet (restartable stages).
    The bounded ROWS windows run symbol-global; the block-parallel
    form of the same Bollinger and volume-spike builders is
    ``operators.windows.with_rolling_features_blocked``.

    ``result.candles`` is a lazy local checkpoint: the first action
    that reads it computes the candles once and keeps their blocks, and
    ``calculated``, ``anchors`` (both of its stages) and the checkpoint
    writes read those blocks instead of re-running scan, validation and
    aggregation. Its plan no longer refers to the tick source, so the
    cache manager never matches it against a later run over the same
    path (each run reads the files as they are then), and nothing has
    to be freed: Spark's ContextCleaner drops the blocks once the result
    is garbage-collected (until then they count against storage memory
    and spill to disk under pressure). Local checkpoint blocks cannot
    be recomputed, so losing an executor that holds them fails later
    reads of this result; run the pipeline again."""
    valid, invalid = validate_split(ticks, tick_valid_predicate())
    candles = aggregate_candles(valid, timeframe_seconds).localCheckpoint(eager=False)
    # Narrow native families first, the wide kernel last — no shuffle
    # ever moves the 119-column enriched rows.
    calculated = with_local_time(candles)
    calculated = with_session_flags(calculated)
    calculated = with_bollinger(calculated)
    calculated = with_volume_spike(calculated)
    calculated = enrich_indicators(calculated)
    anchors = fill_anchored_vwap(
        anchored_vwap_points(candles, f"{timeframe_seconds}s", flush_secs), candles
    )
    if output_dir is not None:
        sinks.write_append(invalid, f"{output_dir}/invalid_ticks")
        for name, df in (
            ("candles_1s", candles),
            ("candles_1s_calculated", calculated),
            ("anchored_vwap_points_1s", anchors),
        ):
            df.write.mode("overwrite").parquet(f"{output_dir}/{name}")
    return PipelineResult(
        invalid_ticks=invalid, candles=candles, calculated=calculated, anchors=anchors
    )
