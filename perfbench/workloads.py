"""The benchmark workloads.

Each workload makes its inputs from the seed, builds its outputs
through the engine's public functions (``build``), and runs them to the
``noop`` sink (``execute``). ``spans`` names the public calls the traced
run wraps, one layer each; ``checks`` compares the outputs with the
repo's DuckDB oracles.

- ``batch_session``: reference stages 2 + 3 in one job, ticks ->
  validation -> 1-s candles -> window families -> indicator kernel ->
  anchors. Its work is all in the candle-side layers.
- ``stream_upsert``: the reference's live mode plus its dedup-merge
  into the candle file: a file-source tick stream -> watermarked 1-s
  candles in the state store -> ``foreachBatch`` keyed upsert with
  commit markers. One drain (``availableNow``, one slice per
  micro-batch) into fresh table, marker and checkpoint directories is
  one iteration; its micro-batches are what the run times.
- ``dedup_corpus``: the composed LLM-corpus pipeline (quality gate,
  exact and MinHash-LSH near-dup dedup, connected components, split,
  packing). Most of its time is spent in jobs launched while the
  DataFrame is built, so it measures job orchestration by the Spark
  application and bypasses every tick layer.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from types import ModuleType

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from auto_trade_data_pipeline_spark import pipeline
from auto_trade_data_pipeline_spark.corpus import REGISTRY
# Imported for their side effect: they register the anchored_vwap_* and
# streaming_candles_replay oracles.
from auto_trade_data_pipeline_spark.corpus import anchors as corpus_anchors  # noqa: F401
from auto_trade_data_pipeline_spark.corpus import stream as corpus_stream  # noqa: F401
from auto_trade_data_pipeline_spark.corpus import ext
from auto_trade_data_pipeline_spark.corpus.trade import TICKS_CTE, TS_FMT_SPARK
from auto_trade_data_pipeline_spark.operators import graph
from auto_trade_data_pipeline_spark.operators import text as TX
from auto_trade_data_pipeline_spark.sources import files
from auto_trade_data_pipeline_spark.streaming import candles as stream_candles
from auto_trade_data_pipeline_spark.streaming import sink as stream_sink


@dataclass(frozen=True)
class Span:
    """One public call the traced run wraps: ``module.attr`` belongs to
    ``layer`` and is timed as ``name``. With ``materialize`` its result
    is persisted and run, so the layer's time is its own; ``input_name``
    first materializes the call's first argument under that name."""

    module: ModuleType
    attr: str
    layer: str
    name: str
    materialize: bool = True
    input_name: str | None = None


def ts(col):
    return F.date_format(col, TS_FMT_SPARK)


CANDLE_COLS = "symbol, bucket_ts, open, high, low, close, volume, number_of_trades, vwap"


def candle_projection(candles: DataFrame) -> DataFrame:
    """The candle queries' output formatting of a candle table."""
    return candles.select(
        "symbol", ts("timestamp").alias("bucket_ts"), "open", "high", "low", "close",
        F.round("volume", 4).alias("volume"), "number_of_trades", F.round("vwap", 4).alias("vwap"),
    )


def execute(outputs: dict[str, DataFrame]) -> None:
    for df in outputs.values():
        df.write.mode("overwrite").format("noop").save()


class BatchSession:
    name = "batch_session"
    #: 4 symbols x ~3 ticks/s over the first quarter hour of the session:
    #: ~10.8 k ticks, ~3.4 k candles, ~3.1 ticks per candle.
    N_SYMBOLS, TICKS_PER_S, SESSION_S = 4, 3.0, 900

    spans = (
        Span(files, "ticks_from_events", "sources", "sources.load"),
        Span(pipeline, "validate_split", "validation", "validation.split"),
        Span(pipeline, "aggregate_candles", "candles", "candles.aggregate"),
        Span(pipeline, "with_local_time", "windows", "windows.families", False),
        Span(pipeline, "with_session_flags", "windows", "windows.families", False),
        Span(pipeline, "with_bollinger", "windows", "windows.families", False),
        Span(pipeline, "with_volume_spike", "windows", "windows.families"),
        Span(pipeline, "enrich_indicators", "indicators", "indicators.kernel"),
        Span(pipeline, "anchored_vwap_points", "anchors", "anchors.points"),
        Span(pipeline, "fill_anchored_vwap", "anchors", "anchors.fill"),
    )
    #: Fixed warm-up iterations after the cold one, and the least number
    #: of timed ones (see ``run.py``). The timed count is sized to take
    #: longer than the run's ``--seconds``, so it is the same in every
    #: run: the iterations still get a little faster, and a count that
    #: varied with the host's speed would move the median.
    warmup, min_timed = 2, 4


    def make_inputs(self, seed: int, in_dir: str) -> dict:
        ticks = gen.make_ticks(seed, self.N_SYMBOLS, self.TICKS_PER_S, self.SESSION_S)
        gen.write_events(in_dir, ticks)
        return {**gen.tick_manifest(ticks), "invalid_ticks": 0}

    def build(self, spark: SparkSession, in_dir: str) -> dict[str, DataFrame]:
        r = pipeline.run_batch_pipeline(files.ticks_from_events(spark, in_dir))
        return {
            "invalid_ticks": r.invalid_ticks,
            "candles": r.candles,
            "calculated": r.calculated,
            "anchors": r.anchors,
        }

    def counted(self, results: dict) -> dict[str, DataFrame]:
        """Traced-span results whose row counts are per-layer metrics."""
        split = results["validation.split"]
        return {
            "invalid_rows": split.invalid,
            "valid_ticks": split.valid,
            "candles": results["candles.aggregate"],
            "anchor_points": results["anchors.points"],
        }

    def checks(self, outputs: dict[str, DataFrame]) -> list[tuple[str, DataFrame, str]]:
        """(name, Spark projection, oracle SQL) triples. The projections
        apply the corpus queries' output formatting to the pipeline's
        tables; the oracle side selects the same columns from the
        registered oracle."""
        c, a = outputs["candles"], outputs["anchors"]
        point_cols = (
            "symbol, timeframe, anchor_type, anchor_ts, anchor_idx, price_at_anchor, "
            "snapshot_ts, current_idx"
        )
        return [
            (
                "candles_1s",
                candle_projection(c),
                f"SELECT {CANDLE_COLS} FROM ({REGISTRY['candles_1s'].oracle})",
            ),
            (
                "anchored_vwap_points",
                a.select(
                    "symbol", "timeframe", "anchor_type",
                    ts("anchor_timestamp").alias("anchor_ts"), "anchor_idx",
                    F.round("price_at_anchor", 4).alias("price_at_anchor"),
                    ts("current_snapshot_timestamp").alias("snapshot_ts"), "current_idx",
                ),
                f"SELECT {point_cols} FROM ({REGISTRY['anchored_vwap_points'].oracle})",
            ),
            (
                "anchored_vwap_filled",
                a.select(
                    "symbol", "anchor_type", ts("anchor_timestamp").alias("anchor_ts"),
                    ts("current_snapshot_timestamp").alias("snapshot_ts"),
                    F.round("price_at_anchor", 4).alias("price_at_anchor"),
                    F.round("anchored_vwap", 4).alias("anchored_vwap"),
                ),
                REGISTRY["anchored_vwap_filled"].oracle,
            ),
            (
                "invalid_ticks",
                outputs["invalid_ticks"],
                f"WITH {TICKS_CTE} SELECT * FROM ticks WHERE NOT coalesce(price IS NOT NULL "
                "AND volume IS NOT NULL AND price > 0 AND volume >= 0 "
                "AND timestamp IS NOT NULL, FALSE)",
            ),
        ]


class DedupCorpus:
    name = "dedup_corpus"
    #: 300 documents, 10 % exact copies and 10 % near-duplicate copies.
    N_DOCS, EXACT_SHARE, NEAR_SHARE = 300, 0.10, 0.10

    spans = (
        Span(ext, "load_table", "sources", "sources.load"),
        Span(TX, "shingle_rows", "text", "text.shingle", input_name="text.exact_dedup"),
        Span(TX, "minhash_signature_rows", "text", "text.minhash"),
        Span(TX, "lsh_candidate_pairs", "text", "text.lsh"),
        Span(TX, "jaccard_verify_rows", "text", "text.verify"),
        Span(graph, "connected_components", "graph", "graph.cc"),
        Span(TX, "pack_sequences", "text", "text.pack"),
    )

    warmup, min_timed = 2, 3

    def make_inputs(self, seed: int, in_dir: str) -> dict:
        docs, exact, near = gen.make_documents(
            seed, self.N_DOCS, self.EXACT_SHARE, self.NEAR_SHARE
        )
        pq.write_table(docs, os.path.join(in_dir, "documents.parquet"))
        return {
            "documents": docs.num_rows,
            "exact_copies": exact,
            "near_copies": near,
            "duplicate_share": round((exact + near) / docs.num_rows, 4),
        }

    def build(self, spark: SparkSession, in_dir: str) -> dict[str, DataFrame]:
        return {"packed": REGISTRY["llm_corpus_pipeline"].fn(spark, in_dir)}

    def counted(self, results: dict) -> dict[str, DataFrame]:
        return {"lsh_candidates": results["text.lsh"], "verified_pairs": results["text.verify"]}

    def checks(self, outputs: dict[str, DataFrame]) -> list[tuple[str, DataFrame, str]]:
        return [
            ("llm_corpus_pipeline", outputs["packed"], REGISTRY["llm_corpus_pipeline"].oracle)
        ]


class StreamUpsert:
    name = "stream_upsert"
    #: 4 symbols x ~1 tick/s over the first 4 minutes of the session, in
    #: 1-minute event-time slices: ~1 k ticks, ~240 per micro-batch, 5
    #: micro-batches per drain (the last one has no data and only
    #: advances the watermark). With a 1-minute watermark every batch
    #: from the second on closes the candles of the slice before and
    #: upserts them into the growing table.
    N_SYMBOLS, TICKS_PER_S, SESSION_S, SLICE_S = 4, 1.0, 240, 60
    WATERMARK = "1 minute"
    KEYS, ORDER = ["symbol", "timestamp"], "timestamp"

    spans = (Span(stream_candles, "read_ticks_stream", "sources", "sources.load", False),)
    #: Warm-up drains after the cold one (whose later batches warm up
    #: too); at least ``min_timed`` drains are timed.
    warmup, min_timed = 1, 2

    def make_inputs(self, seed: int, in_dir: str) -> dict:
        ticks = gen.make_ticks(seed, self.N_SYMBOLS, self.TICKS_PER_S, self.SESSION_S)
        slices = gen.write_event_slices(in_dir, ticks, self.SLICE_S)
        return {**gen.tick_manifest(ticks), "slices": slices, "slice_s": self.SLICE_S}

    def drain(self, spark: SparkSession, in_dir: str, out_dir: str, wrap=None) -> list[dict]:
        """Drain every slice into a fresh table under ``out_dir`` (its
        commit markers and the checkpoint live there too) and return the
        query's progress records. ``wrap(writer, table)`` may replace the
        ``foreachBatch`` writer."""
        shutil.rmtree(out_dir, ignore_errors=True)
        table = self.table(out_dir)
        writer = stream_sink.stream_upsert_writer(table, self.KEYS, self.ORDER)
        if wrap is not None:
            writer = wrap(writer, table)
        ticks = stream_candles.read_ticks_stream(spark, in_dir, max_files_per_trigger=1)
        q = (
            stream_candles.streaming_candles(ticks, watermark=self.WATERMARK)
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [json.loads(p.json) for p in q.recentProgress]

    @staticmethod
    def table(out_dir: str) -> str:
        return os.path.join(out_dir, "table")

    def checks(self, outputs: dict[str, DataFrame]) -> list[tuple[str, DataFrame, str]]:
        """The drained table holds exactly the candles the final
        watermark closed: the ``streaming_candles_replay`` contract,
        stated by its oracle for a 10-minute watermark and restated here
        for this stream's."""
        oracle = REGISTRY["streaming_candles_replay"].oracle
        if oracle.count("INTERVAL 10 MINUTE") != 1:
            raise RuntimeError("the streaming_candles_replay oracle no longer states its watermark")
        return [
            (
                "streaming_candles_replay",
                candle_projection(outputs["table"]),
                oracle.replace("INTERVAL 10 MINUTE", f"INTERVAL {self.WATERMARK.upper()}"),
            )
        ]


WORKLOADS = {w.name: w for w in (BatchSession(), StreamUpsert(), DedupCorpus())}
