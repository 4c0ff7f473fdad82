"""Streaming sequence packing — exact-once emission and split-parity
with a plain greedy packing loop over the whole tape (ST4 shape: O(1)
keyed state per source, no watermark)."""

from __future__ import annotations

import glob
import shutil

import pytest

from auto_trade_data_pipeline_spark.streaming import run_available_now
from auto_trade_data_pipeline_spark.streaming.packing import streaming_sequence_packing

DOCS = "source string, doc_id long, n_tokens long"

_CAP = 64


def _docs(n=120):
    rows = []
    for i in range(n):
        src = ("web", "books", "code")[i % 3]
        # Sizes hit every fold branch: tiny (pack many), near-capacity
        # (pack one), oversize (occupy a bin alone).
        n_tok = (7, 30, 63, 64, 65, 90, 1, 40)[i % 8]
        rows.append((src, i, n_tok))
    return rows


def _stream_dir(spark, tmp_path, batches):
    data_dir = tmp_path / "pack_stream"
    data_dir.mkdir()
    for b, rows in enumerate(batches):
        df = spark.createDataFrame(rows, DOCS).coalesce(1)
        df.write.parquet(f"{tmp_path}/pk{b}")
        for i, f in enumerate(glob.glob(f"{tmp_path}/pk{b}/part-*.parquet")):
            shutil.copy(f, data_dir / f"f_{b}_{i}.parquet")
    return str(data_dir)


def _greedy_bins(rows):
    """Reference packing, written independently of the engine: per
    source in doc_id order, a bin absorbs documents while its fill
    stays <= capacity; a document that does not fit opens the next
    bin."""
    state, out = {}, []
    for src, doc_id, n in sorted(rows, key=lambda r: (r[0], r[1])):
        b, fill = state.get(src, (0, 0))
        b, fill = (b + 1, n) if b == 0 or fill + n > _CAP else (b, fill + n)
        state[src] = (b, fill)
        out.append((src, doc_id, n, b))
    return out


def _key(r):
    return (r["source"], r["doc_id"], r["n_tokens"], r["bin_id"])


@pytest.mark.parametrize("splits", [1, 3, 5])
def test_streamed_packing_equals_batch_fold(spark, tmp_path, splits):
    rows = _docs()
    k = len(rows) // splits
    batches = [rows[i * k : (i + 1) * k] for i in range(splits - 1)]
    batches.append(rows[(splits - 1) * k :])
    path = _stream_dir(spark, tmp_path, batches)

    stream = (
        spark.readStream.format("parquet")
        .schema(DOCS)
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )
    out = run_available_now(
        streaming_sequence_packing(stream, _CAP),
        f"t_stream_pack_{splits}",
        output_mode="append",
    )
    got = sorted(_key(r) for r in out.collect())
    want = sorted(_greedy_bins(rows))
    assert got == want

    # Exactly-once: one output row per input document.
    assert len(got) == len(rows)


def test_oversize_doc_occupies_bin_alone(spark, tmp_path):
    rows = [("s", 0, 10), ("s", 1, 200), ("s", 2, 10)]
    path = _stream_dir(spark, tmp_path, [rows])
    stream = spark.readStream.format("parquet").schema(DOCS).load(path)
    out = run_available_now(
        streaming_sequence_packing(stream, _CAP), "t_stream_pack_big", "append"
    )
    bins = {r["doc_id"]: r["bin_id"] for r in out.collect()}
    # doc 1 does not fit -> opens bin 2 alone; doc 2 opens bin 3
    # (the fold never back-fills bin 1 even though doc 2 would fit).
    assert bins == {0: 1, 1: 2, 2: 3}
