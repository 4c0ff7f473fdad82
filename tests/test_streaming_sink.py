"""Commit markers and the foreachBatch apply of the exactly-once
streaming sinks.

Every table path, plain or URI, takes one marker transport: the Hadoop
FileSystem API of the session JVM. The tests run it on a plain path and
on a ``file://`` URI; a remote scheme (``hdfs://``, ``s3a://``) goes
through the same ``Path.getFileSystem`` calls.
"""

from __future__ import annotations

import os

import pytest


@pytest.mark.parametrize("uri", [False, True], ids=["plain", "file_uri"])
def test_marker_roundtrip_via_hadoop_fs_api(spark, tmp_path, uri):
    """commit / exists / committed on one table path; markers are
    single entries next to the table, and a marker an older table
    wrote as a file still counts."""
    from auto_trade_data_pipeline_spark.streaming.sink import (
        _MarkerStore,
        committed_batches,
    )

    table = f"file://{tmp_path}/t" if uri else str(tmp_path / "t")
    store = _MarkerStore(table, spark=spark)
    assert store.committed() == set()
    assert not store.exists(0)
    store.commit(0)
    store.commit(7)
    assert store.exists(0) and store.exists(7) and not store.exists(3)
    assert store.committed() == {0, 7}
    # re-commit is an idempotent no-op
    store.commit(7)
    assert store.committed() == {0, 7}
    # the markers sit next to the table dir, nothing else beside them
    # (ignore the ChecksumFileSystem's .crc sidecars)
    local = tmp_path / "t.__commits"
    assert sorted(n for n in os.listdir(local) if not n.startswith(".")) == ["0", "7"]
    # a marker written as a file (the older form) is read too
    (local / "3").write_text("committed")
    assert store.exists(3)
    # and the public helper reads them through the same path
    assert committed_batches(table) == {0, 3, 7}


def test_stream_upsert_exactly_once_via_file_uri(spark, tmp_path):
    """The foreachBatch apply itself works against a file:// table:
    batch replay with the same id is skipped, value idempotence holds."""
    from auto_trade_data_pipeline_spark.streaming.sink import apply_upsert_batch

    table = f"file://{tmp_path}/snap"
    b0 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, ts int")
    assert apply_upsert_batch(b0, 0, table, ["k"], "ts") is True
    assert apply_upsert_batch(b0, 0, table, ["k"], "ts") is False  # replay skipped
    b1 = spark.createDataFrame([(2, "B", 2)], "k int, v string, ts int")
    assert apply_upsert_batch(b1, 1, table, ["k"], "ts") is True
    got = {(r.k, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "a"), (2, "B")}


def test_stream_cdc_exactly_once_via_file_uri(spark, tmp_path):
    """The CDC apply against a file:// table: a replayed batch id is
    skipped even when its rows differ, the next batch applies with
    tombstones, and the swaps leave no staging or backup directory."""
    from auto_trade_data_pipeline_spark.streaming.sink import (
        apply_cdc_batch,
        committed_batches,
    )

    table = f"file://{tmp_path}/cdc"
    schema = "k int, v string, seq int, op string"
    b0 = spark.createDataFrame([(1, "a", 1, "I"), (2, "b", 1, "I")], schema)
    assert apply_cdc_batch(b0, 0, table, ["k"], "seq") is True
    garbage = spark.createDataFrame([(1, "zz", 9, "D")], schema)
    assert apply_cdc_batch(garbage, 0, table, ["k"], "seq") is False  # replay skipped
    b1 = spark.createDataFrame([(2, None, 2, "D"), (3, "c", 2, "I")], schema)
    assert apply_cdc_batch(b1, 1, table, ["k"], "seq") is True
    assert {tuple(r) for r in spark.read.parquet(table).collect()} == {(1, "a"), (3, "c")}
    assert committed_batches(table) == {0, 1}
    tags = (".__staging_", ".__old_")
    assert [p.name for p in tmp_path.iterdir() if any(t in p.name for t in tags)] == []


def test_redrain_with_fresh_checkpoint_skips_marked_batches(spark, sf_small, tmp_path):
    """Drain the same tick slices twice into one table, the second time
    with a fresh checkpoint: the replayed batch ids are all marked, so
    the sink skips them and the table stays as the first drain left it.
    A skipped batch must still run, or the watermarked aggregation's
    state stores stay uncommitted and the drain fails
    (STATE_STORE_COMMIT_VALIDATION_FAILED)."""
    import pyarrow.parquet as pq

    from auto_trade_data_pipeline_spark.streaming.candles import (
        read_ticks_stream,
        streaming_candles,
    )
    from auto_trade_data_pipeline_spark.streaming.sink import (
        committed_batches,
        stream_upsert_writer,
    )

    events = pq.read_table(f"{sf_small}/events.parquet").sort_by("ts")
    src = tmp_path / "in" / "events.parquet"
    src.mkdir(parents=True)
    n_slices = 5
    step = -(-events.num_rows // n_slices)
    for i in range(n_slices):
        part = src / f"part-{i:05d}.parquet"
        pq.write_table(events.slice(i * step, step), part)
        # increasing mtimes: one slice per micro-batch, in event-time order
        os.utime(part, (1_700_000_000 + i, 1_700_000_000 + i))
    table = str(tmp_path / "table")

    def drain(checkpoint: str) -> None:
        ticks = read_ticks_stream(spark, str(tmp_path / "in"), max_files_per_trigger=1)
        q = (
            streaming_candles(ticks, watermark="1 minute")
            .writeStream.foreachBatch(
                stream_upsert_writer(table, ["symbol", "timestamp"], "timestamp")
            )
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def snapshot() -> set[tuple]:
        return {tuple(r) for r in spark.read.parquet(table).collect()}

    drain("checkpoint_1")
    first, marked = snapshot(), committed_batches(table)
    assert first and marked
    drain("checkpoint_2")
    assert snapshot() == first
    assert committed_batches(table) == marked
