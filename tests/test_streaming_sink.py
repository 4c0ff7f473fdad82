"""Marker-store transports for the exactly-once streaming sinks.

Round 4 refused remote URIs outright (markers were driver-local
os.rename files); round 5 routes URI paths through the Hadoop
FileSystem API so hdfs://, s3a://, and file:// tables keep their
markers next to the table on the same store. The round trip is proven
against a file:// URI, which exercises the exact same JVM code path
(Path.getFileSystem -> create/rename/exists/listStatus) as a remote
scheme.
"""

from __future__ import annotations

import os


def test_marker_store_local_and_uri_transport_selection(tmp_path):
    from auto_trade_data_pipeline_spark.streaming.sink import _MarkerStore

    assert _MarkerStore(str(tmp_path / "t")).remote is False
    assert _MarkerStore(f"file://{tmp_path}/t").remote is True
    assert _MarkerStore("s3a://bucket/table").remote is True


def test_marker_roundtrip_via_hadoop_fs_api(spark, tmp_path):
    """Round-4 verdict item 4: commit / exists / committed through
    the Hadoop FileSystem API against a file:// URI — and the marker
    files land where the local-path transport can see them too."""
    from auto_trade_data_pipeline_spark.streaming.sink import (
        _MarkerStore,
        committed_batches,
    )

    table = f"file://{tmp_path}/t"
    store = _MarkerStore(table, spark=spark)
    assert store.committed() == set()
    assert not store.exists(0)
    store.commit(0)
    store.commit(7)
    assert store.exists(0) and store.exists(7) and not store.exists(3)
    assert store.committed() == {0, 7}
    # re-commit is idempotent (rename onto an existing marker)
    store.commit(7)
    assert store.committed() == {0, 7}
    # the markers are real files next to the table dir (ignore the
    # ChecksumFileSystem's .crc sidecars)
    local = str(tmp_path / "t.__commits")
    names = [n for n in os.listdir(local) if not n.startswith(".")]
    assert sorted(names) == ["0", "7"]
    # no stray tmp files left behind
    assert not [n for n in os.listdir(local) if "__tmp" in n]
    # and the public helper reads them through the same URI
    assert committed_batches(table) == {0, 7}


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
