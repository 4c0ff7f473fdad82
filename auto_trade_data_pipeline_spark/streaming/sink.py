"""Exactly-once streaming sink: foreachBatch + keyed upsert + batch
commit markers.

The reference's streaming mode appends each micro-batch to flat CSV
(``src/candle_to_calcs.py:751-829``) — at-least-once: a crash between
write and checkpoint re-appends the batch on restart. The
Spark-idiomatic upgrade is ``foreachBatch`` with TWO independent
idempotence layers:

1. **Transactional skip** — Structured Streaming re-delivers a batch
   with the SAME ``batch_id`` after a restart; a commit marker per
   batch id, written next to the table once the batch's write is
   published, lets the sink skip batches it already applied. This is
   the same txn-id protocol Delta's ``txnAppId``/``txnVersion``
   implements for managed tables.
2. **Idempotence by value** — the write itself is the keyed
   keep-last upsert (S7) or CDC apply, so even a replay with FRESH
   batch ids (a deleted checkpoint, a full re-run) converges to the
   identical table instead of duplicating rows.

Both sinks run one apply body, :func:`_apply_once`, and the table and
its markers go through the Hadoop FileSystem API for every path, plain
or URI. At 100 TB the snapshot-rewrite upsert becomes a Delta/Iceberg
MERGE keyed on the same columns; the foreachBatch + marker protocol is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from auto_trade_data_pipeline_spark.sinks import (
    _fs,
    _hadoop_path,
    write_cdc_snapshot,
    write_upsert_snapshot,
)

__all__ = [
    "apply_upsert_batch",
    "stream_upsert_writer",
    "committed_batches",
    "apply_cdc_batch",
    "stream_cdc_writer",
]


class _MarkerStore:
    """Batch commit markers in ``<table>.__commits/``, one entry per
    applied batch id, through the Hadoop FileSystem of the table's path
    (``Path.getFileSystem``) — a plain local path and any URI
    (``file://``, ``hdfs://``, ``s3a://``) take the same calls, so the
    markers always live next to the table on its own store.

    A marker carries no content: :meth:`commit` is one ``mkdirs`` call,
    atomic and idempotent on HDFS and the local filesystem and a single
    object write on S3A. Markers that older tables wrote as files are
    read the same way. On S3A the table swap's rename is still
    copy+delete (not atomic), so the transactional skip there is
    best-effort and correctness rests on the second layer (value
    idempotence); a transactional table format (Delta/Iceberg
    ``txnAppId``) is the production answer for object stores."""

    def __init__(self, table_path: str, spark: SparkSession | None = None):
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "no active SparkSession: marker IO needs the session JVM "
                "(pass spark= or call from a foreachBatch)"
            )
        self.fs, self.dir = _fs(spark, f"{table_path}.__commits")
        self._path = _hadoop_path(spark._jvm)

    def _marker(self, batch_id: int):
        return self._path(self.dir, str(batch_id))

    def committed(self) -> set[int]:
        if not self.fs.exists(self.dir):
            return set()
        names = (st.getPath().getName() for st in self.fs.listStatus(self.dir))
        return {int(n) for n in names if n.isdigit()}

    def exists(self, batch_id: int) -> bool:
        return self.fs.exists(self._marker(batch_id))

    def commit(self, batch_id: int) -> None:
        if not self.fs.mkdirs(self._marker(batch_id)):
            raise IOError(f"could not write commit marker {batch_id} in {self.dir}")


def committed_batches(path: str) -> set[int]:
    return _MarkerStore(path).committed()


def _apply_once(write, batch_df: DataFrame, batch_id: int, path: str, *args, **kwargs) -> bool:
    """Skip ``batch_id`` if it is already marked, else
    ``write(batch_df, path, *args, **kwargs)`` and mark it. Returns
    True if the batch was applied, False if skipped.

    A skipped batch still runs, to the ``noop`` sink: a stateful stream
    commits its state stores only when the batch's plan executes, and a
    batch left unexecuted fails the query
    (``STATE_STORE_COMMIT_VALIDATION_FAILED``). That happens when a
    fresh checkpoint replays batch ids whose markers survive."""
    store = _MarkerStore(path, spark=batch_df.sparkSession)
    if store.exists(batch_id):
        batch_df.write.mode("overwrite").format("noop").save()
        return False
    write(batch_df, path, *args, **kwargs)
    store.commit(batch_id)
    return True


def apply_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    keys: list[str],
    order_col: str,
) -> bool:
    """Apply one micro-batch exactly once (:func:`_apply_once`) as a
    keyed keep-last upsert (sinks.write_upsert_snapshot)."""
    return _apply_once(write_upsert_snapshot, batch_df, batch_id, path, keys, order_col)


def stream_upsert_writer(path: str, keys: list[str], order_col: str):
    """The function to hand to ``stream.writeStream.foreachBatch``.
    ``path`` may be a plain local path or any Hadoop-FS URI —
    ``file://``, ``hdfs://``, ``s3a://`` (see ``_MarkerStore`` for the
    S3A atomicity caveat)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        apply_upsert_batch(batch_df, batch_id, path, keys, order_col)

    return _write


def apply_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    keys: list[str],
    order_col: str,
    op_col: str = "op",
) -> bool:
    """CDC twin of :func:`apply_upsert_batch`: the micro-batch is an
    I/U/D changelog applied with tombstone semantics
    (sinks.write_cdc_snapshot). Same two idempotence layers: the
    batch-id commit marker skips replays of an applied batch, and the
    apply itself is value-idempotent (re-applying a changelog whose
    per-key last ops already landed is a no-op)."""
    return _apply_once(
        write_cdc_snapshot, batch_df, batch_id, path, keys, order_col, op_col=op_col
    )


def stream_cdc_writer(path: str, keys: list[str], order_col: str, op_col: str = "op"):
    """foreachBatch writer applying a CDC change stream (with delete
    tombstones) exactly-once onto a snapshot table (plain local path
    or any Hadoop-FS URI — see ``_MarkerStore``)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(batch_df, batch_id, path, keys, order_col, op_col=op_col)

    return _write
