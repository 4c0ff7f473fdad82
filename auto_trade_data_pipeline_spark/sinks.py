"""Write-side sinks (S5 append, S7 upsert/merge, S9 split side-output).

Reference behavior being replicated:
- S5 append-with-header CSV sink (``src/fetch_historical_trades_nvda.py:186-200``)
  -> ``mode('append')`` parquet;
- S7 temp->final merge: concat + keyed dedup keep-last + rewrite
  (``:203-258``, ``src/aggregator_candles.py:104-136``) -> snapshot
  upsert via staging-dir swap (Delta/Iceberg ``MERGE INTO`` is the
  production analogue — this is the filesystem-only equivalent);
- S9 invalid side-output (``:127-132``) -> ONE flag-partitioned write,
  not two passes over the input: the scan is read once, the partition
  column routes rows to valid=/invalid= directories.

Every snapshot rewrite (upsert, CDC apply, compaction) publishes through
one helper, :func:`_publish`: write a staging copy next to the table,
then swap it in through the Hadoop FileSystem API, for plain local
paths and URIs (``file://``, ``hdfs://``, ``s3a://``) alike. On S3A a
rename is copy+delete, so the swap is not atomic there.

Scale notes: append and split are embarrassingly parallel. The
snapshot upsert rewrites the whole table — correct at any scale but
O(table); on a real deployment the same `upsert` transform feeds a
Delta MERGE instead of a directory swap, touching only matched files.
"""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.dedup import cdc_apply, dedup_keep_last

__all__ = [
    "write_append",
    "compact_table",
    "write_append_partitioned",
    "write_upsert_snapshot",
    "write_split",
]


def write_append(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """S5: append new files to a table directory (no read-modify-write;
    the header bookkeeping of the CSV reference is moot under parquet)."""
    df.write.mode("append").format(fmt).save(path)


def write_append_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "timestamp",
    fmt: str = "parquet",
    date_col: str = "date",
) -> None:
    """S5 at 100 TB: append with a Hive date-partitioned layout
    (``.../date=2024-01-08/part-*.parquet``) derived from `ts_col`.

    The reference's only layout is flat CSV
    (``src/aggregator_candles.py:272``); partitioning is what makes
    the engine's own P5 time-range filters
    (``src/aggregator_candles.py:85``) PRUNE whole directories at the
    scan instead of reading every file — asserted at plan level in
    tests/test_plans.py. The derived column stays alongside `ts_col`,
    so readers keep full-precision timestamps."""
    out = df.withColumn(date_col, F.to_date(F.col(ts_col)))
    out.write.mode("append").format(fmt).partitionBy(date_col).save(path)


def write_upsert_snapshot(
    new: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    fmt: str = "parquet",
) -> None:
    """S7: merge `new` into the table at `path` with keyed keep-last
    semantics, published by :func:`_publish` (write the merged snapshot
    next to the live dir, then swap). The reference's pandas merge
    rewrites its CSV the same way, minus the staging discipline
    (``src/fetch_historical_trades_nvda.py:237-258``)."""
    spark = new.sparkSession
    if _path_exists(spark, path):
        existing = spark.read.format(fmt).load(path)
        merged = dedup_keep_last(existing.unionByName(new), keys, [order_col])
    else:
        merged = dedup_keep_last(new, keys, [order_col])
    _publish(merged, path, fmt)


def write_split(
    df: DataFrame, predicate: Column, root: str, fmt: str = "parquet"
) -> tuple[str, str]:
    """S9: route rows to valid/invalid side outputs in ONE pass — a
    single write partitioned by the validity flag (null predicate
    results count invalid, matching the reference's dropna). Returns
    (valid_dir, invalid_dir)."""
    flagged = df.withColumn("is_valid", F.coalesce(predicate, F.lit(False)))
    flagged.write.mode("overwrite").format(fmt).partitionBy("is_valid").save(root)
    return f"{root}/is_valid=true", f"{root}/is_valid=false"


@functools.cache
def _hadoop_path(jvm):
    """The Hadoop ``Path`` class. Resolving it through the Py4J view
    costs a gateway round trip per package level (~3 ms), so it is
    resolved once per JVM."""
    return jvm.org.apache.hadoop.fs.Path


def _fs(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` serving ``path`` (plain or URI) and
    ``path`` as a Hadoop ``Path``."""
    p = _hadoop_path(spark._jvm)(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return fs.exists(p)


def _publish(
    out: DataFrame, path: str, fmt: str, partition_by: list[str] | None = None
) -> None:
    """Replace the table at ``path`` with ``out``: write a staging copy
    next to it, move the live table aside, publish the staging copy,
    and delete the old table only once the new one is live.

    Hadoop ``FileSystem.rename`` reports failure by returning false
    (it does not raise), so every step is checked; if the publish
    fails, the old table is moved back."""
    spark = out.sparkSession
    tag = uuid.uuid4().hex[:8]
    staging, backup = f"{path}.__staging_{tag}", f"{path}.__old_{tag}"
    writer = out.write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(staging)
    fs, live = _fs(spark, path)
    Path = _hadoop_path(spark._jvm)
    jstaging, jbackup = Path(staging), Path(backup)
    had_live = fs.exists(live)
    if had_live and not fs.rename(live, jbackup):
        raise IOError(f"snapshot swap: failed to move live {path} aside")
    if not fs.rename(jstaging, live):
        if had_live and not fs.rename(jbackup, live):
            raise IOError(
                f"snapshot swap: publishing {staging} failed AND the old "
                f"table could not be restored — it is left at {backup}"
            )
        raise IOError(f"snapshot swap: failed to publish {staging} to {path}")
    if had_live:
        fs.delete(jbackup, True)


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    order_cols: list[str] | None = None,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction — the table-maintenance op every
    long-lived append sink needs: streaming and micro-batch appends
    leave thousands of KB-sized files, and at 100 TB the resulting
    task-per-file scheduling + footer-per-file planning dominate scan
    cost. Rewrites the table into ceil(bytes / target_bytes) files
    and returns the new file count.

    Spark-idiomatic shape: size the output from the CURRENT on-disk
    bytes (not row counts — compression varies), lay rows out with
    repartitionByRange over `order_cols` so each output file covers a
    contiguous key range (min/max footer stats then prune file-level
    on those columns — poor-man's clustering), and publish through the
    same :func:`_publish` swap as the snapshot upsert. Without `order_cols`
    a plain repartition balances bytes. (Delta/Iceberg OPTIMIZE is the
    managed-table analogue; this is the filesystem-layout equivalent.)

    Hive-partitioned tables (write_append_partitioned) MUST pass
    `partition_by`: the rewrite then keeps the directory layout
    (`n_files` becomes the per-write task count; each partition still
    gets its own files). Compacting a partitioned table without it
    would silently flatten the layout and break partition pruning —
    detected and refused."""
    fs, p = _fs(spark, path)
    if not partition_by:
        for st in fs.listStatus(p):
            if st.isDirectory() and "=" in st.getPath().getName():
                raise ValueError(
                    f"{path} has a Hive-partitioned layout "
                    f"({st.getPath().getName()}/...): pass partition_by= to "
                    "preserve it — compacting flat would break partition pruning"
                )
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-total // target_bytes))
    df = spark.read.format(fmt).load(path)
    shuffle_cols = list(partition_by or []) + list(order_cols or [])
    out = (
        df.repartitionByRange(n_files, *shuffle_cols)
        if shuffle_cols
        else df.repartition(n_files)
    )
    _publish(out, path, fmt, partition_by)
    return int(n_files)


def write_cdc_snapshot(
    changelog: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    op_col: str = "op",
    fmt: str = "parquet",
) -> None:
    """S7+: apply a CDC changelog (I/U/D ``op_col``) onto the snapshot
    at ``path`` — :func:`write_upsert_snapshot` extended with delete
    tombstones via operators.dedup.cdc_apply: per key the LAST change
    by ``order_col`` wins, a terminal D removes the key. Same
    :func:`_publish` swap; the stored snapshot never carries op/order
    columns."""
    spark = changelog.sparkSession
    data_cols = [c for c in changelog.columns if c not in (op_col, order_col)]
    if _path_exists(spark, path):
        existing = spark.read.format(fmt).load(path)
        merged = cdc_apply(
            existing.select(*data_cols), changelog, keys, [order_col], op_col=op_col
        )
    else:
        last = dedup_keep_last(changelog, keys, [order_col])
        merged = last.filter(F.col(op_col) != "D").select(*data_cols)
    _publish(merged, path, fmt)
