"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (all storage is UTC; New-York
wall-clock is derived per-expression), Arrow enabled for the
pandas-UDF kernels, and shuffle partitions sized to the machine
instead of the 200 default.

At 100 TB the same settings hold conceptually: AQE handles the
shuffle-partition sizing dynamically, `spark.sql.files.maxPartitionBytes`
keeps scan tasks bounded, and broadcast threshold lets dimension
tables (region/nation/suppliers/symbol lists) skip the shuffle.

Python workers fork from the engine's own daemon
(:mod:`auto_trade_data_pipeline_spark.pyworker`), which keeps the
directory indexes of Spark's installation archives across tasks
instead of re-reading them at the start of every Python task. The
package's parent directory goes on the workers' ``PYTHONPATH``, so
the daemon imports wherever the driver runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Directory that holds the package: Python workers import the daemon
#: and the kernels from it.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_mem() -> str:
    """Default driver heap: half the host's physical memory, capped at
    48g. A fixed 48g lets the heap outgrow a small host: on a 16 GB
    host a test JVM reached 11.6 GB RSS and a second JVM beside it
    died."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "auto_trade_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``SPARK_GRAFT_CPUS`` (driver contract) controls local parallelism;
    shuffle partitions default to that same number — on local mode a
    shuffle partition per core is right, 200 would just add scheduling
    overhead on small inputs (AQE coalesces anyway, but starting right
    is free). ``SPARK_GRAFT_DRIVER_MEM`` sets the driver heap; without
    it the heap follows the host (:func:`_driver_mem`).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos type, so read as int64 (sources.files truncates to µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when its build side
        # fits (guide §3.1/§9): skips the per-partition sorts of SMJ.
        # Scale-valid — the planner's size conditions still gate it,
        # and AQE can re-plan. Interleaved A/B at sf0.1: tpch_q9
        # 3.02->2.03s, q21 1.43->1.17s, q5 0.76->0.62s; upsert_merge
        # +0.2s (sorted-merge suited its keyed upsert) — net strongly
        # positive across the join family. (Round-10 re-check: the
        # upsert_merge delta was NOISE — its only join is a broadcast
        # anti join, so this conf cannot affect it.)
        # Known failure mode at scale (r9 advice): the planner's
        # ceiling is autoBroadcastJoinThreshold x shufflePartitions
        # of ESTIMATED build bytes, and SHJ's per-partition build map
        # does not spill — a post-filter stats underestimate can OOM
        # an executor. Mitigations kept on: AQE (re-plans a stage
        # before execution from observed sizes) and skew-join
        # splitting; per-query MERGE hints remain the escape hatch.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.python.daemon.module", "auto_trade_data_pipeline_spark.pyworker")
    )
    conf = dict(extra_conf or {})
    pythonpath = "spark.executorEnv.PYTHONPATH"
    conf[pythonpath] = os.pathsep.join(p for p in (_PACKAGE_PARENT, conf.get(pythonpath)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
