"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_session --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The benchmark makes its inputs from
the seed under ``.perfbench_work/`` in the checkout, starts the engine's
own Spark session, and prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``.
The line before it, starting ``record``, holds the full run record
(settings, input manifest, every iteration's time, host noise, checks).

An iteration of ``batch_session`` and ``dedup_corpus`` is one build and
run of the workload's outputs; of ``stream_upsert`` it is one
micro-batch, timed by the query's own progress records
(``durationMs.triggerExecution``) over drains of the same slices into
fresh directories. Untraced (``--trace 0``) a run reports:

- ``setup_s``: process start to the start of the timed window: inputs
  generated, session ready, the cold first iteration and a fixed number
  of warm-up iterations (drains for the stream) run. The cold pass is
  in it, not a metric of its own: one cold pass per run spreads too
  widely on a shared host to be bounded, and as part of ``setup_s``
  work moved from the timed iterations into the first ones still
  shows. The record keeps the cold pass (``cold_s``; for the stream
  also ``first_batch_s``, from the cold drain's start to the end of its
  first micro-batch) and the session start (``ready_s``);
- ``run_s`` / ``cpu_s``: median wall time / core-seconds (the whole
  process tree) of the timed iterations: a fixed count per workload
  (``min_timed``), more only if they end within ``--seconds``. The
  stream's ``cpu_s`` is its timed drains' core-seconds per micro-batch.

Traced (``--trace 1``) it warms up the same way, then runs one untraced
reference iteration (drain) and one with every layer wrapped, and
reports the per-layer metrics (see ``tracing.py``). The two outputs must
hash-equal.

Every run compares its outputs with the repo's DuckDB oracles outside
the timed region; a mismatch or an exception is a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The driver JVM compiles with C1 only. With the default tiered JIT
#: the iterations keep getting faster for 12-16 iterations (30-45 s), as
#: C2 works through the hot code, and that C2 work costs more core-seconds
#: than the iteration itself; a run cannot afford to wait for that
#: plateau, and iterations timed on the slope move with the host's speed.
#: With C1 only, iterations are nearly level after one or two warm ones.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def configure(work: str) -> dict:
    """Pin the engine's environment for this host and record it.
    Parallelism stays below ``nproc``: at ``local[nproc]`` the extra
    cores bought no steady wall-clock gain and only added CPU time."""
    import host

    cpus = max(1, (os.cpu_count() or 2) // 2)
    mem_mb = min(2048, max(512, host.mem_available_mb() // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Temporary files stay in the checkout: Python's and the JVMs'
        # (no /tmp/hsperfdata_* for spark-submit's launcher JVM either).
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Python workers import the package only through PYTHONPATH.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    return {**env, "driver_jit": JIT_OPTS}


def start_session(work: str, trace: bool):
    from auto_trade_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData {JIT_OPTS}"
        ),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """Times iterations of one workload and counts failed operations."""

    def __init__(self, spark, wl, in_dir: str, work: str):
        self.spark, self.wl, self.in_dir = spark, wl, in_dir
        self.out_dir = os.path.join(work, "out")
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
        print(f"FAILED {what}", file=sys.stderr)
        traceback.print_exc()

    def release(self) -> None:
        from auto_trade_data_pipeline_spark import cache_scope

        cache_scope.release_scoped_caches()
        self.spark.catalog.clearCache()

    def iterate(self):
        """One build + execute; returns (outputs, wall_s, cpu_s), or
        None when it raised."""
        import host
        import workloads

        self.attempted += 1
        try:
            cpu0 = host.tree_cpu_s()
            t0 = time.perf_counter()
            outputs = self.wl.build(self.spark, self.in_dir)
            workloads.execute(outputs)
            wall = time.perf_counter() - t0
            return outputs, wall, host.tree_cpu_s() - cpu0
        except Exception:
            self._fail("iteration")
            return None
        finally:
            self.release()

    def warm_up(self) -> dict:
        """The cold iteration, then ``wl.warmup`` warm ones: a fixed
        count, so every run times the same iterations of the JVM's
        warm-up curve whatever the host's speed."""
        cold = self.iterate()
        if cold is None:
            raise RuntimeError("the cold iteration failed")
        warm = [r[1] for r in (self.iterate() for _ in range(self.wl.warmup)) if r]
        return {"cold_s": cold[1], "cold_cpu_s": cold[2], "warmup_s": warm}

    def timed(self, seconds: float, step) -> list[tuple]:
        """Repeat ``step`` (``iterate`` or ``drain``) for at least
        ``seconds`` and ``wl.min_timed`` successes; returns those."""
        results = []
        t_end = time.monotonic() + seconds
        while time.monotonic() < t_end or len(results) < self.wl.min_timed:
            r = step()
            if r is not None:
                results.append(r)
            elif time.monotonic() > t_end + 60:
                break  # it keeps failing: stop rather than loop
        if not results:
            raise RuntimeError("no timed iteration succeeded")
        return results

    def drain(self, wrap=None):
        """One stream drain from fresh directories; returns (progress,
        wall_s, cpu_s), or None when it raised."""
        import host

        self.attempted += 1
        try:
            cpu0 = host.tree_cpu_s()
            t0 = time.perf_counter()
            progress = self.wl.drain(self.spark, self.in_dir, self.out_dir, wrap)
            return progress, time.perf_counter() - t0, host.tree_cpu_s() - cpu0
        except Exception:
            self._fail("drain")
            return None

    def drained_table(self):
        return self.spark.read.parquet(self.wl.table(self.out_dir))

    def check(self, outputs: dict, con) -> dict:
        """Oracle comparisons; each is one attempted operation."""
        import check

        results = {}
        # Persisted, each output runs once however many checks read it.
        outputs = {k: df.persist() for k, df in outputs.items()}
        for name, sdf, oracle in self.wl.checks(outputs):
            self.attempted += 1
            try:
                reason = check.compare(con, sdf, oracle)
            except Exception:
                self._fail(f"check {name}")
                results[name] = "raised"
                continue
            results[name] = reason or "ok"
            if reason:
                self.failed += 1
                print(f"FAILED check {name}: {reason}", file=sys.stderr)
        self.release()
        return results


def run_untraced(runner: Runner, seconds: float, con) -> tuple[dict, dict]:
    import host

    warm = runner.warm_up()
    setup_s = host.process_age_s()
    timed = runner.timed(seconds, runner.iterate)
    walls, cpus = [r[1] for r in timed], [r[2] for r in timed]
    t0 = time.perf_counter()
    record = {**warm, "timed_s": walls, "timed_cpu_s": cpus}
    record["checks"] = runner.check(timed[-1][0], con)
    record["checks_s"] = time.perf_counter() - t0
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (statistics.median(walls), "s"),
        "cpu_s": (statistics.median(cpus), "s"),
    }
    return metrics, record


def batch_seconds(progress: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1000 for p in progress]


def microbatch_summary(progress: list[dict]) -> dict[str, float]:
    """Median and p90 micro-batch latency, and ticks ingested per second
    of micro-batch time."""
    d = batch_seconds(progress)
    return {
        "microbatch_p50_s": statistics.median(d),
        "microbatch_p90_s": statistics.quantiles(d, n=10, method="inclusive")[-1],
        "ticks_per_s": sum(p["numInputRows"] for p in progress) / sum(d),
    }


def stream_warm_up(runner: Runner) -> dict:
    """The cold drain, then ``wl.warmup`` warm drains. ``first_batch_s``
    runs from the cold drain's start to the end of its first micro-batch:
    what a restarted stream waits before its first result."""
    t0 = time.time()
    cold = runner.drain()
    if cold is None:
        raise RuntimeError("the cold drain failed")
    first = cold[0][0]
    first_end = (
        datetime.fromisoformat(first["timestamp"].replace("Z", "+00:00")).timestamp()
        + first["durationMs"]["triggerExecution"] / 1000
    )
    warm = [r[1] for r in (runner.drain() for _ in range(runner.wl.warmup)) if r]
    return {"cold_s": cold[1], "first_batch_s": first_end - t0,
            "cold_batch_s": batch_seconds(cold[0]), "warmup_s": warm}


def run_stream_untraced(runner: Runner, seconds: float, con) -> tuple[dict, dict]:
    """Drains after the warm-up, for at least ``seconds`` and
    ``wl.min_timed`` drains. An iteration is one micro-batch: ``run_s``
    is the median of the timed drains' batches, ``cpu_s`` the timed
    drains' core-seconds per batch."""
    import host

    warm = stream_warm_up(runner)
    setup_s = host.process_age_s()
    timed = runner.timed(seconds, runner.drain)
    progress = [p for r in timed for p in r[0]]
    cpus = [r[2] for r in timed]
    t0 = time.perf_counter()
    summary = microbatch_summary(progress)
    record = {**warm, **summary, "timed_s": [r[1] for r in timed], "timed_cpu_s": cpus,
              "batches": len(progress), "batch_s": batch_seconds(progress)}
    record["checks"] = runner.check({"table": runner.drained_table()}, con)
    record["checks_s"] = time.perf_counter() - t0
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (summary["microbatch_p50_s"], "s"),
        "cpu_s": (sum(cpus) / len(progress), "s"),
    }
    return metrics, record


#: Every per-layer metric beyond the common counters, with its unit.
#: A workload that does not reach a layer reports 0 for it.
NAMED = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "validation.split_s": "s",
    "validation.invalid_rows": "count",
    "candles.aggregate_s": "s",
    "candles.ticks_per_candle": "ratio",
    "windows.families_s": "s",
    "indicators.kernel_s": "s",
    "indicators.python_task_s": "s",
    "indicators.task_skew": "ratio",
    "anchors.points_s": "s",
    "anchors.points_rows": "count",
    "streaming.plan_s": "s",
    "streaming.offsets_s": "s",
    "streaming.wal_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "streaming.microbatch_p50_s": "s",
    "streaming.microbatch_p90_s": "s",
    "streaming.ticks_per_s": "1/s",
    "sinks.upsert_s": "s",
    "sinks.rows_rewritten": "count",
    "sinks.write_amplification": "ratio",
    "dedup.build_s": "s",
    "dedup.build_jobs": "count",
    "dedup.exec_s": "s",
    "text.exact_dedup_s": "s",
    "text.shingle_s": "s",
    "text.minhash_s": "s",
    "text.lsh_s": "s",
    "text.lsh_candidates": "count",
    "text.lsh_precision": "ratio",
    "text.verify_s": "s",
    "graph.cc_s": "s",
    "graph.cc_jobs": "count",
    "text.pack_s": "s",
    "cache_scope.cached_bytes": "bytes",
    "trace.overhead_s": "s",
}


def event_log(work: str) -> str:
    events = os.path.join(work, "events")
    return os.path.join(events, os.listdir(events)[0])


def layer_counters(tracer, work: str, offset: int) -> tuple[list[dict], dict, dict]:
    """Digest the event log written since ``offset`` window by window;
    returns the digests, the stage details and every layer's counters."""
    import tracing

    tracer.drain_listeners()
    tail = os.path.join(work, "events.tail.jsonl")
    with open(event_log(work), "rb") as src, open(tail, "wb") as dst:
        src.seek(offset)
        shutil.copyfileobj(src, dst)
    digests = tracing.window_digests(tail, tracer.windows)
    details = tracer.stage_details([s["id"] for d in digests for s in d["stages"]])
    return digests, details, tracing.layer_metrics(digests, details)


def run_traced(runner: Runner, work: str, con) -> tuple[dict, dict]:
    """Warm up as untraced, run one iteration tagged only by phase
    (build, exec), then one with every layer's public call wrapped."""
    import check
    import tracing
    import workloads

    spark, wl = runner.spark, runner.wl
    sc = spark.sparkContext
    warm = runner.warm_up()

    # Phase iteration: jobs tagged build / exec only; also the untraced
    # reference for the outputs and the tracing overhead.
    runner.attempted += 1
    sc.setJobGroup(f"{wl.name}:build", "build")
    t0 = time.perf_counter()
    outputs = wl.build(spark, runner.in_dir)
    t1 = time.perf_counter()
    sc.setJobGroup(f"{wl.name}:exec", "exec")
    workloads.execute(outputs)
    t2 = time.perf_counter()
    sc._jsc.clearJobGroup()
    phase = {
        "build_s": t1 - t0,
        "build_jobs": len(sc.statusTracker().getJobIdsForGroup(f"{wl.name}:build")),
        "exec_s": t2 - t1,
    }
    tracer = tracing.Tracer(spark, wl.name)
    cached_bytes = tracer.cached_bytes()
    reference = check.output_hashes(outputs)
    runner.release()

    # Layer iteration.
    runner.attempted += 1
    tracer.drain_listeners()
    offset = os.path.getsize(event_log(work))
    with tracer.patched(wl.spans):
        t3 = time.perf_counter()
        outputs = wl.build(spark, runner.in_dir)
        with tracer.span("exec", "exec"):
            workloads.execute(outputs)
        t4 = time.perf_counter()
    counts = {k: df.count() for k, df in wl.counted(tracer.results).items()}
    traced = check.output_hashes(outputs)
    digests, details, layers = layer_counters(tracer, work, offset)

    record = {**warm, "phase": phase, "counts": counts, "reference_hashes": reference,
              "output_hashes": traced}
    compare_hashes(runner, traced, reference)
    record["checks"] = runner.check(outputs, con)  # reads the layers' persists, then frees them

    secs = tracer.span_seconds()
    kernel = tracing.kernel_stage(digests, "indicators.kernel", details)
    named = {
        "sources.load_s": secs.get("sources.load", 0.0),
        "trace.overhead_s": (t4 - t3) - (t2 - t0),
        "cache_scope.cached_bytes": cached_bytes,
    }
    if wl.name == "batch_session":
        named.update({
            "validation.split_s": secs["validation.split"],
            "validation.invalid_rows": counts["invalid_rows"],
            "candles.aggregate_s": secs["candles.aggregate"],
            "candles.ticks_per_candle": counts["valid_ticks"] / counts["candles"],
            "windows.families_s": secs["windows.families"],
            "indicators.kernel_s": secs["indicators.kernel"],
            "indicators.python_task_s": kernel["task_s"],
            "indicators.task_skew": kernel["skew"],
            "anchors.points_s": secs["anchors.points"],
            "anchors.points_rows": counts["anchor_points"],
        })
    else:
        named.update({
            "dedup.build_s": phase["build_s"],
            "dedup.build_jobs": phase["build_jobs"],
            "dedup.exec_s": phase["exec_s"],
            "text.exact_dedup_s": secs["text.exact_dedup"],
            "text.shingle_s": secs["text.shingle"],
            "text.minhash_s": secs["text.minhash"],
            "text.lsh_s": secs["text.lsh"],
            "text.lsh_candidates": counts["lsh_candidates"],
            "text.lsh_precision": counts["verified_pairs"] / counts["lsh_candidates"],
            "text.verify_s": secs["text.verify"],
            "graph.cc_s": secs["graph.cc"],
            "graph.cc_jobs": layers["graph.jobs"],
            "text.pack_s": secs["text.pack"],
        })
    record["layer_windows"] = [
        {k: d[k] for k in ("layer", "name", "jobs", "n_stages")} for d in digests
    ]
    return layer_result(layers, named), record


def run_stream_traced(runner: Runner, work: str, con) -> tuple[dict, dict]:
    """Warm up as untraced, run one untraced reference drain (its
    progress gives the streaming figures), then one drain whose
    ``foreachBatch`` writer is wrapped: the micro-batch's aggregation
    (state store) is persisted and counted as ``streaming``, the
    public writer runs as ``sinks``."""
    import check
    import tracing

    spark, wl = runner.spark, runner.wl
    warm = stream_warm_up(runner)
    ref = runner.drain()
    if ref is None:
        raise RuntimeError("the reference drain failed")
    reference = check.output_hashes({"table": runner.drained_table()})

    tracer = tracing.Tracer(spark, wl.name)
    emitted: list[int] = []
    rewritten: list[int] = []

    def wrap(writer, table):
        def traced_writer(batch_df, batch_id):
            with tracer.span("streaming", "streaming.aggregate"):
                batch_df = batch_df.persist()
                emitted.append(batch_df.count())
            with tracer.span("sinks", "sinks.upsert"):
                writer(batch_df, batch_id)
            batch_df.unpersist()
            rewritten.append(spark.read.parquet(table).count())

        return traced_writer

    tracer.drain_listeners()
    offset = os.path.getsize(event_log(work))
    with tracer.patched(wl.spans):
        r = runner.drain(wrap)
    if r is None:
        raise RuntimeError("the traced drain failed")
    traced = check.output_hashes({"table": runner.drained_table()})
    digests, details, layers = layer_counters(tracer, work, offset)

    record = {**warm, "reference_hashes": reference, "output_hashes": traced,
              "reference_batch_s": batch_seconds(ref[0]), "traced_batch_s": batch_seconds(r[0]),
              "emitted": emitted, "rewritten": rewritten}
    compare_hashes(runner, traced, reference)
    record["checks"] = runner.check({"table": runner.drained_table()}, con)

    progress = ref[0]
    dur = lambda *keys: sum(  # noqa: E731
        p["durationMs"].get(k, 0) for p in progress for k in keys
    ) / 1000
    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    secs = tracer.span_seconds()
    named = {
        "sources.load_s": secs["sources.load"],
        "streaming.plan_s": dur("queryPlanning"),
        "streaming.offsets_s": dur("latestOffset", "getBatch"),
        "streaming.wal_s": dur("walCommit", "commitOffsets"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.state_rows": max(o["numRowsTotal"] for o in ops),
        "streaming.state_bytes": max(o["memoryUsedBytes"] for o in ops),
        "streaming.late_rows_dropped": sum(o["numRowsDroppedByWatermark"] for o in ops),
        **{f"streaming.{k}": v for k, v in microbatch_summary(progress).items()},
        "sinks.upsert_s": secs["sinks.upsert"],
        "sinks.rows_rewritten": sum(rewritten),
        "sinks.write_amplification": sum(rewritten) / sum(emitted),
        "trace.overhead_s": r[1] - ref[1],
    }
    record["layer_windows"] = [
        {k: d[k] for k in ("layer", "name", "jobs", "n_stages")} for d in digests
    ]
    return layer_result(layers, named), record


def compare_hashes(runner: Runner, traced: dict, reference: dict) -> None:
    runner.attempted += 1
    if traced != reference:
        runner.failed += 1
        print("FAILED traced outputs differ from the untraced iteration", file=sys.stderr)


def layer_result(layers: dict, named: dict) -> dict:
    """Every per-layer metric with its unit; unreached ones read 0."""
    metrics = {
        k: (v, "count" if k.endswith(("jobs", "stages", "tasks")) else
            "bytes" if k.endswith("bytes") else "s")
        for k, v in layers.items()
    }
    metrics.update({k: (named.get(k, 0), unit) for k, unit in NAMED.items()})
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import host

    cpu_before, load_before = host.cpu_times(), host.loadavg()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        settings = configure(work)
        import check
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        wl = workloads.WORKLOADS[args.workload]
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        manifest = wl.make_inputs(args.seed, in_dir)
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_start_s = time.perf_counter() - t0
        ready_s = host.process_age_s()
        try:
            runner = Runner(spark, wl, in_dir, work)
            con = check.connect(in_dir)
            stream = args.workload == "stream_upsert"
            if args.trace:
                traced = run_stream_traced if stream else run_traced
                metrics, record = traced(runner, work, con)
                metrics["session.start_s"] = (session_start_s, "s")
            else:
                untraced = run_stream_untraced if stream else run_untraced
                metrics, record = untraced(runner, args.seconds, con)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        settings=settings, inputs=manifest, ready_s=ready_s,
        session_start_s=session_start_s, errors=runner.errors,
        steal_share=host.steal_share(cpu_before, host.cpu_times()),
        process_s=host.process_age_s(),
        loadavg_start=load_before, loadavg_end=host.loadavg(),
    )
    print("record " + json.dumps(record, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
