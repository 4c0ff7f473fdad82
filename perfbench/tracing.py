"""The traced run's instruments.

A :class:`Tracer` wraps the public call of each layer (``Span`` in
``workloads``) in a timer, tags the Spark jobs it launches with the job
group ``<workload>:<layer>``, and persists and runs the call's result so
the layer's time is its own. After the iteration, ``layer_metrics``
turns the recorded windows into per-layer work counters: jobs, stages,
tasks and task time from the event log through
``tools.profile_query.digest``, and the stage-level byte counters and
task durations that digest does not keep from Spark's status store.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from tools.profile_query import digest

#: Layers that report the common work counters, whether or not a
#: workload uses them (an unused layer reads 0).
LAYERS = (
    "sources", "validation", "candles", "windows", "indicators", "anchors",
    "streaming", "sinks", "text", "graph", "exec",
)
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
COUNTERS = ("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes", "spill_bytes")


def _materialize(out):
    if isinstance(out, DataFrame):
        out = out.persist()
        out.write.mode("overwrite").format("noop").save()
        return out
    if isinstance(out, tuple):  # validate_split's (valid, invalid)
        return type(out)(*(_materialize(o) for o in out))
    return out


class Tracer:
    def __init__(self, spark: SparkSession, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.windows: list[tuple[str, str, float, float]] = []  # layer, span, t0, t1
        self.results: dict[str, object] = {}

    @contextmanager
    def span(self, layer: str, name: str):
        """Time the block and tag its jobs ``<workload>:<layer>``; the
        thread's previous job group (a streaming query's own, inside
        ``foreachBatch``) is restored afterwards."""
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(f"{self.workload}:{layer}", name)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((layer, name, t0, time.time()))
            for k, v in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(k, v)

    def _wrap(self, sp, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if sp.input_name:
                with self.span(sp.layer, sp.input_name):
                    args = (_materialize(args[0]),) + args[1:]
                self.results[sp.input_name] = args[0]
            with self.span(sp.layer, sp.name):
                out = fn(*args, **kwargs)
                if sp.materialize:
                    out = _materialize(out)
            self.results[sp.name] = out
            return out

        return wrapped

    @contextmanager
    def patched(self, spans):
        """Route every call named in ``spans`` through its timer."""
        saved = [(sp.module, sp.attr, getattr(sp.module, sp.attr)) for sp in spans]
        for sp, (_, _, fn) in zip(spans, saved):
            setattr(sp.module, sp.attr, self._wrap(sp, fn))
        try:
            yield
        finally:
            for module, attr, fn in saved:
                setattr(module, attr, fn)

    def span_seconds(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for _, name, t0, t1 in self.windows:
            out[name] = out.get(name, 0.0) + (t1 - t0)
        return out

    def stage_details(self, stage_ids: list[int]) -> dict[int, dict]:
        """Shuffle-write and spill bytes and task durations per stage,
        from the live status store."""
        store = self.sc._jsc.sc().statusStore()
        out = {}
        for sid in stage_ids:
            d = store.lastStageAttempt(sid)
            tasks = store.taskList(sid, d.attemptId(), 100_000)
            out[sid] = {
                "shuffle_write_bytes": d.shuffleWriteBytes(),
                "spill_bytes": d.memoryBytesSpilled() + d.diskBytesSpilled(),
                "task_ms": [tasks.apply(i).duration().get() for i in range(tasks.size())],
            }
        return out

    def drain_listeners(self) -> None:
        """Wait until every event so far reached the event log (it
        flushes at each job end) and the status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())


def window_digests(log_path: str, windows) -> list[dict]:
    """One ``digest`` per (layer, span, t0, t1) window, with the job
    count narrowed to the window (``digest`` counts every job submitted
    from ``t0`` on)."""
    out = []
    for layer, name, t0, t1 in windows:
        d = digest(log_path, t0 * 1000, t1 * 1000)
        d["jobs"] -= digest(log_path, t1 * 1000, float("inf"))["jobs"]
        out.append({"layer": layer, "name": name, **d})
    return out


def layer_metrics(digests: list[dict], details: dict[int, dict]) -> dict[str, float]:
    """The common counters of every layer in :data:`LAYERS`."""
    m = {f"{layer}.{c}": 0 for layer in LAYERS for c in COUNTERS}
    for d in digests:
        p = d["layer"] + "."
        m[p + "jobs"] += d["jobs"]
        m[p + "stages"] += d["n_stages"]
        for s in d["stages"]:
            m[p + "tasks"] += s["tasks"]
            m[p + "task_s"] += s["task_ms"] / 1000
            m[p + "shuffle_write_bytes"] += details[s["id"]]["shuffle_write_bytes"]
            m[p + "spill_bytes"] += details[s["id"]]["spill_bytes"]
    return m


def kernel_stage(digests: list[dict], name: str, details: dict[int, dict]) -> dict:
    """Task time and skew (max / median task duration) of the stage with
    the most task time inside span ``name``: the stage running the
    Python kernel, which is keyed by symbol."""
    stages = [s for d in digests if d["name"] == name for s in d["stages"]]
    if not stages:
        return {"task_s": 0.0, "skew": 0.0}
    top = max(stages, key=lambda s: s["task_ms"])
    ms = details[top["id"]]["task_ms"]
    med = statistics.median(ms) if ms else 0
    return {"task_s": top["task_ms"] / 1000, "skew": max(ms) / med if med else 0.0}
