"""Per-query stage profile — where does a bench query's wall time go?

Runs one (or more) corpus queries with the Spark event log enabled,
then digests the log into a per-stage table: stage wall-clock span,
task-time sum, shuffle bytes, task count, and the job/stage counts per
query pass. The numbers answer the optimization-guide §1 question
("is the time in scheduling, shuffle, or compute?") without the UI
(disabled in this sandbox).

Usage: python tools/profile_query.py <query> [query ...] [--sf DIR] [--passes N]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def digest(log_path: str, t0_ms: float, t1_ms: float) -> dict:
    """Summarize the ``[t0_ms, t1_ms]`` window of the event log.

    Stages and task metrics are bounded by both ends of the window, but
    ``jobs`` counts every job submitted from ``t0_ms`` on, to the end of
    the log. A caller narrows it to the window by subtracting
    ``digest(log_path, t1_ms, inf)["jobs"]`` (:func:`window_jobs`;
    ``perfbench/tracing.window_digests`` does the same), so bounding
    ``jobs`` by ``t1_ms`` here would break those differences."""
    jobs = 0
    stages = []  # (stage_id, name, submit, complete, tasks)
    task_time = {}
    shuffle_read = {}
    shuffle_write = {}
    with open(log_path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                if ev.get("Submission Time", 0) >= t0_ms:
                    jobs += 1
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                if sub is None or comp is None or sub < t0_ms or comp > t1_ms:
                    continue
                stages.append(
                    (
                        si["Stage ID"],
                        si["Stage Name"].split("\n")[0][:60],
                        sub,
                        comp,
                        si.get("Number of Tasks", 0),
                    )
                )
            elif e == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                if ti.get("Launch Time", 0) < t0_ms:
                    continue
                sid = ev.get("Stage ID")
                m = ev.get("Task Metrics") or {}
                task_time[sid] = task_time.get(sid, 0) + (
                    ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                )
                srm = m.get("Shuffle Read Metrics") or {}
                swm = m.get("Shuffle Write Metrics") or {}
                shuffle_read[sid] = shuffle_read.get(sid, 0) + srm.get(
                    "Remote Bytes Read", 0
                ) + srm.get("Local Bytes Read", 0)
                shuffle_write[sid] = shuffle_write.get(sid, 0) + swm.get(
                    "Shuffle Bytes Written", 0
                )
    stages.sort(key=lambda s: -(s[3] - s[2]))
    return {
        "jobs": jobs,
        "n_stages": len(stages),
        "stages": [
            {
                "id": sid,
                "name": name,
                "span_ms": comp - sub,
                "task_ms": task_time.get(sid, 0),
                "tasks": ntask,
                "shuf_r_kb": shuffle_read.get(sid, 0) // 1024,
                "shuf_w_kb": shuffle_write.get(sid, 0) // 1024,
            }
            for sid, name, sub, comp, ntask in stages
        ],
    }


def window_jobs(log_path: str, t0_ms: float, t1_ms: float) -> int:
    """Jobs submitted inside ``[t0_ms, t1_ms)``."""
    return digest(log_path, t0_ms, t1_ms)["jobs"] - digest(log_path, t1_ms, float("inf"))["jobs"]


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    passes = 3
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--passes":
            passes = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    log_dir = "/tmp/spark-profile-events"
    os.makedirs(log_dir, exist_ok=True)
    for f in os.listdir(log_dir):
        p = os.path.join(log_dir, f)
        shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)

    from auto_trade_data_pipeline_spark.corpus import load_all
    from auto_trade_data_pipeline_spark.session import get_spark
    from auto_trade_data_pipeline_spark.sources.files import load_table

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    load_table(spark, sf_dir, "events").limit(1).count()

    results = {}
    for name in names:
        best = None
        for p in range(passes):
            spark.sparkContext.setJobDescription(f"{name} pass {p}")
            t0 = time.time()
            df = registry[name].fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            if best is None or dt < best[0]:
                best = (dt, t0 * 1000, time.time() * 1000)
            spark.catalog.clearCache()
        results[name] = best
        print(f"{name}: best {best[0]:.3f}s over {passes} passes", flush=True)

    # Flush the event log by stopping the session, then digest.
    app_id = spark.sparkContext.applicationId
    spark.stop()
    cands = [p for p in os.listdir(log_dir) if app_id in p]
    if not cands:
        raise SystemExit(f"no event log for {app_id} in {log_dir}")
    log_path = os.path.join(log_dir, cands[0])
    if os.path.isdir(log_path):
        # rolling v2 layout: a directory of events_<n>_<appid> parts
        parts = sorted(
            p for p in os.listdir(log_path) if p.startswith("events")
        )
        merged = os.path.join(log_dir, "merged.jsonl")
        with open(merged, "w") as out_fh:
            for p in parts:
                with open(os.path.join(log_path, p)) as in_fh:
                    out_fh.write(in_fh.read())
        log_path = merged

    for name, (dt, t0ms, t1ms) in results.items():
        d = digest(log_path, t0ms, t1ms)
        jobs = window_jobs(log_path, t0ms, t1ms)
        print(f"\n=== {name}: {dt:.3f}s, {jobs} jobs, {d['n_stages']} stages ===")
        print(f"{'stage':>6} {'span_ms':>8} {'task_ms':>8} {'tasks':>6} {'shR_kb':>8} {'shW_kb':>8}  name")
        for s in d["stages"][:20]:
            print(
                f"{s['id']:>6} {s['span_ms']:>8} {s['task_ms']:>8} {s['tasks']:>6} "
                f"{s['shuf_r_kb']:>8} {s['shuf_w_kb']:>8}  {s['name']}"
            )
        sum_span = sum(s["span_ms"] for s in d["stages"])
        print(f"stage span sum {sum_span} ms vs wall {dt * 1000:.0f} ms "
              f"(gap = driver/AQE planning + scheduling)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
