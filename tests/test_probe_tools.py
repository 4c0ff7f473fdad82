"""The round-8 diagnostic instruments: probe_cc_bimodal's event-log
digest (stage/job/GC/skew extraction, zstd rolling segments) and
canary.py's contamination audit. These adjudicate every future
perf number, so their parsing must not rot silently."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import canary  # noqa: E402
import probe_cc_bimodal as probe  # noqa: E402


def _write_eventlog(dirpath: str, app_id: str, compress: bool) -> None:
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": {"spark.job.description": "round 1"},
         "Stage Infos": [{"Stage ID": 0}]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 100, "JVM GC Time": 10,
                          "Executor CPU Time": 90_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 300, "JVM GC Time": 20,
                          "Executor CPU Time": 250_000_000}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 2,
                        "Submission Time": 1000, "Completion Time": 1400}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ]
    app_dir = os.path.join(dirpath, f"eventlog_v2_{app_id}")
    os.makedirs(app_dir)
    raw = "\n".join(json.dumps(e) for e in events) + "\n"
    if compress:
        path = os.path.join(app_dir, f"events_1_{app_id}.zstd")
        subprocess.run(["zstd", "-q", "-o", path], input=raw.encode(), check=True)
    else:
        with open(os.path.join(app_dir, f"events_1_{app_id}"), "w") as f:
            f.write(raw)


def test_digest_eventlog_parses_plain_and_zstd(tmp_path, monkeypatch):
    monkeypatch.setattr(probe, "EVENTLOG_DIR", str(tmp_path))
    for app_id, compress in (("local-1", False), ("local-2", True)):
        _write_eventlog(str(tmp_path), app_id, compress)
        d = probe.digest_eventlog(app_id)
        assert d["n_jobs"] == 1 and d["n_stages"] == 1
        assert d["total_gc_s"] == 0.03
        assert d["total_run_s"] == 0.4
        job = d["slowest_jobs"][0]
        assert job["desc"] == "round 1" and job["sec"] == 0.5
        stage = d["hottest_stages"][0]
        # max task 300 ms / median 200 ms = 1.5 skew
        assert stage["tasks"] == 2 and stage["skew"] == 1.5
        assert stage["run_s"] == 0.4 and stage["gc_s"] == 0.03


def test_digest_eventlog_missing_app():
    assert "error" in probe.digest_eventlog("no-such-app")


def test_canary_audit_gates(tmp_path):
    log = tmp_path / "c.jsonl"
    now = time.time()
    log.write_text(
        "\n".join(json.dumps({"t": now + i, "ms": 20.0}) for i in range(20))
    )
    assert canary.audit(str(log), None, None) == 0
    # One wave sample within the window flips p90? No — 1 of 21 stays
    # under p90; a sustained wave must trip the gate.
    log.write_text(
        "\n".join(json.dumps({"t": now + i, "ms": 400.0}) for i in range(20))
    )
    assert canary.audit(str(log), None, None) == 1
    # Window filtering: the dirty samples fall OUTSIDE [t0, t1].
    log.write_text(
        "\n".join(json.dumps({"t": now + i, "ms": 400.0}) for i in range(5))
        + "\n"
        + "\n".join(json.dumps({"t": now + 100 + i, "ms": 18.0}) for i in range(20))
    )
    assert canary.audit(str(log), now + 99, now + 130) == 0


def test_scaling_merge_emits_null_ratio_for_zero_c32(tmp_path, monkeypatch):
    """A c32 time that rounds to 0 ms has no 8c/32c ratio: the merge
    writes null for it instead of dividing by zero."""
    import scaling_sf1

    monkeypatch.setattr(scaling_sf1, "_REPO", str(tmp_path))
    monkeypatch.setattr(scaling_sf1, "OUT", str(tmp_path / "scaling.json"))
    (tmp_path / ".scaling_c32.json").write_text(json.dumps({"a": 0.0, "b": 0.5}))
    (tmp_path / ".scaling_c8.json").write_text(json.dumps({"a": 0.004, "b": 0.6}))
    assert scaling_sf1.merge() == 0
    rows = json.loads((tmp_path / "scaling.json").read_text())["queries"]
    assert rows["a"]["c8_over_c32"] is None
    assert rows["b"]["c8_over_c32"] == 1.2
