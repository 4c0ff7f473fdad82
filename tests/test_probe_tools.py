"""The diagnostic tools' parsing: the event-log digester
``profile_query.digest`` (its job-window contract) and canary.py's
contamination audit. These adjudicate every future perf number, so
their parsing must not rot silently."""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import canary  # noqa: E402
import profile_query  # noqa: E402


def test_digest_job_count_narrows_to_each_window(tmp_path):
    """``digest`` counts jobs from ``t0`` to the end of the log; the
    narrowed count (``window_jobs``) is exact per window. Bounding
    ``digest``'s jobs by ``t1`` in place would make the narrowed
    counts negative here."""
    windows = {"a": (1000, 2000), "b": (3000, 4000)}
    submits = {"a": [1000, 1500, 1999], "b": [3000, 3900]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": i, "Submission Time": t}
        for i, t in enumerate([*submits["a"], *submits["b"], 5000])
    ]
    for sid, (t0, t1) in enumerate(windows.values()):
        events.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Stage Name": f"s{sid}", "Number of Tasks": 1,
            "Submission Time": t0 + 10, "Completion Time": t1 - 10}})
    log = tmp_path / "events.jsonl"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    for name, (t0, t1) in windows.items():
        assert profile_query.window_jobs(str(log), t0, t1) == len(submits[name])
        d = profile_query.digest(str(log), t0, t1)
        assert d["n_stages"] == 1
    # the raw count runs to the end of the log: 3 + 2 + 1 jobs from t0 of "a"
    assert profile_query.digest(str(log), *windows["a"])["jobs"] == 6


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
