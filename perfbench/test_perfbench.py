"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The run tests start ``run.py`` from the repo root, as a benchmark runner
does, on a seed no tuning run used and a one-second timed window, and
read the last two lines of its standard output (the run record and the
result). They take a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

#: The layers each workload's traced run must see jobs in; its timed
#: spans there must read more than 0, and every other layer no jobs.
REACHED = {
    "batch_session": {"sources", "validation", "candles", "windows", "indicators", "anchors",
                      "exec"},
    "stream_upsert": {"sources", "streaming", "sinks"},
    "dedup_corpus": {"sources", "text", "graph", "exec", "dedup"},
}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    record, result = proc.stdout.strip().splitlines()[-2:]
    assert record.startswith("record ")
    return json.loads(record[len("record "):]), json.loads(result)


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    record, result = _result(_run(ROOT, workload, 0))
    _assert_metrics(result, SPEC["end_to_end"])
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])
    assert set(record["checks"].values()) == {"ok"}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric_and_same_outputs(workload):
    record, result = _result(_run(ROOT, workload, 1))
    _assert_metrics(result, SPEC["per_layer"])
    assert record["output_hashes"] == record["reference_hashes"]
    assert set(record["checks"].values()) == {"ok"}
    value = {k: v["value"] for k, v in result["metrics"].items()}
    reached = REACHED[workload] | {"session"}
    for name in value:
        layer = name.split(".")[0]
        if name.endswith((".jobs", ".tasks")):
            assert (value[name] > 0) == (layer in reached), name
        elif name.endswith("_s") and layer in reached:
            assert value[name] > 0, name


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_inputs_repeat_for_a_seed():
    a, b = gen.make_ticks(5, 2, 1.0, 120), gen.make_ticks(5, 2, 1.0, 120)
    assert a.equals(b) and not a.equals(gen.make_ticks(6, 2, 1.0, 120))
    assert gen.make_documents(5, 200, 0.1, 0.1) == gen.make_documents(5, 200, 0.1, 0.1)
