"""bench.py's artifact flags: the timing loop runs only on a full
bench, so this pins the pure helper it reports through."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_wave_ridden_names_queries_over_the_gate_sorted():
    per_query = {"q_c": 40.2, "q_a": 12.1, "q_b": 12.0, "q_d": 3.4}
    assert bench.wave_ridden(per_query, 12.0) == ["q_a", "q_c"]
    assert bench.wave_ridden({"q": 3.9, "r": 4.2}, 12.0) == []
    assert bench.wave_ridden({}, 12.0) == []
