"""Tests for the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
from pathlib import Path

import numpy as np
import pytest

from perfbench import reference
from perfbench.tracing import interval_metrics
from perfbench.run import END_TO_END, per_layer_units
from perfbench.workloads import AnticorrD6, percentile_tail


def brute_force(points: np.ndarray, senses) -> np.ndarray:
    """Skyline by the definition, pair by pair."""
    M = reference.to_min_space(points, senses)
    keep = []
    for i, p in enumerate(M):
        dominated = any((q <= p).all() and (q < p).any() for q in M)
        if not dominated:
            keep.append(i)
    return reference.canonical(points[keep])


CASES = [
    (np.random.default_rng(s).integers(0, k, size=(n, d)), senses)
    for s, (n, d, k) in enumerate([(200, 2, 50), (300, 3, 10), (150, 6, 1000), (64, 4, 3)])
    for senses in (("min",) * d, tuple(itertools.islice(itertools.cycle(("max", "min")), d)))
]


@pytest.mark.parametrize("points,senses", CASES)
def test_reference_matches_definition(points, senses, monkeypatch):
    # small blocks so several blocks and kept-set chunks are exercised
    monkeypatch.setattr(reference, "BLOCK", 16)
    monkeypatch.setattr(reference, "KEPT_CHUNK", 8)
    mask = reference.skyline_mask(reference.to_min_space(points, senses))
    got = reference.canonical(points[mask])
    assert np.array_equal(got, brute_force(points, senses))
    assert reference.compare(points[mask], got) is None
    assert reference.check_definition(points[mask], points, senses) is None


def test_duplicates_and_edge_shapes():
    senses = ("min", "min")
    pts = np.array([[1, 1], [1, 1], [2, 0], [2, 0], [3, 3]])
    ref = reference.canonical(pts[reference.skyline_mask(pts)])
    assert ref.tolist() == [[1, 1], [1, 1], [2, 0], [2, 0]]
    one = np.array([[5, 7]])
    assert reference.skyline_mask(one).tolist() == [True]
    assert reference.skyline_mask(np.empty((0, 2), dtype=np.int64)).tolist() == []
    assert reference.check_definition(ref, pts, senses) is None


def _frontier_and_dominated(seed=7, n=500, d=3):
    rng = np.random.default_rng(seed)
    pts = rng.integers(0, 10**6, size=(n, d))
    senses = ("min", "max", "min")
    mask = reference.skyline_mask(reference.to_min_space(pts, senses))
    return pts, senses, pts[mask], pts[~mask]


def test_dropped_row_is_caught():
    pts, senses, front, _ = _frontier_and_dominated()
    ref = reference.canonical(front)
    assert len(front) > 2
    short = front[1:]
    assert reference.compare(short, ref) is not None
    assert reference.check_definition(short, pts, senses) is not None


def test_added_dominated_row_is_caught():
    pts, senses, front, dominated = _frontier_and_dominated()
    ref = reference.canonical(front)
    extra = np.vstack([front, dominated[:1]])
    assert reference.compare(extra, ref) is not None
    assert reference.check_definition(extra, pts, senses) is not None
    # swapping a frontier row for a dominated one keeps the size
    swapped = np.vstack([front[1:], dominated[:1]])
    assert reference.compare(swapped, ref) is not None
    assert reference.check_definition(swapped, pts, senses) is not None


def test_order_does_not_matter():
    _, _, front, _ = _frontier_and_dominated()
    ref = reference.canonical(front)
    assert reference.compare(front[::-1], ref) is None


def test_int32_range_is_enforced():
    with pytest.raises(ValueError):
        reference.skyline_mask(np.array([[2**40, 1], [1, 2]]))


def test_percentile_tail():
    assert percentile_tail([1.0, 5.0, 3.0]) == (5.0, 100.0)
    v, p = percentile_tail([float(i) for i in range(1, 21)])
    assert p == 50.0
    v, p = percentile_tail([float(i) for i in range(1000)])
    assert p == 99.0


def test_interval_metrics_union_and_gap():
    jobs = {
        1: {"group": "g", "batch": None, "t0": 10.0, "t1": 12.0, "stages": [1]},
        2: {"group": "g", "batch": None, "t0": 11.0, "t1": 13.0, "stages": [2, 3]},
    }
    stages = {
        1: {"tasks": 2, "run_ms": 1000, "gc_ms": 10, "shuffle_write": 2**20, "shuffle_read": 0, "spill": 0, "python": False},
        2: {"tasks": 4, "run_ms": 3000, "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 2**20, "spill": 0, "python": True},
    }
    m = interval_metrics(9.0, 14.0, [1, 2], jobs, stages)
    assert m["jobs"] == 2 and m["stages"] == 2 and m["tasks"] == 6
    assert m["run_s"] == 4.0 and m["python_stage_run_s"] == 3.0
    assert m["shuffle_write_mb"] == 1.0 and m["shuffle_read_mb"] == 1.0
    assert m["driver_gap_s"] == pytest.approx(2.0)


def test_trace_overhead_compares_traced_with_untraced_ops():
    wl = AnticorrD6(1, 16)
    m = {"latency_s": [2.0, 2.2, 2.0, 2.2, 2.0], "traced": [False, True, False, True, False]}
    assert wl.trace_overhead(m) == pytest.approx(0.1)
    assert wl.trace_overhead({"latency_s": [2.0], "traced": [False]}) == 0.0


def test_benchmark_json_names_every_reported_metric():
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
