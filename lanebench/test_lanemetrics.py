"""Tests for the benchmark's pure helpers, on synthetic inputs.

    python3 -m pytest lanebench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from lanemetrics import (  # noqa: E402
    attribute,
    in_window,
    pass_total,
    percentile,
    samples_beyond,
    self_time,
    tail_reportable,
    union_length,
)


def test_percentile_endpoints_and_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == statistics.median(xs)
    assert percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_ten_beyond_rule_for_p90():
    # 100 * (1 - 0.9) is 9.999... in floats; the rule must still admit n=100
    assert samples_beyond(100, 90) == 10
    assert tail_reportable(100, 90)
    assert not tail_reportable(99, 90)
    assert not tail_reportable(26, 90)
    assert tail_reportable(1000, 99)
    assert not tail_reportable(999, 99)


def test_pass_total_sums_per_lane_medians():
    by_lane = {"a": [1.0, 2.0, 30.0], "b": [10.0, 10.0, 11.0], "c": [0.5]}
    assert pass_total(by_lane) == 2.0 + 10.0 + 0.5
    # a pooled median would sit on the middle lane and miss a move in 'a'
    moved = dict(by_lane, a=[5.0, 6.0, 7.0])
    assert pass_total(moved) == 6.0 + 10.0 + 0.5
    assert pass_total(by_lane, max) == 30.0 + 11.0 + 0.5
    with pytest.raises(ValueError):
        pass_total({})


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0
    assert union_length([(3, 4), (0, 1)]) == 2.0
    assert union_length([(0, 2), (2, 4)]) == 4.0  # touching, counted once
    assert union_length([(0, 10)], lo=2, hi=5) == 3.0
    assert union_length([(0, 1), (8, 9)], lo=2, hi=5) == 0.0


def test_self_time_subtracts_covered_children():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (2, 4)]) == 7
    # a child running past its parent counts only inside the parent
    assert self_time(0, 10, [(8, 12)]) == 8
    assert self_time(0, 10, [(0, 10)]) == 0


def test_driver_gap_is_request_time_with_no_stage_running():
    stages = [(1.0, 2.0), (1.5, 3.0), (6.0, 7.0)]
    assert self_time(0.0, 8.0, stages) == pytest.approx(8.0 - 3.0)
    assert self_time(2.5, 6.5, stages) == pytest.approx(4.0 - 1.0)


def test_in_window_is_half_open():
    assert in_window([1, 2, 3, 4, 5], 2, 4) == [3, 4]
    assert in_window([5, 3, 4], 2, 4) == [3, 4]
    assert in_window([1, 2], 2, 2) == []


def test_attribute_splits_ids_by_span_windows():
    marks = [("operators.build", 10, 13), ("catalyst.plan", 13, 13), ("exec.collect", 13, 17)]
    got = attribute(range(8, 20), marks)
    assert got == {
        "operators.build": [11, 12, 13],
        "catalyst.plan": [],
        "exec.collect": [14, 15, 16, 17],
    }


def test_attribute_rejects_overlapping_windows():
    with pytest.raises(ValueError):
        attribute([1, 2, 3], [("a", 0, 2), ("b", 1, 3)])


def test_benchmark_json_lists_what_run_py_reports():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
