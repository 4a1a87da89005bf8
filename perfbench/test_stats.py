"""Self-tests of the benchmark's pure helpers and of BENCHMARK.json's
agreement with the code. Run: python3 -m pytest perfbench -q"""

import json
import os
import sys

import pytest

from stats import Span, due_offsets, self_times, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert n == 100
    assert value == 90  # 91..100 lie beyond it
    assert pct == pytest.approx(90.0)
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_free_and_exact_at_eleven():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.5]
    value, pct, n = tail(xs)
    assert (value, n) == (0.5, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_too_few_samples_is_max():
    assert tail([2.0, 9.0, 4.0]) == (9.0, 100.0, 3)
    with pytest.raises(ValueError):
        tail([])


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "batch", 0.0, 10.0),
        Span(1, "write", 1.0, 4.0, parent=0),
        Span(2, "agg", 3.0, 6.0, parent=0),  # overlaps write: 1..6 covered
        Span(3, "inner", 1.5, 2.0, parent=1),
        Span(4, "ckpt", 9.0, 12.0, parent=0),  # runs past the parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)


def test_self_time_of_leaf_is_duration():
    assert self_times([Span(7, "x", 2.0, 2.25)]) == {7: 0.25}


def test_due_schedule_fixed_rate():
    offs = due_offsets(5, 4.0)
    assert offs == [0.0, 0.25, 0.5, 0.75, 1.0]
    with pytest.raises(ValueError):
        due_offsets(3, 0)


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from run import END_TO_END, WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    try:
        from traced import PER_LAYER
    except ImportError:  # needs pyspark and the package on the path
        pytest.skip("traced module not importable here")
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
