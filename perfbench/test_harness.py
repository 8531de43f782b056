"""Arithmetic of the benchmark itself: the tail percentile, the choice of
the least-disturbed iterations, the stage interval union behind
spark.driver_gap_s, and span self time.

    python3 -m pytest perfbench/test_harness.py -q
"""

import pytest

from perfbench.harness import Tracer, least_disturbed, self_times, tail, union_length


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    value, pct = tail(values)
    # exactly ten samples (91..100) lie above the reported one
    assert value == 90.0
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * 89 / 99)


def test_tail_order_independent_and_beyond_param():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert tail(values, beyond=2) == (3.0, 50.0)
    assert tail(list(reversed(values)), beyond=2) == (3.0, 50.0)


def test_tail_with_too_few_samples_is_the_minimum():
    assert tail([2.0, 1.0, 3.0]) == (1.0, 0.0)
    assert tail([7.0]) == (7.0, 0.0)
    assert tail([float(v) for v in range(11)]) == (0.0, 0.0)


def test_least_disturbed_keeps_every_calm_sample():
    assert least_disturbed([0.5, 9.0, 1.9, 2.0, 0.1], calm_pct=2.0) == [0, 2, 3, 4]
    assert least_disturbed([0.5, 0.7], calm_pct=2.0) == [0, 1]


def test_least_disturbed_keeps_at_least_half():
    # one calm sample of five: the two least-stolen others join it
    assert least_disturbed([7.0, 1.0, 15.0, 3.0, 4.0], calm_pct=2.0) == [1, 3, 4]
    assert least_disturbed([13.0, 15.0, 17.0, 14.0], calm_pct=2.0) == [0, 3]
    assert least_disturbed([9.0], calm_pct=2.0) == [0]
    assert least_disturbed([], calm_pct=2.0) == []


def test_union_merges_overlap_and_nesting():
    # [0,2] and [1,3] overlap, [1.5,1.8] nests, [5,6] is apart
    intervals = [(0.0, 2.0), (5.0, 6.0), (1.0, 3.0), (1.5, 1.8)]
    assert union_length(intervals, 0.0, 10.0) == pytest.approx(4.0)


def test_union_clips_to_window_and_touching_intervals():
    assert union_length([(-5.0, 1.0), (9.0, 20.0)], 0.0, 10.0) == pytest.approx(2.0)
    assert union_length([(0.0, 1.0), (1.0, 2.0)], 0.0, 10.0) == pytest.approx(2.0)
    assert union_length([(11.0, 12.0)], 0.0, 10.0) == 0.0
    assert union_length([], 0.0, 10.0) == 0.0


def test_driver_gap_is_window_minus_stage_union():
    # window [100, 110]; two stages overlap in [103, 104]
    stages = [(101.0, 104.0), (103.0, 107.0)]
    gap = (110.0 - 100.0) - union_length(stages, 100.0, 110.0)
    assert gap == pytest.approx(4.0)


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 5.0, 6.0),
        _span(3, 1, 2.0, 3.5),  # grandchild: counts against span 1 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.5)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0), _span(2, 0, 3.0, 6.0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0)


def test_tracer_nests_and_records_nothing_when_inactive():
    tr = Tracer()
    with tr.span("off") as sp:
        assert sp is None
    assert tr.spans == []
    tr.active = True
    with tr.span("root") as root:
        with tr.span("child"):
            with tr.span("leaf"):
                pass
        with tr.span("child"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, root["id"], 1, root["id"]]
    assert [s["name"] for s in tr.children(root["id"])] == ["child", "child"]
    assert [s["name"] for s in tr.descendants(root["id"])].count("leaf") == 1
    assert all(s["end"] >= s["start"] for s in tr.spans)
