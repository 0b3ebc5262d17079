"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402
import stats  # noqa: E402


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, None),
        (19, None),
        (20, 50.0),  # exactly 10 beyond the median
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (999, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected
    if expected is not None:
        assert n * (100 - expected) / 100 >= 10 - 1e-6


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 95) == pytest.approx(4.8)
    assert stats.percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_union_merges_overlaps_and_clips():
    iv = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (6.5, 6.8)]
    assert stats.union_length(iv, 0.0, 10.0) == pytest.approx(4.0)
    # Clipping to the action's interval drops what lies outside it.
    assert stats.union_length(iv, 2.5, 6.5) == pytest.approx(2.0)
    assert stats.union_length([(5.0, 6.0)], 0.0, 1.0) == 0.0
    assert stats.union_length([], 0.0, 1.0) == 0.0


def test_stage_gap_is_the_uncovered_part_of_the_action():
    # Action 0..10 s; stages run 1..3 and 2..5 (overlapping, concurrent)
    # and 8..12 (ends after the action).  Covered: 1..5 and 8..10.
    stages = [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]
    assert stats.uncovered(0.0, 10.0, stages) == pytest.approx(4.0)
    assert stats.uncovered(0.0, 10.0, []) == pytest.approx(10.0)
    assert stats.uncovered(0.0, 10.0, [(0.0, 10.0)]) == 0.0


def test_self_time_subtracts_covered_child_time():
    # request 0..10 → server 1..9 → api 2..8 → executor 3..7, which has
    # two children that overlap each other (4..6 and 5..6.5).
    tree = [
        (1, None, 0.0, 10.0),
        (2, 1, 1.0, 9.0),
        (3, 2, 2.0, 8.0),
        (4, 3, 3.0, 7.0),
        (5, 4, 4.0, 6.0),
        (6, 4, 5.0, 6.5),
    ]
    got = stats.self_times(tree)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(2.0)
    assert got[4] == pytest.approx(4.0 - 2.5)
    assert got[5] == pytest.approx(2.0)
    assert got[6] == pytest.approx(1.5)


def test_tracer_links_parents_within_and_across_threads():
    tracer = spans.Tracer()
    with tracer.request(7):
        with tracer.span("server"):
            with tracer.span("api"):
                parent, rid = tracer.current(), tracer.request_id()

                def worker():
                    with tracer.span("action", parent=parent, rid=rid):
                        pass

                t = threading.Thread(target=worker)
                t.start()
                t.join(timeout=10)
                assert not t.is_alive()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["request"].parent is None
    assert by_name["server"].parent == by_name["request"].sid
    assert by_name["api"].parent == by_name["server"].sid
    assert by_name["action"].parent == by_name["api"].sid
    assert {s.rid for s in tracer.spans} == {7}
    assert tracer.request_id() is None


def test_patched_restores_the_original():
    class Target:
        @staticmethod
        def f():
            return 1

    tracer = spans.Tracer()
    original = Target.f
    with spans.patched([(Target, "f", spans.traced_call(tracer, "f"))]):
        assert Target.f() == 1
    assert Target.f is original
    assert [s.name for s in tracer.spans] == ["f"]
