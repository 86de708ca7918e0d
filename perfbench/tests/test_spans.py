"""Span self-time arithmetic."""

import pytest

from spans import Span, Tracer, covered, self_time_by_name, self_times


def sp(id, start, end, parent=None, name=None):
    return Span(id=id, name=name or id, start=start, end=end, parent=parent)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        sp("root", 0, 10),
        sp("a", 1, 4, "root"),
        sp("a1", 2, 3, "a"),
        sp("b", 3, 6, "root"),  # overlaps a: union of children is 1..6
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10 - 5)
    assert st["a"] == pytest.approx(3 - 1)
    assert st["a1"] == pytest.approx(1)
    assert st["b"] == pytest.approx(3)


def test_self_times_sum_to_root_duration_without_overlap():
    spans = [sp("r", 0, 9), sp("x", 1, 2, "r"), sp("y", 2, 5, "r"), sp("z", 3, 4, "y")]
    assert sum(self_times(spans).values()) == pytest.approx(9)


def test_self_time_by_name_sums_spans_of_one_name():
    spans = [
        sp("p", 0, 10, name="pass"),
        sp("q1", 0, 4, "p", name="query"),
        sp("q2", 5, 9, "p", name="query"),
        sp("b1", 0, 1, "q1", name="build"),
        sp("b2", 5, 7, "q2", name="build"),
    ]
    by = self_time_by_name(spans)
    assert by == pytest.approx({"pass": 2, "query": 5, "build": 3})


def test_tracer_nests_and_disables():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner", "q01"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.run_id == outer.run_id == tr.run_id
    assert inner.detail == "q01" and outer.end >= inner.end >= inner.start >= outer.start
    off = Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []
