"""Span self time: duration minus what the children cover."""

import pytest

from spans import Span, Tracer, self_times


def test_self_time_subtracts_children_and_merges_overlaps():
    spans = [
        Span("job", "j", None, 0.0, 10.0, id=0),
        Span("a", "j", 0, 1.0, 3.0, id=1),
        Span("b", "j", 0, 2.0, 5.0, id=2),  # overlaps a: union is 1..5
        Span("c", "j", 0, 7.0, 8.0, id=3),
        Span("a.1", "j", 1, 1.5, 2.0, id=4),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(1.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_records_parents_and_job_and_nothing_when_off():
    tr = Tracer(True)
    tr.job = "job-0"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent, s.job) for s in tr.spans] == [
        ("outer", None, "job-0"), ("inner", 0, "job-0")]
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
