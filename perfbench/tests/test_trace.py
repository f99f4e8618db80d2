import pytest

from perfbench.trace import Span, Tracer, self_time_by_name, self_times


def _span(i, name, parent, start, end):
    return Span(i, name, parent, "r", start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "run", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 6.0),     # overlaps a: covered once
        _span(3, "a.inner", 1, 2.0, 3.0),
        _span(4, "late", 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_self_time_by_name_sums_repeated_calls():
    spans = [
        _span(0, "run", None, 0.0, 4.0),
        _span(1, "call", 0, 0.0, 1.0),
        _span(2, "call", 0, 2.0, 3.5),
    ]
    assert self_time_by_name(spans) == pytest.approx(
        {"run": 1.5, "call": 2.5})


def test_tracer_records_parents_and_closes_spans_on_error():
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with pytest.raises(RuntimeError):
            with tr.span("failing"):
                raise RuntimeError("boom")
    outer, inner, failing = tr.spans
    assert (outer.parent, inner.parent, failing.parent) == (None, 0, 0)
    assert all(s.end is not None and s.end >= s.start for s in tr.spans)
    assert {s.run_id for s in tr.spans} == {"run-1"}
    st = self_times(tr.spans)
    assert st[0] <= outer.end - outer.start
