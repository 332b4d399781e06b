"""Span bookkeeping: parents, union coverage and self time."""

import threading

from spans import Span, Tracer, self_time, union_length


def _span(start, end, parent=None):
    return Span(id=0, name="s", start=start, end=end, parent=parent)


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0


def test_self_time_with_overlapping_concurrent_children():
    parent = _span(0.0, 10.0)
    children = [
        _span(1.0, 4.0),  # two pool writes running at once ...
        _span(2.0, 6.0),  # ... cover [1, 6] together, not 7 s
        _span(8.0, 12.0),  # runs past the parent: only [8, 10] counts
    ]
    assert self_time(parent, children) == 10.0 - (5.0 + 2.0)


def test_self_time_ignores_children_outside_the_span():
    parent = _span(5.0, 6.0)
    assert self_time(parent, [_span(0.0, 1.0), _span(7.0, 8.0)]) == 1.0


def test_tracer_parents_follow_the_thread():
    ticks = iter(range(100))
    tr = Tracer("run", clock=lambda: float(next(ticks)))
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
        seen = {}

        def worker():
            with tr.span("pool") as s:
                seen["pool"] = s
            with tr.span("pool.explicit", parent=outer.id) as s:
                seen["explicit"] = s

        t = threading.Thread(target=worker)
        t.start()
        t.join()
    assert inner.parent == outer.id
    # another thread does not inherit this thread's open span ...
    assert seen["pool"].parent is None
    # ... unless the caller names the parent, as the tracing catalog does
    assert seen["explicit"].parent == outer.id
    assert tr.children(outer) == [inner, seen["explicit"]]
    assert all(s.run_id == "run" for s in tr.spans)
    assert outer.duration > inner.duration
