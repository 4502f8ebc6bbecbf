"""Span self-time arithmetic and the tail-percentile rule."""

import pytest

from spans import Span, Tracer, covered_s, self_times, tail


def sp(sid, layer, start, end, parent=None):
    return Span(sid, layer, layer, start, end, parent, 0)


def test_covered_counts_overlaps_once_and_clips_to_the_window():
    assert covered_s(0, 10, [(1, 3), (2, 5), (8, 12), (-4, -1)]) == 6.0
    assert covered_s(0, 10, []) == 0.0


def test_self_time_subtracts_children_union_not_grandchildren():
    spans = [
        sp(0, "op", 0, 10),
        sp(1, "core", 1, 9, parent=0),
        sp(2, "fs", 2, 4, parent=1),
        sp(3, "fs", 3, 6, parent=1),  # overlaps its sibling (parallel threads)
        sp(4, "fs", 8, 8.5, parent=1),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(2.0)
    assert st["core"] == pytest.approx(8 - 4.5)
    assert st["fs"] == pytest.approx(2 + 3 + 0.5)


def test_tracer_parents_spans_from_other_threads_to_the_open_operation():
    import threading

    tr = Tracer()

    def worker():
        with tr.span("x", "fs"):
            pass

    with tr.span("pass", "op", op=True) as op:
        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=10)
        with tr.span("c", "core") as c:
            pass
    assert not t.is_alive()
    x = next(s for s in tr.spans if s.name == "x")
    assert x.parent == op.sid and x.op == op.sid
    assert c.parent == op.sid and c.op == op.sid


@pytest.mark.parametrize("n, want", [
    (10, None),             # nothing has ten samples above it
    (11, (100 / 11, 0.0)),  # the minimum has exactly ten above it
    (20, (50.0, 9.0)),
    (100, (90.0, 89.0)),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    got = tail([float(i) for i in reversed(range(n))])
    if want is None:
        assert got is None
    else:
        assert got == pytest.approx(want)
        assert sum(1 for i in range(n) if i > got[1]) == 10
