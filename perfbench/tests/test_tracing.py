import itertools

import pytest
from tracing import Span, Tracer, self_times, tail_percentile


@pytest.mark.parametrize(
    "n, pct, rank",
    [(11, 9, 1), (20, 50, 10), (21, 52, 11), (24, 58, 14), (56, 82, 46), (100, 90, 90), (1000, 99, 990)],
)
def test_tail_percentile_leaves_at_least_ten_beyond(n, pct, rank):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted input
    p, value = tail_percentile(samples)
    assert (p, value) == (pct, float(rank))
    assert sum(s > value for s in samples) >= 10
    # The next whole percentile up would leave fewer than ten beyond.
    assert n - -(-(p + 1) * n // 100) < 10


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_percentile_needs_eleven_samples(n):
    assert tail_percentile([1.0] * n) is None


def test_tail_percentile_planned_fixes_the_percentile():
    samples = [float(i) for i in range(1, 113)]  # 8 passes of 14 keys
    p, value = tail_percentile(samples, planned=56)  # 4 passes planned
    assert p == 82
    assert value == float(-(-82 * 112 // 100))
    assert sum(s > value for s in samples) >= 10
    with pytest.raises(ValueError):
        tail_percentile(samples[:50], planned=56)


def test_self_time_subtracts_children_once():
    ticks = itertools.count()
    clock = lambda: float(next(ticks))  # noqa: E731 -- each call advances one second
    t = Tracer(clock=clock)
    with t.span("query", trace_id="q1"):  # start 0
        with t.span("fn"):  # 1
            with t.span("load_table"):  # 2..3
                pass
            with t.span("load_table"):  # 4..5
                pass
        with t.span("write"):  # 7..8
            pass
    # query ends 9, fn ends 6
    by_name = {}
    for s in t.spans:
        by_name.setdefault(s.name, []).append(s)
    selfs = self_times(t.spans)
    q, fn, w = by_name["query"][0], by_name["fn"][0], by_name["write"][0]
    assert (q.duration, fn.duration, w.duration) == (9.0, 5.0, 1.0)
    assert selfs[fn.id] == 5.0 - 2.0
    assert selfs[q.id] == 9.0 - 5.0 - 1.0
    assert all(s.trace_id == "q1" for s in t.spans)
    assert fn.parent == q.id and by_name["load_table"][1].parent == fn.id


def test_self_time_clips_overlapping_and_overhanging_children():
    parent = Span("p", "p", "t", None, 0.0, 10.0)
    kids = [
        Span("a", "c", "t", "p", 1.0, 4.0),
        Span("b", "c", "t", "p", 3.0, 5.0),  # overlaps a: union 1..5
        Span("c", "c", "t", "p", 8.0, 12.0),  # runs past the parent: counts 8..10
    ]
    assert self_times([parent, *kids])["p"] == 10.0 - 4.0 - 2.0


def test_tracer_hooks_see_parent_on_exit():
    seen = []
    t = Tracer(on_enter=lambda s: seen.append(("in", s.name)),
               on_exit=lambda s, parent: seen.append(("out", s.name, parent and parent.name)))
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert seen == [("in", "outer"), ("in", "inner"), ("out", "inner", "outer"), ("out", "outer", None)]
