"""The tail-percentile rule and span self time."""

import math

import pytest

from harness import Span, Tracer, self_time, tail_percentile


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail_percentile(xs)
    assert pct == 90
    assert value == 90.0
    assert sum(1 for x in xs if x > value) == 10


@pytest.mark.parametrize("n, pct", [(11, 9), (15, 33), (18, 44), (36, 72), (100, 90), (1000, 99)])
def test_tail_percentile_by_sample_count(n, pct):
    xs = list(range(n))
    value, got = tail_percentile(xs)
    assert got == pct
    assert sum(1 for x in xs if x > value) >= 10
    if pct < 99:  # one percentile higher would leave fewer than ten beyond
        assert n - math.ceil((pct + 1) / 100 * n) < 10


def test_tail_falls_back_to_max_without_ten_beyond():
    assert tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100)
    assert tail_percentile([float(i) for i in range(10)]) == (9.0, 100)


def test_tail_is_order_independent():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0] * 4
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


def _span(i, start, end, parent=None):
    s = Span(id=i, name=f"s{i}", layer="l", parent=parent, start=start, start_ms=0)
    s.end = end
    return s


def test_self_time_subtracts_children():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.5, 0)]
    assert self_time(root, kids) == pytest.approx(6.5)


def test_self_time_counts_overlap_once_and_clips():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 9.0, 12.0, 0)]
    # covered: [1, 5] and [9, 10] -> 5 s
    assert self_time(root, kids) == pytest.approx(5.0)


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 2.0, 3.5), []) == pytest.approx(1.5)


def test_tracer_nests_and_sets_job_groups():
    calls = []

    class FakeSC:
        def setJobGroup(self, gid, desc):
            calls.append((gid, desc))

        def setLocalProperty(self, k, v):
            calls.append((k, v))

    t = Tracer(traced=True)
    t.spark_context = FakeSC()
    with t.span("op", "txlog"):
        with t.span("read_plan", "txlog"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert calls[0] == ("perfbench:0", "txlog:op")
    assert calls[1] == ("perfbench:1", "txlog:read_plan")
    assert calls[2] == ("perfbench:0", "txlog:op")  # restored on exit
    assert calls[-1] == ("spark.job.description", None)
    assert self_time(t.spans[0], t.children(0)) <= t.spans[0].duration


def test_untraced_tracer_sets_no_group():
    class Boom:
        def __getattr__(self, k):
            raise AssertionError("no job group without tracing")

    t = Tracer(traced=False)
    t.spark_context = Boom()
    with t.span("op", "queries"):
        pass
    assert t.spans[0].duration >= 0
