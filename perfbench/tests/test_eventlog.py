"""The event-log parser on a small checked-in rolling log.

The fixture is a real Spark 4.1 rolling log of five jobs, cut down to
the fields the parser reads and split over two roll files:

- job 0 (group ``perfbench:0``) ran stage 0 with 4 tasks;
- jobs 1 and 2 (group ``perfbench:1``) ran stages 1 and 3; stage 2 was
  skipped;
- jobs 3 and 4 carry no group; stage 5 was skipped.
"""

import os

import pytest

import eventlog
from harness import Span

FIX = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")


def _span(i, start_ms, end_ms, layer="l"):
    s = Span(id=i, name=f"s{i}", layer=layer, parent=None, start=0.0, start_ms=start_ms)
    s.end_ms = end_ms
    return s


@pytest.fixture
def log():
    files = eventlog.event_files(FIX)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]
    return eventlog.parse(files)


def test_parse_reads_jobs_across_roll_files(log):
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    assert log.jobs[0].group == "perfbench:0"
    assert log.jobs[2].stage_ids == [2, 3]
    assert log.jobs[3].group is None
    assert all(j.ok and j.end_ms >= j.submit_ms for j in log.jobs.values())
    assert log.completed_stages == {0, 1, 3, 4, 6}


def test_task_metrics_sum_per_stage(log):
    st = log.stages
    assert st[0].tasks == 4 and st[0].run_ms == 545
    assert st[1].shuffle_write_bytes == 266
    assert st[3].shuffle_read_bytes == 266


def test_attribution_by_group_then_time(log):
    spans = [
        _span(0, 1792204839000, 1792204839700),
        _span(1, 1792204840100, 1792204840800),
        _span(2, 1792204840850, 1792204840950),  # holds job 3, no group
    ]
    unattributed = eventlog.attribute(log, spans)
    assert [(j.id, j.span, j.how) for j in sorted(log.jobs.values(), key=lambda j: j.id)] == [
        (0, 0, "group"), (1, 1, "group"), (2, 1, "group"), (3, 2, "time"), (4, None, ""),
    ]
    assert unattributed == [4]  # job 4 ran outside every span


def test_per_span_counts_completed_stages_only(log):
    spans = [
        _span(0, 1792204839000, 1792204839700),
        _span(1, 1792204840100, 1792204840800),
        _span(2, 1792204840850, 1792204840950),
    ]
    eventlog.attribute(log, spans)
    stats = eventlog.per_span(log)
    assert (stats[0].jobs, stats[0].stages, stats[0].totals.tasks) == (1, 1, 4)
    assert (stats[1].jobs, stats[1].stages, stats[1].totals.tasks) == (2, 2, 3)
    assert stats[1].totals.run_ms == 358 + 88
    assert stats[1].totals.shuffle_write_bytes == 266
    assert (stats[2].jobs, stats[2].stages) == (1, 1)
    both = eventlog.sum_spark(stats, [0, 1])
    assert (both.jobs, both.stages, both.totals.tasks) == (3, 3, 7)


def test_innermost_span_wins_for_time_attribution(log):
    outer = _span(0, 1792204840000, 1792204841100)
    inner = _span(1, 1792204840850, 1792204840950)
    inner.parent = 0
    eventlog.attribute(log, [outer, inner])
    assert log.jobs[3].span == 1
    assert log.jobs[4].span == 0
    assert eventlog.subtree([outer, inner], 0) == [0, 1]


def test_unknown_group_falls_back_to_time(log):
    log.jobs[0].group = "perfbench:99"
    eventlog.attribute(log, [_span(5, 1792204839000, 1792204839700)])
    assert (log.jobs[0].span, log.jobs[0].how) == (5, "time")
