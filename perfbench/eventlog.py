"""Spark event-log parser: attributes every job, stage and task of a
traced run to the span that caused it.

Spark 4.1 writes an uncompressed rolling log as
``eventlog_v2_<app id>/events_<n>_<app id>``, one JSON event per line.
A job is attributed to a span by its ``spark.jobGroup.id`` property
(``harness.GROUP_PREFIX`` + span id). A job without that property is
attributed to the innermost span whose interval holds its submission
time; a job outside every span is reported as unattributed. A stage's
tasks belong to the first job that lists the stage.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

from harness import GROUP_PREFIX

MB = 1024.0 * 1024.0


@dataclass
class StageTotals:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, tm: dict) -> None:
        sr = tm.get("Shuffle Read Metrics", {})
        sw = tm.get("Shuffle Write Metrics", {})
        self.tasks += 1
        self.run_ms += tm.get("Executor Run Time", 0)
        self.cpu_ns += tm.get("Executor CPU Time", 0)
        self.gc_ms += tm.get("JVM GC Time", 0)
        self.input_bytes += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        self.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        self.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
        self.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        self.spill_bytes += tm.get("Disk Bytes Spilled", 0)


@dataclass
class Job:
    id: int
    group: "str | None"
    submit_ms: int
    stage_ids: "list[int]"
    end_ms: int = 0
    ok: bool = True
    span: "int | None" = None
    how: str = ""  # "group", "time" or "" (unattributed)


@dataclass
class Log:
    jobs: "dict[int, Job]" = field(default_factory=dict)
    stages: "dict[int, StageTotals]" = field(default_factory=dict)
    completed_stages: "set[int]" = field(default_factory=set)


def event_files(log_dir: str) -> "list[str]":
    """The rolling event files under ``log_dir``, in roll order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(files, key=lambda p: (os.path.dirname(p), index(p)))


def parse(files: "list[str]") -> Log:
    log = Log()
    for path in files:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    log.jobs[e["Job ID"]] = Job(
                        id=e["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        submit_ms=e.get("Submission Time", 0),
                        stage_ids=list(e.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(e["Job ID"])
                    if job is not None:
                        job.end_ms = e.get("Completion Time", 0)
                        job.ok = (e.get("Job Result") or {}).get(
                            "Result"
                        ) == "JobSucceeded"
                elif kind == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics")
                    if tm:
                        log.stages.setdefault(e["Stage ID"], StageTotals()).add(tm)
                elif kind == "SparkListenerStageCompleted":
                    log.completed_stages.add(e["Stage Info"]["Stage ID"])
    return log


def attribute(log: Log, spans) -> "list[int]":
    """Set ``job.span`` for every job; returns unattributed job ids.
    ``spans`` are ``harness.Span`` objects."""
    by_id = {s.id: s for s in spans}
    unattributed = []
    for job in log.jobs.values():
        g = job.group or ""
        if g.startswith(GROUP_PREFIX) and g[len(GROUP_PREFIX):].isdigit():
            sid = int(g[len(GROUP_PREFIX):])
            if sid in by_id:
                job.span, job.how = sid, "group"
                continue
        holding = [
            s for s in spans if s.start_ms <= job.submit_ms <= s.end_ms
        ]
        if holding:
            # innermost: the latest-starting span that holds the instant
            job.span = max(holding, key=lambda s: (s.start_ms, s.id)).id
            job.how = "time"
        else:
            unattributed.append(job.id)
    return sorted(unattributed)


def stage_owner(log: Log) -> "dict[int, int]":
    """stage id -> id of the first job listing it."""
    owner: "dict[int, int]" = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid].stage_ids:
            owner.setdefault(sid, jid)
    return owner


@dataclass
class SpanSpark:
    jobs: int = 0
    stages: int = 0
    totals: StageTotals = field(default_factory=StageTotals)


def per_span(log: Log) -> "dict[int, SpanSpark]":
    """Spark work per span id (only the span's own jobs, not its
    children's)."""
    out: "dict[int, SpanSpark]" = {}
    for job in log.jobs.values():
        if job.span is not None:
            out.setdefault(job.span, SpanSpark()).jobs += 1
    for sid, jid in stage_owner(log).items():
        job = log.jobs[jid]
        if job.span is None or sid not in log.completed_stages:
            continue
        acc = out.setdefault(job.span, SpanSpark())
        acc.stages += 1
        st = log.stages.get(sid)
        if st is None:
            continue
        t = acc.totals
        for k in vars(t):
            setattr(t, k, getattr(t, k) + getattr(st, k))
    return out


def subtree(spans, root_id: int) -> "list[int]":
    kids: "dict[int | None, list[int]]" = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s.id)
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo += kids.get(sid, [])
    return out


def sum_spark(stats: "dict[int, SpanSpark]", span_ids) -> SpanSpark:
    acc = SpanSpark()
    for sid in span_ids:
        s = stats.get(sid)
        if s is None:
            continue
        acc.jobs += s.jobs
        acc.stages += s.stages
        for k in vars(acc.totals):
            setattr(acc.totals, k, getattr(acc.totals, k) + getattr(s.totals, k))
    return acc
