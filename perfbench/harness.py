"""Measurement primitives shared by every workload.

- ``Tracer``: span recorder. Each span has a name, a layer, a start, an
  end and a parent. With tracing on, entering a span also sets the Spark
  job group to the span's id, so the event log can attribute every job
  to the span that caused it. With tracing off, spans still time the
  ops but set no job group.
- ``tail_percentile``: the "highest percentile with at least ten samples
  beyond it" rule for the tail latency metric.
- ``/proc`` readers for CPU time and peak RSS of the driver, the JVM
  and the Python workers.
"""

from __future__ import annotations

import math
import os
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: job-group prefix; the event-log parser maps ``<PREFIX><span id>``
#: back to the span.
GROUP_PREFIX = "perfbench:"

MIN_BEYOND = 10


def tail_percentile(samples: "list[float]", min_beyond: int = MIN_BEYOND):
    """``(value, percentile)`` for the highest whole percentile p whose
    nearest-rank value has at least ``min_beyond`` samples above its
    rank. With ``min_beyond`` samples or fewer no percentile qualifies;
    the maximum is returned with percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= min_beyond:
            return xs[rank - 1], p
    return xs[-1], 100


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: "int | None"
    start: float  # perf_counter seconds
    start_ms: int  # epoch milliseconds, comparable to event-log times
    end: float = 0.0
    end_ms: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``spark_context`` is set once the
    session exists; until then spans carry no job group."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: "list[Span]" = []
        self._stack: "list[Span]" = []
        self.spark_context = None

    def _set_group(self, span: "Span | None") -> None:
        sc = self.spark_context
        if not self.traced or sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(
                f"{GROUP_PREFIX}{span.id}", f"{span.layer}:{span.name}"
            )

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            start=0.0,
            start_ms=0,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start_ms = int(time.time() * 1000)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.end_ms = int(time.time() * 1000)
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self, span_id: int) -> "list[Span]":
        return [s for s in self.spans if s.parent == span_id]


def self_time(span: Span, children: "list[Span]") -> float:
    """The span's duration minus the part of its interval its children
    cover (overlapping children are counted once)."""
    ivals = sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivals:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


# ---------------------------------------------------------------- /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> "str | None":
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def _children_map() -> "dict[int, list[int]]":
    kids: "dict[int, list[int]]" = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _read(f"/proc/{d}/stat")
        if st is None:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> "list[int]":
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cmdline(pid: int) -> str:
    raw = _read(f"/proc/{pid}/cmdline") or ""
    return raw.replace("\0", " ")


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children's when asked)."""
    st = _read(f"/proc/{pid}/stat")
    if st is None:
        return 0.0
    f = st[st.rindex(")") + 2:].split()
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def vm_hwm_mb(pid: int) -> float:
    st = _read(f"/proc/{pid}/status") or ""
    for line in st.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def py_cpu_self() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


class ProcessTree:
    """The driver's JVM and Python-worker processes, found by walking
    /proc from this process."""

    def __init__(self):
        self.me = os.getpid()
        self.worker_pids_seen: "set[int]" = set()

    def jvm_pids(self) -> "list[int]":
        return [p for p in descendants(self.me) if "java" in cmdline(p).split(" ")[0]]

    def pyworker_roots(self) -> "list[int]":
        """Python processes under the JVM: the ``pyspark.daemon`` and
        any worker it forked."""
        out = []
        for j in self.jvm_pids():
            for p in descendants(j):
                cl = cmdline(p)
                if "pyspark" in cl or "python" in cl.split(" ")[0]:
                    out.append(p)
        return out

    def jvm_cpu(self) -> float:
        return sum(cpu_seconds(p) for p in self.jvm_pids())

    def pyworker_cpu(self) -> float:
        """CPU of the Python worker tree. The daemon's reaped-children
        counters carry workers that already exited."""
        total = 0.0
        for p in self.pyworker_roots():
            self.worker_pids_seen.add(p)
            total += cpu_seconds(p, with_children="pyspark.daemon" in cmdline(p))
        return total

    def peak_rss_parts_mb(self) -> "dict[str, float]":
        """VmHWM of the driver, the JVM and the Python workers."""
        return {
            "driver": vm_hwm_mb(self.me),
            "jvm": sum(vm_hwm_mb(p) for p in self.jvm_pids()),
            "pyworkers": sum(vm_hwm_mb(p) for p in self.pyworker_roots()),
        }
