"""Spans around calls into the engine's layers, and Spark's event log
reduced per span.

A traced run installs a wrapper at each name a caller looks up (for
example ``pipeline.merge_into`` and ``multi.merge_into`` both bind
``lake.merge.merge_into``). Each wrapper records a :class:`Span` in
memory and sets the Spark local property :data:`SPAN_KEY` to its span id
while it runs, so every job it submits carries that id into the event
log. Job groups are left alone: ``CdcPipeline`` uses them to cancel a
timed-out batch.

Nothing here is imported by an untraced run's timed code, and no wrapper
stays installed after :meth:`Tracer.uninstall`.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Callable

SPAN_KEY = "perfbench.span"

PY_WORKER_TIME = "time to run Python workers"
PY_WORKER_BYTES = "data sent to Python workers"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one per run."""

    def __init__(self, run_id: str, set_property: Callable[[str, str | None], None] | None = None,
                 get_property: Callable[[str], str | None] | None = None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._set = set_property
        self._get = get_property
        self._patches: list[tuple[object, str, object]] = []

    @classmethod
    def for_spark(cls, spark, run_id: str) -> "Tracer":
        sc = spark.sparkContext
        return cls(run_id, sc.setLocalProperty, sc.getLocalProperty)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, attrs: dict | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, attrs)

    def install(self, owner, attr: str, name: str,
                attrs_fn: Callable[[tuple, dict, object], dict] | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``.
        ``attrs_fn(args, kwargs, result)`` adds facts about the call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                result = orig(*args, **kwargs)
                if attrs_fn is not None:
                    s.attrs.update(attrs_fn(args, kwargs, result))
                return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict | None):
        self.t = tracer
        self.span = Span(next(tracer._ids), name, 0.0, 0.0, None,
                         tracer.run_id, dict(attrs or {}))

    def __enter__(self) -> Span:
        st = self.t._stack()
        self.span.parent = st[-1] if st else None
        st.append(self.span.id)
        if self.t._set is not None:
            self._prev = self.t._get(SPAN_KEY)
            self.t._set(SPAN_KEY, str(self.span.id))
        self.span.start = time.time()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        if self.t._set is not None:
            self.t._set(SPAN_KEY, self._prev)
        self.t._stack().pop()
        self.t.spans.append(self.span)  # atomic: callbacks append from other threads


# ---------------------------------------------------------------- self time


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


# ---------------------------------------------------------- event-log reducer


@dataclass
class StageTotals:
    span: str | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    python_worker_ms: int = 0
    python_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)

    SUMMED = ("tasks", "run_ms", "cpu_ns", "gc_ms", "spill_bytes", "shuffle_write_bytes",
              "shuffle_write_records", "output_bytes", "output_records",
              "python_worker_ms", "python_bytes")

    def add(self, other: "StageTotals") -> None:
        for k in self.SUMMED:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    jobs: dict[int, dict]           # job id -> {"span", "submitted_ms", "stages"}
    stages: dict[int, StageTotals]  # stage id -> totals over its tasks
    peak_rss_bytes: int = 0


def read_eventlog(path: str) -> EventLog:
    """Reduce an uncompressed JSON-lines Spark event log to per-job span
    tags and per-stage task totals."""
    jobs: dict[int, dict] = {}
    stage_span: dict[int, str | None] = {}
    stages: dict[int, StageTotals] = {}
    peak = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_KEY)
                jobs[ev["Job ID"]] = {"span": span, "submitted_ms": ev.get("Submission Time", 0),
                                      "stages": list(ev.get("Stage IDs", []))}
                for sid in ev.get("Stage IDs", []):
                    stage_span.setdefault(sid, span)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, StageTotals(span=stage_span.get(sid)))
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                st.tasks += 1
                run = int(m.get("Executor Run Time", 0))
                st.run_ms += run
                st.task_ms.append(run)
                st.cpu_ns += int(m.get("Executor CPU Time", 0))
                st.gc_ms += int(m.get("JVM GC Time", 0))
                st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
                st.shuffle_write_records += int(sw.get("Shuffle Records Written", 0))
                out = m.get("Output Metrics") or {}
                st.output_bytes += int(out.get("Bytes Written", 0))
                st.output_records += int(out.get("Records Written", 0))
                for acc in info.get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == PY_WORKER_TIME:
                        st.python_worker_ms += int(upd)
                    elif name == PY_WORKER_BYTES:
                        st.python_bytes += int(upd)
                em = ev.get("Task Executor Metrics") or {}
                peak = max(peak, int(em.get("ProcessTreeJVMRSSMemory", 0)))
            elif kind == "SparkListenerStageExecutorMetrics":
                em = ev.get("Executor Metrics") or {}
                peak = max(peak, int(em.get("ProcessTreeJVMRSSMemory", 0)))
    return EventLog(jobs, stages, peak)


def totals_by_span(log: EventLog) -> dict[str | None, StageTotals]:
    """Stage totals summed per innermost span id (as the string the local
    property carried; ``None`` for jobs no wrapper tagged)."""
    out: dict[str | None, StageTotals] = {}
    for st in log.stages.values():
        out.setdefault(st.span, StageTotals(span=st.span)).add(st)
    return out


def task_skew(task_ms: list[int]) -> float:
    """Slowest task over the median task of one stage (1.0 = even)."""
    if not task_ms:
        return 0.0
    return max(task_ms) / max(statistics.median(task_ms), 1)
