"""Span recorder and Spark event-log reader for the traced run.

Spans are recorded from the benchmark's own process: :meth:`Tracer.wrap`
replaces a public function or method of an engine module with a wrapper
that opens a span around each call, so the engine itself runs
unmodified. Each span also runs under its own Spark job group, which is
how Spark jobs in the event log are attributed back to spans. Spans are
kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run: str
    unit: int | None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans are only recorded while
    ``active`` is set, so the traced run can alternate traced and
    untraced units and report the tracing overhead from the pair."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.active = False
        self.unit: int | None = None
        self.sc = None  # SparkContext, once the session is up
        self.counts: dict[int | None, dict[str, float]] = {}
        self._stack: list[Span] = []

    def count(self, key: str, n: float) -> None:
        """Add *n* to a counter of the current unit (traced units only)."""
        if self.active:
            unit = self.counts.setdefault(self.unit, {})
            unit[key] = unit.get(key, 0) + n

    @contextmanager
    def span(self, name: str, **attrs: Any):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0,
                 parent.id if parent else None, self.run_id, self.unit, dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def paused(self):
        """Untimed work inside a traced unit: no spans, and its Spark jobs
        run under a group no span claims."""
        was = self.active
        if was and self.sc is not None:
            self.sc.setJobGroup(f"{self.run_id}:paused", "untimed")
        self.active = False
        try:
            yield
        finally:
            self.active = was
            if was:
                self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.group_id(s), s.name)

    def group_id(self, s: Span) -> str:
        return f"{self.run_id}:{s.id}"

    def wrap(self, owner: Any, attr: str, name: str,
             hook: Callable[..., Callable[[Span, Any], None] | None] | None = None,
             ) -> None:
        """Install a span wrapper on ``owner.attr`` (a module function or
        a class method) or on ``owner[attr]`` when *owner* is a dict.
        ``hook(*args, **kwargs)``, if given, runs before the call and may
        return ``done(span, result)``, which runs after it to attach
        counts to the span."""
        is_map = isinstance(owner, dict)
        orig = owner[attr] if is_map else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            done = hook(*args, **kwargs) if hook is not None else None
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
            if done is not None:
                done(s, out)
            return out

        if is_map:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# -- self time ----------------------------------------------------------
def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.seconds - _union_length([(c.start, c.end) for c in children.get(s.id, [])])
        for s in spans
    }


# -- Spark event log ------------------------------------------------------
@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    finish: float
    gc_s: float
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    group: str | None
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    tasks_by_stage: dict[int, list[Task]]

    def jobs_for(self, groups: set[str], start: float, end: float) -> list[Job]:
        """Jobs launched under one of *groups*, plus ungrouped jobs (from
        threads that do not inherit the group, e.g. a copier pool)
        submitted inside ``[start, end]``."""
        return [
            j for j in self.jobs
            if j.group in groups
            or (j.group is None and start <= j.submit <= end)
        ]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        stages = {st for j in jobs for st in j.stages}
        return [t for st in stages for t in self.tasks_by_stage.get(st, [])]


def read_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log (JSON lines)."""
    jobs: list[Job] = []
    tasks: dict[int, list[Task]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0,
                    props.get("spark.jobGroup.id"), list(ev.get("Stage IDs", [])),
                ))
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append(Task(
                    ev["Stage ID"],
                    info["Launch Time"] / 1000.0,
                    info["Finish Time"] / 1000.0,
                    m.get("JVM GC Time", 0) / 1000.0,
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                ))
    return EventLog(jobs, tasks)


def busy_seconds(tasks: list[Task], start: float, end: float) -> float:
    """Wall time inside ``[start, end]`` during which at least one task ran."""
    clipped = [(max(t.launch, start), min(t.finish, end)) for t in tasks]
    return _union_length([(s, e) for s, e in clipped if e > s])
