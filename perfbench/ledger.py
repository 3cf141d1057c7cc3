"""Spans, interval arithmetic and Spark event-log attribution.

The benchmark records spans from outside the program: it wraps public
entry points (StageRunner.run_stage, the Table write methods,
MetricsSink.flush, connected_components) and tags every Spark job that
starts inside a span with the span's id, through the job-local property
``perfbench.span``. Spark's event log then carries the tag on each job,
so task metrics can be summed per span after the run.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


# --- interval arithmetic ---------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(interval, children) -> float:
    """A span's duration minus the part of it its children cover."""
    start, end = interval
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    kind: str  # unit | stage | table | metrics | cc | query
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def interval(self) -> tuple[float, float]:
        return (self.start, self.end)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; tags Spark jobs with the open span."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # the tracer's own bookkeeping, job tags included

    def _tag(self, span_id: int | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, kind, parent, t0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp.id)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1].id if self._stack else None)
            self.overhead_s += time.perf_counter() - sp.end

    def wrap(self, owner, attr: str, kind: str, namer) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        named ``namer(*args, **kwargs)``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(namer(*args, **kwargs), kind):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> set[int]:
        out: set[int] = set()
        frontier = [span.id]
        while frontier:
            pid = frontier.pop()
            kids = [s.id for s in self.spans if s.parent == pid]
            out.update(kids)
            frontier.extend(kids)
        return out

    def outermost(self, root: Span, kinds: set[str]) -> list[Span]:
        """Spans of ``kinds`` under ``root`` with no ancestor of those
        kinds below ``root``."""
        out: list[Span] = []
        frontier = self.children(root)
        while frontier:
            sp = frontier.pop(0)
            if sp.kind in kinds:
                out.append(sp)
            else:
                frontier.extend(self.children(sp))
        return out


def unit_ledger(tracer: Tracer, unit: Span) -> dict:
    """Split a unit's wall into stage spans (a near-dup query is its
    workload's stage), out-of-stage table spans and the unattributed rest.

    The parts sum to the wall by construction: the unattributed rest is
    the wall minus the union of the other parts, and spans opened from one
    single-threaded stack never overlap, so their sum is their union."""
    stages = tracer.outermost(unit, {"stage", "query"})
    tables = [
        t
        for t in tracer.outermost(unit, {"stage", "query", "table"})
        if t.kind == "table"
    ]
    parts = [s.interval for s in stages + tables]
    covered = union_length(parts)
    wall = unit.seconds
    stage_s = sum(s.seconds for s in stages)
    table_s = sum(t.seconds for t in tables)
    unattributed = wall - covered
    return {
        "wall_s": wall,
        "stage_s": stage_s,
        "out_of_stage_table_s": table_s,
        "unattributed_s": unattributed,
        "stage_cover": stage_s / wall if wall else 0.0,
        "span_cover": covered / wall if wall else 0.0,
        "self_s": {
            s.name: self_time(s.interval, [c.interval for c in tracer.children(s)])
            for s in [unit] + stages + tables
        },
    }


# --- event log -------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"


def read_events(log_dir: str):
    """Events of every application log under ``log_dir``, read with the
    repository's event-log reader (tools/evlog_summary.py), which handles
    plain, rolling and compressed logs."""
    from tools.evlog_summary import iter_events

    for name in sorted(os.listdir(log_dir)):
        yield from iter_events(os.path.join(log_dir, name))


def empty_task_totals() -> dict:
    return {
        "tasks": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "arrow_bytes": 0,
        "py_tasks": 0,
    }


def task_metrics_by_span(events) -> dict[str, dict]:
    """Sum task metrics per ``perfbench.span`` tag.

    A job carries the tag of the span open when it started; each of its
    stages inherits the tag (the first job to list a stage owns it, which
    matters when AQE reuses a stage across jobs); each finished task adds
    to its stage's span. Jobs started outside any span go to ``""``."""
    stage_span: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(empty_task_totals)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY) or ""
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, tag)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update") for a in ev["Task Info"].get("Accumulables", [])}
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            t = totals[stage_span.get(ev.get("Stage ID"), "")]
            t["tasks"] += 1
            t["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
            t["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            t["shuffle_bytes"] += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            t["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            t["arrow_bytes"] += int(acc.get(PY_SENT) or 0) + int(acc.get(PY_RETURNED) or 0)
            if PY_RUN in acc or PY_SENT in acc:
                t["py_tasks"] += 1
    return dict(totals)


def subtree_totals(tracer: Tracer, span: Span, by_span: dict[str, dict]) -> dict:
    """Task totals of a span plus all spans nested in it."""
    out = empty_task_totals()
    for sid in {span.id} | tracer.descendants(span):
        for k, v in by_span.get(str(sid), {}).items():
            out[k] += v
    return out
