"""Pure helpers for the benchmark: spans and self time, the tail-percentile
rule, and attribution of Spark event-log jobs to spans.

Nothing here imports Spark, so the helpers are unit-tested on their own
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (comparable with event-log milliseconds)
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around the benchmark's own calls into each layer.

    Disabled tracers record nothing, so the untraced run pays one
    attribute check per call. Spans stay in memory until the run ends.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.run_id, dict(attrs))
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children are clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = []
    for i, sp in enumerate(spans):
        covered = union_length(clipped(children.get(i, []), sp.start, sp.end))
        out.append(max(0.0, sp.dur - covered))
    return out


def coverage(spans: list[Span], start: float, end: float) -> float:
    """Share of the wall ``[start, end]`` that the self times of the spans
    inside it account for. Self times of nested spans add up to their
    top-level span, so untraced work between top-level spans lowers the
    share."""
    wall = end - start
    inside = sum(t for sp, t in zip(spans, self_times(spans))
                 if sp.start >= start and sp.end <= end)
    return inside / wall if wall > 0 else 0.0


def tail(samples: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``min_beyond`` samples above it, by nearest rank on the sorted
    samples: rank ``n - min_beyond`` (1-based) is that order statistic.

    With ``n <= min_beyond`` no percentile qualifies; the maximum is
    returned with percentile 100 so the caller can flag it.
    """
    if not samples:
        raise ValueError("tail of no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        return xs[-1], 100.0
    k = n - min_beyond  # 1-based rank with exactly min_beyond samples above
    return xs[k - 1], math.floor(1000.0 * k / n) / 10.0


# ---------------------------------------------------------------- event log


@dataclass
class GroupStats:
    """Spark execution counts for the jobs of one job group."""

    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stage_task_secs: dict[int, list[float]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max / median task run time of the stage with the most tasks."""
        if not self.stage_task_secs:
            return 0.0
        widest = max(self.stage_task_secs.values(), key=len)
        med = statistics.median(widest)
        return max(widest) / med if med > 0 else 1.0


def read_event_logs(log_dir: str) -> list[dict]:
    """All listener events from every event-log file in ``log_dir``, in
    file-then-line order (one file per SparkContext)."""
    events = []
    if not os.path.isdir(log_dir):
        return events
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute_jobs(events: list[dict]) -> dict[str, GroupStats]:
    """Group Spark jobs, and the tasks of their stages, by the job group
    set around the call that ran them (``spark.jobGroup.id``). Streaming
    queries run every micro-batch job under their run id as job group,
    so a drain is attributed by its ``StreamingQuery.runId``.

    Jobs with no group are collected under ``""``. Event ordering within
    one log is causal, so a task is charged to the job that most recently
    started its stage.
    """
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerLogStart":
            # a new SparkContext restarts job and stage ids at 0
            job_group.clear()
            job_start.clear()
            stage_job.clear()
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            job_group[jid] = g
            job_start[jid] = ev.get("Submission Time", 0) / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            groups.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                gs = groups[job_group[jid]]
                gs.job_intervals.append(
                    (job_start[jid], ev.get("Completion Time", 0) / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            jid = stage_job.get(sid)
            if jid is None:
                continue
            gs = groups[job_group[jid]]
            gs.tasks += 1
            tm = ev.get("Task Metrics") or {}
            gs.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            gs.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            sr = tm.get("Shuffle Read Metrics") or {}
            gs.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            gs.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            gs.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            gs.stage_task_secs.setdefault(sid, []).append(
                tm.get("Executor Run Time", 0) / 1000.0
            )
    return groups


def uncovered(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Part of the span's wall not covered by any of ``intervals``: for an
    ``apply_batch`` span, the driver-side time outside Spark jobs."""
    return max(0.0, span.dur - union_length(clipped(intervals, span.start, span.end)))
