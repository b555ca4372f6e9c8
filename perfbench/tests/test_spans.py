"""Unit tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import (  # noqa: E402
    Span, Tracer, attribute_jobs, coverage, self_times, tail, uncovered, union_length,
)


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "r1")


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (7, 7)]) == 4
    assert union_length([]) == 0


def test_self_time_with_nested_spans():
    spans = [
        _span("commit", 0.0, 10.0),           # 0
        _span("read", 1.0, 3.0, parent=0),    # 1
        _span("apply", 2.5, 9.0, parent=0),   # 2 overlaps read
        _span("job", 4.0, 6.0, parent=2),     # 3 grandchild
        _span("lookup", 10.0, 11.0),          # 4 top level, no children
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 8.0)  # children cover [1, 9)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(6.5 - 2.0)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_self_times_sum_to_top_level_walls_when_siblings_are_sequential():
    spans = [
        _span("commit", 0.0, 10.0),
        _span("read", 1.0, 3.0, parent=0),
        _span("apply", 3.0, 9.0, parent=0),
        _span("job", 4.0, 6.0, parent=2),
        _span("lookup", 10.0, 11.0),
    ]
    assert sum(self_times(spans)) == pytest.approx(10.0 + 1.0)


def test_coverage_counts_untraced_gaps_and_ignores_spans_outside_the_window():
    spans = [
        _span("setup", -5.0, -1.0),            # before the window
        _span("commit", 0.0, 4.0),
        _span("apply", 1.0, 3.0, parent=1),
        _span("lookup", 5.0, 9.0),              # 4..5 is an untraced gap
    ]
    assert coverage(spans, 0.0, 10.0) == pytest.approx(0.8)
    assert coverage(spans, 0.0, 9.0) == pytest.approx(8.0 / 9.0)
    assert coverage([], 0.0, 0.0) == 0.0


def test_self_time_clips_children_to_parent():
    spans = [_span("p", 0.0, 2.0), _span("c", 1.0, 5.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_records_parents_and_disabled_records_nothing():
    t = Tracer("r", enabled=True)
    with t.span("outer"):
        with t.span("inner") as sp:
            sp.attrs["x"] = 1
    assert [s.name for s in t.spans] == ["outer", "inner"]
    assert t.spans[1].parent == 0 and t.spans[0].parent is None
    assert t.spans[0].start <= t.spans[1].start <= t.spans[1].end <= t.spans[0].end
    off = Tracer("r", enabled=False)
    with off.span("outer") as sp:
        assert sp is None
    assert off.spans == []


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct = tail(xs)
    assert value == 90 and pct == 90.0
    assert sum(x > value for x in xs) == 10
    value, pct = tail(list(range(1, 26)))  # n = 25 -> rank 15
    assert value == 15 and pct == 60.0
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)  # too few: max, flagged
    with pytest.raises(ValueError):
        tail([])


def _job_start(jid, group, stages, t_ms):
    props = {"spark.jobGroup.id": group} if group is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _task_end(sid, run_ms, cpu_ns=0, gc_ms=0, sr=0, sw=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}


def test_event_log_attribution_by_job_group_including_streaming_jobs():
    run_id = "7f0c1d2e-0000-4000-8000-000000000001"  # a StreamingQuery.runId
    events = [
        {"Event": "SparkListenerLogStart"},
        _job_start(0, "perfbench-1", [0, 1], 1_000),
        _task_end(0, 100, cpu_ns=50_000_000, sw=10),
        _task_end(1, 300, gc_ms=20, sr=10),
        _task_end(1, 100),
        _task_end(1, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2_000},
        _job_start(1, None, [2], 2_500),  # a job outside any span
        _task_end(2, 5),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2_600},
        _job_start(2, run_id, [3], 3_000),  # micro-batch of a drain
        _task_end(3, 40, spill=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3_500},
        # a second SparkContext restarts ids: job 0 / stage 0 again
        {"Event": "SparkListenerLogStart"},
        _job_start(0, run_id, [0], 9_000),
        _task_end(0, 10),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 9_100},
    ]
    g = attribute_jobs(events)
    a = g["perfbench-1"]
    assert (a.jobs, a.tasks) == (1, 4)
    assert a.executor_cpu_s == pytest.approx(0.05)
    assert a.gc_s == pytest.approx(0.02)
    assert (a.shuffle_read_bytes, a.shuffle_write_bytes) == (10, 10)
    assert a.task_skew() == pytest.approx(3.0)  # widest stage: 300 / 100
    assert a.job_intervals == [(1.0, 2.0)]
    assert g[""].jobs == 1 and g[""].tasks == 1
    s = g[run_id]
    assert (s.jobs, s.tasks, s.spill_bytes) == (2, 2, 7)

    # driver-side time of the span = its wall outside its jobs
    sp = Span("driver.apply_batch", 0.5, 2.5, None, "r1")
    assert uncovered(sp, a.job_intervals) == pytest.approx(1.0)
