"""Tests of the measurement helpers: the tail percentile, self time and the
event-log reducer.

``data/events_small.jsonl`` was recorded from a local[2] Spark 4.1 session
that ran an RDD count with no job group, an RDD count in group
``p0|count|exec`` and a pandas UDF over two partitions in group
``p0|udf|exec``; it keeps only the events and fields the reducer reads."""

from __future__ import annotations

import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "events_small.jsonl")


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(100, 0, -1)]
    # 100 samples: the 90th smallest has exactly ten above it.
    assert trace.tail_percentile(xs) == (90.0, 90.0)
    # 24 samples: rank 14 of 24.
    pct, value = trace.tail_percentile(xs[-24:])
    assert value == 14.0
    assert pct == pytest.approx(100 * 14 / 24)
    assert sum(x > value for x in xs[-24:]) == 10
    # 20 samples: the median rank is the lowest reported.
    assert trace.tail_percentile(xs[-20:]) == (50.0, 10.0)
    # Fewer than 20: no percentile at or above the median has ten beyond
    # it, so the maximum, as p100.
    assert trace.tail_percentile(xs[-19:]) == (100.0, 19.0)
    assert trace.tail_percentile([3.0]) == (100.0, 3.0)
    with pytest.raises(ValueError):
        trace.tail_percentile([])


def test_covered_merges_overlaps_and_clips():
    assert trace.covered([], 0, 10) == 0
    assert trace.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert trace.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert trace.covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_child_coverage():
    t = trace.Tracer()
    root = t.open("q", "job")
    a = t.open("q", "build")
    t.close(a)
    b = t.open("q", "exec")
    t.close(b)
    t.close(root)
    # Pin the timestamps: job [0, 10], build [1, 4], exec [3, 8].
    for sid, (s, e) in zip((root, a, b), ((0, 10), (1, 4), (3, 8))):
        t.spans[sid].start, t.spans[sid].end = s, e
    assert trace.self_time(t, root) == pytest.approx(10 - 7)
    assert trace.self_time(t, a) == pytest.approx(3)
    assert [c.kind for c in t.children(root)] == ["build", "exec"]


def test_tracer_rejects_out_of_order_close():
    t = trace.Tracer()
    outer = t.open("q", "job")
    t.open("q", "build")
    with pytest.raises(RuntimeError):
        t.close(outer)


def test_reduce_event_log_groups_jobs_tasks_and_python_metrics():
    with open(LOG) as f:
        groups = trace.reduce_event_log(f)
    assert set(groups) == {"", "p0|count|exec", "p0|udf|exec"}

    count = groups["p0|count|exec"].counters
    assert count["jobs"] == 1
    assert count["stages"] == 1
    assert count["tasks"] == 2
    assert count["python_run_s"] == 0

    udf = groups["p0|udf|exec"].counters
    assert udf["jobs"] == 1
    assert udf["tasks"] == 2
    # Two tasks each ran a pandas UDF: time and bytes both recorded.
    assert udf["python_run_s"] > 0
    assert udf["python_sent_mb"] > 0 and udf["python_recv_mb"] > 0
    assert udf["executor_run_s"] >= udf["python_run_s"] / 2

    for g in groups.values():
        assert len(g.job_intervals) == g.counters["jobs"]
        for start, end in g.job_intervals:
            assert start <= end
        assert g.counters["failed_tasks"] == 0
        assert g.counters["scheduler_delay_s"] >= 0


def test_event_log_files_finds_v2_directories(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    (tmp_path / "local-2").write_text("")
    names = [os.path.basename(p) for p in trace.event_log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "local-2"]
