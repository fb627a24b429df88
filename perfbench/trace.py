"""Measurement helpers: spans and self time, the tail percentile, process
CPU and memory from ``/proc``, and the reducer of Spark's event log.

Everything here observes the library from outside: spans wrap the
benchmark's own calls into the library, and the event log is what Spark
writes when ``spark.eventLog.enabled`` is set.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import time
from dataclasses import dataclass, field


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the highest nearest-rank percentile at or above
    the median that has at least ``min_beyond`` samples beyond it. With
    fewer than ``2 * min_beyond`` samples there is none, and the maximum is
    reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no values")
    if n < 2 * min_beyond:
        return 100.0, xs[-1]
    rank = n - min_beyond
    return 100.0 * rank / n, xs[rank - 1]


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``open``/``close`` pair around each call the
    benchmark makes into a layer; timestamps are wall-clock epoch seconds so
    they line up with the event log's millisecond timestamps."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, kind: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, kind, time.time(), parent=parent, attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, sid: int) -> Span:
        if not self._stack or self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} closed out of order")
        self._stack.pop()
        span = self.spans[sid]
        span.end = time.time()
        return span

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] covered by the union of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(tracer: Tracer, sid: int) -> float:
    """A span's duration minus the part of it its child spans cover."""
    span = tracer.spans[sid]
    kids = [(c.start, c.end) for c in tracer.children(sid)]
    return span.duration - covered(kids, span.start, span.end)


# -- process CPU and memory ----------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name is parenthesised and may contain spaces.
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``, from the ppid field of /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                kids.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def proc_cpu_s(pid: int) -> float:
    """User+system CPU of a process plus its reaped children, in seconds
    (0.0 if it has exited)."""
    fields = _stat_fields(pid)
    if not fields:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 of stat (1-based); the
    # slice starts at field 3.
    return sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of this driver process, the JVM and every live process
    under the JVM (the Python worker daemon and its workers)."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    own = ru.ru_utime + ru.ru_stime
    return own + proc_cpu_s(jvm_pid) + sum(proc_cpu_s(p) for p in descendants(jvm_pid))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def driver_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# -- event log -----------------------------------------------------------------

GROUP_KEY = "spark.jobGroup.id"
MB = 1024.0 * 1024.0

# Sums kept per job group. Times in seconds, sizes in MB.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scheduler_delay_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "fetch_wait_s",
    "spill_mb",
    "result_mb",
    "python_run_s",
    "python_start_s",
    "python_sent_mb",
    "python_recv_mb",
)

# SQL metric accumulables of the Arrow/Python UDF operators, in ms or bytes.
_PY_ACCUMS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("python_sent_mb", 1 / MB),
    "data returned from Python workers": ("python_recv_mb", 1 / MB),
}


@dataclass
class GroupStats:
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    # (submission, completion) of each job, epoch seconds.
    job_intervals: list = field(default_factory=list)


def event_log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: plain files, or the parts of the
    ``eventlog_v2_<app>/events_<n>_<app>`` directories Spark 4 writes."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    files += glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(f for f in files if not f.endswith(".inprogress.tmp"))


def _task_counters(c: dict, tm: dict, info: dict) -> None:
    run_ms = tm.get("Executor Run Time", 0)
    c["tasks"] += 1
    c["failed_tasks"] += 1 if info.get("Failed") else 0
    c["executor_run_s"] += run_ms / 1e3
    c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    c["result_mb"] += tm.get("Result Size", 0) / MB
    c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
    sw = tm.get("Shuffle Write Metrics", {})
    c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    sr = tm.get("Shuffle Read Metrics", {})
    c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    # Spark UI's scheduler delay: the part of a task's wall time spent
    # neither deserialising, running, serialising nor fetching its result.
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    getting_ms = finish - getting if getting else 0
    overhead = tm.get("Executor Deserialize Time", 0) + tm.get("Result Serialization Time", 0)
    c["scheduler_delay_s"] += max(0, finish - launch - run_ms - overhead - getting_ms) / 1e3
    for acc in info.get("Accumulables", ()):
        target = _PY_ACCUMS.get(acc.get("Name"))
        if target and acc.get("Update") is not None:
            c[target[0]] += float(acc["Update"]) * target[1]


def reduce_event_log(lines) -> dict[str, GroupStats]:
    """Per job group sums of job, stage and task metrics.

    ``lines`` is an iterable of event-log JSON lines. Tasks are attributed
    through their stage to the job group set when the stage was submitted;
    jobs without a group fall under the empty string."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def stats(g: str) -> GroupStats:
        return groups.setdefault(g, GroupStats())

    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP_KEY) or ""
            jid = e["Job ID"]
            job_group[jid] = g
            job_start[jid] = e["Submission Time"] / 1e3
            stats(g).counters["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                stats(job_group[jid]).job_intervals.append(
                    (job_start[jid], e["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            g = (e.get("Properties") or {}).get(GROUP_KEY)
            if g is not None:
                stage_group[sid] = g
            stats(stage_group.get(sid, "")).counters["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"], "")
            _task_counters(stats(g).counters, e.get("Task Metrics") or {}, e["Task Info"])
    return groups


def read_event_logs(log_dir: str) -> dict[str, GroupStats]:
    def lines():
        for path in event_log_files(log_dir):
            with open(path) as f:
                yield from f

    return reduce_event_log(lines())
