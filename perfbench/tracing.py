"""Span recorder, Spark event-log reader and /proc memory sampler.

A traced run records one span per layer call made from the benchmark's
own files. Each span runs under its own Spark job group, so the
uncompressed event log attributes every job, stage and task back to the
span that caused it. Spans stay in memory; the event log is read once,
after the session stops and Spark has closed the file.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# task accumulable names of PythonSQLMetrics (Spark 4.x)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
# "boot" ("time to start Python workers") is left out: reused workers
# report no start time, and no kernel can sleep inside it to pin its unit
PY_TIMES = {
    "init": "time to initialize Python workers",
    "total": "time to run Python workers",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    workload: str
    iteration: int | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    """Records spans; with a SparkContext, each span sets its own job group
    and restores the enclosing span's group when it ends. A disabled
    tracer records nothing and touches no Spark state."""

    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, parent.id if parent else None,
            self.workload, iteration, time.time(),
        )
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.id)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.group, sp.name)

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.id]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(self.spans[c].start, self.spans[c].end) for c in sp.children]
        return sp.wall - _union(kids, sp.start, sp.end)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


@dataclass
class GroupStats:
    jobs: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    acc: dict[str, float] = field(default_factory=dict)


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Job-group id -> jobs (start, end in epoch s) and summed task
    metrics. SQL metrics are summed from per-task ``Update`` values:
    stage-level accumulable ``Value``s are running totals shared by all
    jobs of one query."""
    groups: dict[str, GroupStats] = {}
    job_start: dict[int, tuple[str, float]] = {}
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_start[ev["Job ID"]] = (g, ev["Submission Time"] / 1e3)
            elif kind == "SparkListenerJobEnd":
                g, t0 = job_start.pop(ev["Job ID"])
                groups.setdefault(g, GroupStats()).jobs.append(
                    (t0, ev["Completion Time"] / 1e3)
                )
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = (
                    props.get("spark.jobGroup.id") or ""
                )
            elif kind == "SparkListenerTaskEnd":
                st = groups.setdefault(
                    stage_group.get(ev["Stage ID"], ""), GroupStats()
                )
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    try:
                        upd = float(a.get("Update"))
                    except (TypeError, ValueError):
                        continue
                    st.acc[a["Name"]] = st.acc.get(a["Name"], 0.0) + upd
    return groups


def _span_jobs(tracer: Tracer, sp: Span, groups: dict[str, GroupStats]):
    mine = [groups[s.group] for s in tracer.subtree(sp) if s.group in groups]
    return mine, [j for g in mine for j in g.jobs]


def jobs_outside_s(tracer: Tracer, sp: Span, groups: dict[str, GroupStats]) -> float:
    """Job time of ``sp``'s job groups that the event log places outside
    the span's own start and end: near 0 when the group attribution and
    the two clocks (Python's, the JVM's) agree."""
    _, jobs = _span_jobs(tracer, sp, groups)
    return _union(jobs, float("-inf"), float("inf")) - _union(jobs, sp.start, sp.end)


def span_spark_stats(
    tracer: Tracer, sp: Span, groups: dict[str, GroupStats], py_units: dict[str, float]
) -> dict[str, float]:
    """Spark work caused by ``sp`` and its child spans, per metric name."""
    mine, jobs = _span_jobs(tracer, sp, groups)
    job_s = _union(jobs, sp.start, sp.end)

    def acc(name: str) -> float:
        return sum(g.acc.get(name, 0.0) for g in mine)

    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(sum(g.tasks for g in mine)),
        "spark.job_s": job_s,
        "spark.driver_only_s": sp.wall - job_s,
        "spark.executor_run_s": sum(g.run_ms for g in mine) / 1e3,
        "spark.executor_cpu_s": sum(g.cpu_ns for g in mine) / 1e9,
        "spark.gc_s": sum(g.gc_ms for g in mine) / 1e3,
        "spark.shuffle_write_mb": sum(g.shuffle_write for g in mine) / mb,
        "spark.shuffle_read_mb": sum(g.shuffle_read for g in mine) / mb,
        "spark.python_sent_mb": acc(PY_SENT) / mb,
        "spark.python_recv_mb": acc(PY_RECV) / mb,
        **{
            f"spark.python_{k}_s": acc(name) * py_units[k]
            for k, name in PY_TIMES.items()
        },
    }


def pin_python_time_unit(raw: float, slept_s: float) -> float:
    """Seconds per raw unit of the Python-worker time metrics, from a
    kernel that sleeps a known ``slept_s``: the power-of-1000 unit that
    puts the raw reading closest to the sleep (the reading also holds
    the worker's own overhead, so it is never exact)."""
    import math

    if raw <= 0:
        raise RuntimeError("Python-worker time metric missing from the event log")
    units = (1e-9, 1e-6, 1e-3, 1.0)
    return min(units, key=lambda u: abs(math.log(raw * u / slept_s)))


def _tree_pids() -> list[int]:
    """This process and all its descendants (Python driver, the JVM it
    launched and the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process tree,
    reaped children included, so a worker that exits keeps counting.
    The kernel charges no time stolen by the hypervisor to a process."""
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17
        total += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
    return total * _TICK_S


class RssSampler:
    """Peak summed resident memory of this process and all descendants
    (Python driver, the JVM it launched and the JVM's Python workers),
    sampled from /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in _tree_pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_mb = max(self.peak_mb, total / (1024.0 * 1024.0))
