"""Spans recorded from outside the program, around each call into a layer.

A span sets a Spark job group for the calls it wraps, so every job the
call runs can be attributed to it afterwards: job, stage and task counts
come from the status tracker, and task times, GC and shuffle bytes from
the event log (enabled only in the traced run). Spans are kept in memory
and summarised when the run ends. With tracing off, ``span`` is a no-op.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    t0: float
    t1: float = 0.0
    group: str = ""
    op: bool = False  # a primary operation of the workload
    meta: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


@dataclass
class JobStats:
    jobs: int = 0
    intervals: list = field(default_factory=list)  # (submitted, completed) ms
    task_ms: list = field(default_factory=list)
    stage_tasks: dict = field(default_factory=dict)  # stage id -> [task ms]
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    records_read: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0


class Tracer:
    """Spans around calls into the program's layers. In a traced run the
    workload's primary operations alternate between traced and untraced,
    so the same run also gives the tracing overhead."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_ms: dict[bool, list[float]] = {True: [], False: []}
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._next_traced = True
        self._quiet = False  # inside an untraced operation
        self.t_measure = self.t_end = float("inf")

    def begin_measurement(self) -> None:
        """Operations from here on are the measured ones."""
        self.t_measure = time.perf_counter()
        self.op_ms = {True: [], False: []}

    def end_measurement(self) -> None:
        """Operations from here on (checks in teardown) are not measured."""
        self.t_end = time.perf_counter()

    def _measuring(self, t: float) -> bool:
        return self.t_measure <= t < self.t_end

    @contextmanager
    def op(self, name: str, layer: str):
        """A primary operation (a request, an append, a batch)."""
        if not self.enabled:
            yield None
            return
        traced = self._next_traced
        if self._measuring(time.perf_counter()):
            self._next_traced = not traced
        self._quiet = not traced
        t = time.perf_counter()
        try:
            with self.span(name, layer, op=True) as s:
                yield s
        finally:
            self._quiet = False
            if self._measuring(t):
                self.op_ms[traced].append((time.perf_counter() - t) * 1e3)

    def measured_ops(self) -> list[Span]:
        return [s for s in self.spans if s.op and self._measuring(s.t0)]

    @contextmanager
    def span(self, name: str, layer: str, op: bool = False):
        if not self.enabled or self._quiet:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, layer, parent.id if parent else None, time.perf_counter(), op=op)
        s.group = f"pb-{s.id}"
        prev = [sc.getLocalProperty(p) for p in _GROUP_PROPS]
        sc.setJobGroup(s.group, f"{layer}:{name}", False)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            for p, v in zip(_GROUP_PROPS, prev):
                sc.setLocalProperty(p, v)
            self.spans.append(s)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span nested in it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def counts(self) -> dict[str, tuple[int, int, int]]:
        """group -> (jobs, stages run, tasks run) from the status tracker.
        Read at the end of the run, after the listener bus has caught up."""
        st = self.spark.sparkContext.statusTracker()
        out = {}
        for s in self.spans:
            jobs = st.getJobIdsForGroup(s.group)
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            out[s.group] = (len(jobs), stages, tasks)
        return out


def read_event_log(events_dir: str) -> dict[str, JobStats]:
    """Per job group: job intervals, task times, CPU, GC, records read and
    shuffle bytes from the event log. Call after the session stopped (the
    log is then complete). Streaming batches appear under their query's
    run id, which Spark uses as their job group."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, JobStats] = {}
    # one plain file, or (rolling logs) a directory of events_<n>_<app> parts
    paths = [p for p in glob.glob(events_dir + "/**", recursive=True) if os.path.isfile(p)]
    paths = [p for p in paths if not os.path.basename(p).startswith((".", "appstatus"))]
    for path in sorted(paths, key=_part_index):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not g:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    out.setdefault(g, JobStats()).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        out[job_group[jid]].intervals.append((job_start[jid], ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    g = stage_group.get(sid)
                    if g is None:
                        continue
                    js = out[g]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    js.task_ms.append(ms)
                    js.stage_tasks.setdefault(sid, []).append(ms)
                    js.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    js.gc_ms += m.get("JVM GC Time", 0)
                    js.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    js.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    js.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def _part_index(path: str) -> int:
    name = os.path.basename(path)
    return int(name.split("_")[1]) if name.startswith("events_") else 0


def union_ms(ivals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(ivals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def storage_mb(spark) -> float:
    """Memory plus disk held by pinned RDD blocks (cache, checkpoints)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
