"""Span recording and Spark counters for the benchmark's traced runs.

A :class:`Tracer` records one span per call the benchmark makes into a
layer of the engine: name, start, end, parent span and op id. Spans live in
memory and are written out once, when the run ends. Each span tags its Spark
jobs with ``setJobGroup``; the jobs a span owns are the job ids Spark
assigned between the span's start and end (the benchmark is a single
client, so nothing else submits jobs meanwhile). That range also catches
the jobs that structured streaming's ``foreachBatch`` runs on the stream's
own thread, which do not carry the span's job group.

Per-stage executor counters come from the status store
(``statusStore().lastStageAttempt``), which Spark keeps with the UI
disabled. An untraced run uses :data:`OFF`, whose spans cost one attribute
lookup and record nothing.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_records",
    "shuffle_write_bytes",
    "spill_bytes",
)


def next_job_id(sc) -> int:
    """The id Spark will give the next job (ids are dense and ascending)."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def pinned_rdds(sc) -> int:
    """RDDs currently persisted or checkpointed in the session."""
    return int(sc._jsc.sc().getPersistentRDDs().size())


def job_counters(sc, first_job: int, end_job: int) -> dict:
    """Jobs, stages and summed stage counters for job ids in
    ``[first_job, end_job)``."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": end_job - first_job, "stages": 0}
    out.update({f: 0 for f in STAGE_FIELDS})
    stage_ids = set()
    for jid in range(first_job, end_job):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage evicted from the store or never submitted
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["input_records"] += st.inputRecords()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "attrs")

    def __init__(self, sid, name, parent, op):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start = self.end = 0.0
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around the benchmark's calls into the engine."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.current_op = None  # op id for spans opened outside any span

    @contextmanager
    def span(self, name: str, op=None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = parent.op if parent else self.current_op
        s = Span(len(self.spans), name, parent.sid if parent else None, op)
        s.attrs.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench-{s.sid}", name)
        first = next_job_id(self.sc)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.attrs.update(job_counters(self.sc, first, next_job_id(self.sc)))
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def named(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """Duration minus the time the span's direct children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.duration - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": s.sid,
                "name": s.name,
                "parent": s.parent,
                "op": s.op,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(self.self_time(s), 6),
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


class _Off:
    """Tracing disabled: spans record nothing and tag no jobs."""

    enabled = False
    current_op = None

    @contextmanager
    def span(self, name: str, op=None, **attrs):
        yield None


OFF = _Off()


def process_tree(root: int) -> list:
    """``root`` and every live descendant of it."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(children.get(pid, ()))
    return seen


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` and its live descendants."""
    ticks = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``root`` and its live
    descendants (the JVM and the Python workers), in MiB."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
