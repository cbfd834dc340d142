"""Spans around public calls, and Spark's event log folded into them.

A span is (id, name, parent, request, start, end), kept in memory. With
tracing on, the innermost open span's id is set as the Spark local property
``combobench.span`` (a local property, so it tags every job the call
starts), and Spark's JSON event log is written to a scratch directory. After
``spark.stop()`` :func:`read_event_log` turns the log into per-job counts,
and :meth:`Tracer.jobs` hands each span the jobs it or its children started.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "combobench.span"

_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    span: int | None
    submit: float
    complete: float
    stages: list[int]
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    py_sent: int = 0
    py_received: int = 0


@dataclass
class Tracer:
    spark_context: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    job_list: list[Job] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, request, time.time())
        self.spans.append(sp)
        self._stack.append(sp.id)
        self._tag(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, span_id: int | None) -> None:
        if self.enabled:
            self.spark_context.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def jobs(self, sp: Span) -> list[Job]:
        """Jobs started by ``sp`` or any span below it."""
        inside = {sp.id}
        for s in self.spans[sp.id + 1:]:
            if s.parent in inside:
                inside.add(s.id)
        return [j for j in self.job_list if j.span in inside]

    def children_s(self, sp: Span) -> float:
        return sum(s.s for s in self.spans if s.parent == sp.id)


def idle_s(sp: Span, jobs: list[Job]) -> float:
    """Wall time inside ``sp`` while no Spark job was running."""
    busy, cur_start, cur_end = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j.submit):
        a, b = max(j.submit, sp.start), min(j.complete, sp.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                busy += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        busy += cur_end - cur_start
    return sp.s - busy


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it (the Spark JVM, its Python daemon and workers),
    children already reaped included. Unlike wall time it leaves out the
    time the hypervisor stole from the host's CPUs."""
    parent, used = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])  # utime..cstime
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, pp in parent.items():
            if pp in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(used[p] for p in tree if p in used) / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of JVM ``pid``.
    Exact only if none has exited: run the JVM with
    ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # HotSpot names them "C1 CompilerThread0", cut to 15 characters
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = stat[stat.rindex(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor stole between two
    :func:`cpu_ticks` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[Job]:
    """Per-job timings and task counters from the (closed) event log."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith(".inprogress"):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            jobs[e["Job ID"]] = Job(
                span=int(span) if span else None,
                submit=e["Submission Time"] / 1000.0, complete=0.0,
                stages=list(e["Stage IDs"]),
            )
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].complete = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            job = jobs[stage_job[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            job.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
            job.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            job.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PY_SENT:
                    job.py_sent += int(acc.get("Update", 0))
                elif acc.get("Name") == _PY_RECEIVED:
                    job.py_received += int(acc.get("Update", 0))
    return list(jobs.values())
