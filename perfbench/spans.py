"""Spans and engine counters for the traced run.

A :class:`Tracer` records spans (name, start, end, parent, run id) in
memory around calls into the package's layers; nothing is read from
Spark while a span is open.  After the timed region,
:func:`stage_records` reads every stage once from the in-JVM status
store (the same ``statusStore().stageList`` read as
``tools/spill_probe.py``), and :func:`attribute` gives each span the
stages and jobs *submitted* while it was the innermost open span.
Submission time, not job group, is the key because the acquisition
gate and streaming sinks run their jobs in the stream thread, where a
job group set by the benchmark thread does not apply.
"""

from __future__ import annotations

import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while :meth:`recording`; otherwise :meth:`span`
    does nothing, so untraced passes pay no tracing cost."""

    def __init__(self):
        self.enabled = False
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def recording(self):
        self.enabled = True
        try:
            yield self
        finally:
            self.enabled = False

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children."""
        out = []
        for i, sp in enumerate(self.spans):
            kids = sorted(
                (c.start, c.end) for c in self.spans if c.parent == i
            )
            covered, hi = 0.0, sp.start
            for s, e in kids:
                s, e = max(s, hi), min(e, sp.end)
                if e > s:
                    covered += e - s
                    hi = e
            out.append(sp.duration - covered)
        return out

    def to_json(self) -> list[dict]:
        return [
            {
                "name": sp.name,
                "start": sp.start,
                "end": sp.end,
                "parent": sp.parent,
                "run_id": sp.run_id,
                "self_s": st,
                "counters": sp.counters,
            }
            for sp, st in zip(self.spans, self.self_times())
        ]


# ------------------------------------------------------------ status store
def stage_records(spark) -> list[dict]:
    """Every retained stage, with the counters the layers report."""
    sc = spark.sparkContext
    jvm = spark._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stages = store.stageList(empty, False, True, quantiles, empty)
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        sub = s.submissionTime()
        if not sub.isDefined():
            continue  # skipped stage: never ran
        dist = s.taskMetricsDistributions()
        p50 = pmax = 0.0
        if dist.isDefined():
            run = dist.get().executorRunTime()
            p50, pmax = run.apply(0), run.apply(1)
        out.append({
            "stage": s.stageId(),
            "submitted": sub.get().getTime() / 1000.0,
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled(),
            "task_p50_s": p50 / 1000.0,
            "task_max_s": pmax / 1000.0,
        })
    return out


def job_submissions(spark) -> list[float]:
    """Submission times (epoch s) of every retained job."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    out = []
    for i in range(jobs.size()):
        sub = jobs.apply(i).submissionTime()
        if sub.isDefined():
            out.append(sub.get().getTime() / 1000.0)
    return out


def _innermost(spans: list[Span], t: float) -> int | None:
    best = None
    for i, sp in enumerate(spans):
        if sp.start <= t <= sp.end and (
            best is None or sp.start >= spans[best].start
        ):
            best = i
    return best


def attribute(tracer: Tracer, stages: list[dict], jobs: list[float]) -> None:
    """Add Spark counters to every span: its own (innermost) stages and
    jobs, then rolled up into the enclosing spans."""
    own: dict[int, dict] = {i: _zero() for i in range(len(tracer.spans))}
    for st in stages:
        i = _innermost(tracer.spans, st["submitted"])
        if i is not None:
            _add(own[i], st)
    for t in jobs:
        i = _innermost(tracer.spans, t)
        if i is not None:
            own[i]["jobs"] += 1
    # roll children into parents, deepest first (children follow parents)
    total = {i: dict(c) for i, c in own.items()}
    for i in range(len(tracer.spans) - 1, -1, -1):
        p = tracer.spans[i].parent
        if p is not None:
            for k, v in total[i].items():
                total[p][k] = max(total[p][k], v) if k == "task_max_s" else total[p][k] + v
    for i, sp in enumerate(tracer.spans):
        sp.counters = total[i]


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            "task_max_s": 0.0}


def _add(acc: dict, st: dict) -> None:
    acc["stages"] += 1
    for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
        acc[k] += st[k]
    acc["task_max_s"] = max(acc["task_max_s"], st["task_max_s"])


def engine_counters(stages: list[dict], t0: float, t1: float,
                    cores: int) -> dict:
    """Whole-engine counters over the stages submitted in [t0, t1]."""
    sel = [s for s in stages if t0 <= s["submitted"] <= t1]
    run = sum(s["run_s"] for s in sel)
    cpu = sum(s["cpu_s"] for s in sel)
    skews = [s["task_max_s"] / s["task_p50_s"] for s in sel
             if s["tasks"] > 1 and s["task_p50_s"] > 0]
    return {
        "engine.executor_run_s": run,
        "engine.executor_cpu_s": cpu,
        "engine.cpu_util": cpu / max((t1 - t0) * cores, 1e-9),
        "engine.gc_s": sum(s["gc_s"] for s in sel),
        "engine.shuffle_bytes": sum(s["shuffle_bytes"] for s in sel),
        "engine.spill_bytes": sum(s["spill_bytes"] for s in sel),
        "engine.tasks": sum(s["tasks"] for s in sel),
        "engine.task_skew": statistics.median(skews) if skews else 1.0,
    }


def storage_bytes(spark) -> int:
    """Bytes held by persisted RDDs/DataFrames right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def loadavg() -> float:
    return os.getloadavg()[0]
