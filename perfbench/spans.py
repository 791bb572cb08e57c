"""Spans around calls into the program, with Spark jobs attributed by tag.

A span records (name, start, end, parent, request) in memory. While it
is open, every Spark job the calling thread submits carries the span's
job tag (``SparkContext.addJobTag``). When a request's root span
closes, the tracer drains the listener bus and reads, for each span,
its jobs (``statusTracker().getJobIdsForTag``) and their stages'
task metrics (``statusStore().lastStageAttempt``). That work happens
after the root span's end time is taken, and its duration is kept as
the tracer's own time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    request: int
    parent: int | None
    start: float
    end: float = 0.0
    paused: float = 0.0  # tracer work done while the span was open
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start - self.paused


@dataclass
class JobStats:
    wall_s: float
    stages: int
    tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ms: float
    shuffle_read: int
    shuffle_write: int
    spill: int


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self.jobs: dict[int, JobStats] = {}
        self._open: list[Span] = []
        self._request = -1
        self.self_s = 0.0  # time spent reading metrics

    @contextmanager
    def span(self, name: str, **attrs):
        root = not self._open
        if root:
            self._request += 1
        sp = Span(len(self.spans), name, self._request,
                  self._open[-1].id if self._open else None, 0.0, attrs=attrs)
        self.spans.append(sp)
        tag = f"perfbench-span-{sp.id}"
        self._open.append(sp)
        self.sc.addJobTag(tag)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.removeJobTag(tag)
            self._open.pop()
            if root:
                self._collect(sp.request)

    @contextmanager
    def paused(self):
        """Run tracer-side work (extra jobs, file snapshots) untagged and
        off the clock of every open span."""
        tags = [f"perfbench-span-{sp.id}" for sp in self._open]
        for tag in tags:
            self.sc.removeJobTag(tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            for sp in self._open:
                sp.paused += dt
            self.self_s += dt
            for tag in tags:
                self.sc.addJobTag(tag)

    def _collect(self, request: int) -> None:
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._jsc.statusTracker(), self._jsc.statusStore()
        for sp in self.spans:
            if sp.request != request:
                continue
            sp.jobs = sorted(tracker.getJobIdsForTag(f"perfbench-span-{sp.id}"))
            for jid in sp.jobs:
                if jid not in self.jobs:
                    self.jobs[jid] = self._job_stats(store, jid)
        self.self_s += time.perf_counter() - t0

    @staticmethod
    def _job_stats(store, jid: int) -> JobStats:
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        wall = (done.get().getTime() - sub.get().getTime()) / 1e3 if (
            sub.isDefined() and done.isDefined()) else 0.0
        ids = job.stageIds()
        st = JobStats(wall, 0, 0, 0, 0, 0.0, 0, 0, 0)
        for i in range(ids.size()):
            try:
                s = store.lastStageAttempt(ids.apply(i))
            except Py4JJavaError:  # a stage the job skipped has no attempt
                continue
            if s.numCompleteTasks() + s.numFailedTasks() == 0:
                continue  # skipped: its shuffle output was reused
            st.stages += 1
            st.tasks += s.numCompleteTasks()
            st.failed_tasks += s.numFailedTasks()
            st.run_ms += s.executorRunTime()
            st.cpu_ms += s.executorCpuTime() / 1e6
            st.shuffle_read += s.shuffleReadBytes()
            st.shuffle_write += s.shuffleWriteBytes()
            st.spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return st

    # -- aggregation -----------------------------------------------------
    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def seconds(self, prefix: str) -> float:
        return sum(s.seconds for s in self.named(prefix))

    def request_seconds(self) -> float:
        return sum(s.seconds for s in self.spans if s.parent is None)

    def job_ids(self, prefix: str | None = None) -> set[int]:
        spans = self.spans if prefix is None else self.named(prefix)
        return {j for s in spans for j in s.jobs}

    def job_seconds(self, ids) -> float:
        return sum(self.jobs[j].wall_s for j in ids)

    def exec_totals(self) -> dict[str, float]:
        ids = self.job_ids()
        js = [self.jobs[j] for j in ids]
        run = sum(j.run_ms for j in js)
        cpu = sum(j.cpu_ms for j in js)
        return {
            "exec.s": self.job_seconds(ids),
            "exec.jobs": len(ids),
            "exec.stages": sum(j.stages for j in js),
            "exec.tasks": sum(j.tasks for j in js),
            "exec.executor_run_ms": run,
            "exec.executor_cpu_ms": round(cpu, 3),
            "exec.cpu_per_run": round(cpu / run, 6) if run else 0.0,
            "exec.shuffle_read_bytes": sum(j.shuffle_read for j in js),
            "exec.shuffle_write_bytes": sum(j.shuffle_write for j in js),
            "exec.spill_bytes": sum(j.spill for j in js),
            "exec.failed_tasks": sum(j.failed_tasks for j in js),
        }

    def dump(self, path: str) -> None:
        """Write every span, one JSON object a line."""
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "request": s.request,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "paused": s.paused,
                    "jobs": s.jobs, **s.attrs,
                }) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan, then read Catalyst's phase timings (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
