"""Spans around the benchmark's calls into the engine's layers, with the
Spark jobs that ran inside each span.

A span records its name, parent, start and end (wall clock, seconds).
Spans live in memory; ``attach_jobs`` reads Spark's status store once,
after the measured window, and gives every job to the innermost span that
was open when the job was submitted. Attribution is by submission time,
not by job group, because some layers submit jobs from other threads:
a Structured Streaming query runs its micro-batches on the stream thread,
outside the caller's job group. The driver and the executors share one
clock in local mode, so submission times and span bounds compare directly.

A disabled tracer (the untraced run) records nothing and costs one
attribute test per span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: Span | None
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)  # Job records, filled by attach_jobs

    @property
    def wall(self) -> float:
        return self.end - self.start

    def job_cover(self) -> float:
        """Seconds of this span during which at least one of its jobs ran."""
        ivs = sorted(
            (max(j.start, self.start), min(j.end, self.end)) for j in self.jobs
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return covered

    def totals(self) -> dict:
        """Work of this span's own jobs (children's jobs are not included)."""
        out = {
            "jobs": len(self.jobs),
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for j in self.jobs:
            for s in j.stages:
                out["stages"] += 1
                out["tasks"] += s["tasks"]
                out["executor_run_s"] += s["run_s"]
                out["executor_cpu_s"] += s["cpu_s"]
                out["shuffle_read_bytes"] += s["shuffle_read"]
                out["shuffle_write_bytes"] += s["shuffle_write"]
                out["spill_bytes"] += s["spill"]
        return out


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: list


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, self._open[-1] if self._open else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def attach_jobs(self, spark) -> None:
        """Read every finished job and its completed stages from the status
        store and attach each job to the innermost span open at its
        submission. Jobs submitted outside every span are dropped."""
        if not self.spans:
            return
        # Innermost open span = the latest-starting span that contains the
        # submission instant. Status times have millisecond resolution.
        ordered = sorted(self.spans, key=lambda s: s.start)
        for j in read_jobs(spark, since=ordered[0].start - 1.0):
            owner = None
            for s in ordered:
                if s.start > j.start + 0.0005:
                    break
                if j.start <= s.end + 0.0005:
                    owner = s
            if owner is not None:
                owner.jobs.append(j)


def read_jobs(spark, since: float) -> list[Job]:
    """Finished jobs submitted at or after ``since`` (epoch seconds), each
    with its completed stage attempts' task metrics."""
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: dict[int, list] = {}
    seq = store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)
    for i in range(seq.size()):
        sd = seq.apply(i)
        if sd.status().toString() != "COMPLETE":
            continue
        stages.setdefault(sd.stageId(), []).append(
            {
                "tasks": sd.numCompleteTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_read": sd.shuffleReadBytes(),
                "shuffle_write": sd.shuffleWriteBytes(),
                "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            }
        )
    out = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        jd = seq.apply(i)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        start = sub.get().getTime() / 1e3
        if start < since:
            continue
        ids = jd.stageIds()
        job_stages = [st for k in range(ids.size()) for st in stages.get(ids.apply(k), [])]
        out.append(Job(jd.jobId(), start, done.get().getTime() / 1e3, job_stages))
    return out


def jvm_gc_seconds(spark) -> float:
    """Total garbage-collection time of the JVM so far. In local mode the
    executors run in the driver's JVM, so this covers task-side GC too."""
    factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = factory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3
