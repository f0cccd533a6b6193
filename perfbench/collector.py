"""Outside-in layer collector: spans around calls into the program, with
the Spark jobs and stages each call ran.

A call's jobs are the ids the DAG scheduler handed out between the
call's start and end (``DAGScheduler.numTotalJobs``, the next job id,
read before and after), so attribution is exact for calls made one at a
time from the driver.
Job and stage records come from the driver's status store, which is
kept with ``spark.ui.enabled=false`` too; the listener bus is drained
before reading it. Nothing in the program is wrapped or patched.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0
_CALLSITE = re.compile(r"at (?:.*/)?([^/\s:]+\.py):\d+")


@dataclass
class Span:
    """One layer call: a name, its interval, its parent span and pass."""

    name: str
    pass_id: int
    start: float
    end: float = 0.0
    parent: str = "pass"
    jobs: list[dict] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def callsite_file(job_name: str) -> str:
    """The Python file a job was issued from, as Spark recorded it in
    the job's call site (``collect at /x/reports.py:23`` → ``reports.py``);
    ``unattributed`` for jobs without a Python call site, such as the
    broadcast jobs adaptive execution starts."""
    m = _CALLSITE.search(job_name or "")
    return m.group(1) if m else "unattributed"


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of closed intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Collector:
    """Records spans; with ``trace=False`` it only times calls."""

    def __init__(self, spark, trace: bool):
        self.trace = trace
        self.spans: list[Span] = []
        self.collect_s = 0.0  # time spent reading the status store
        self._sc = spark.sparkContext._jsc.sc()
        self.cores = spark.sparkContext.defaultParallelism

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def call(self, name: str, pass_id: int, fn):
        """Run ``fn()`` as layer call ``name`` of pass ``pass_id``;
        return its result."""
        j0 = self.next_job_id() if self.trace else 0
        span = Span(name, pass_id, time.time())
        try:
            return fn()
        finally:
            span.end = time.time()
            if self.trace:
                span.jobs = self.jobs(j0, self.next_job_id())
                self.collect_s += time.time() - span.end
            self.spans.append(span)

    def jobs(self, first: int, stop: int) -> list[dict]:
        """Job records for ids ``first`` .. ``stop - 1`` with their
        executed stages' metrics summed."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = []
        for jid in range(first, stop):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            rec = {
                "job_id": jid,
                "file": callsite_file(job.name()),
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            }
            ids = job.stageIds()
            for i in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["executor_run_s"] += st.executorRunTime() / 1000.0
                rec["shuffle_read_mb"] += (
                    st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()) / MB
                rec["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                rec["spill_mb"] += st.diskBytesSpilled() / MB
            out.append(rec)
        return out

    def layer_metrics(self, span: Span) -> dict[str, float]:
        """The per-call counters every layer reports."""
        jobs = span.jobs
        ex = sum(j["executor_run_s"] for j in jobs)
        intervals = [
            (max(j["start"], span.start), min(j["end"], span.end))
            for j in jobs if j["start"] is not None and j["end"] is not None
        ]
        wall = span.wall_s
        return {
            "wall_s": wall,
            "jobs": float(len(jobs)),
            "stages": float(sum(j["stages"] for j in jobs)),
            "tasks": float(sum(j["tasks"] for j in jobs)),
            "shuffle_read_mb": sum(j["shuffle_read_mb"] for j in jobs),
            "shuffle_write_mb": sum(j["shuffle_write_mb"] for j in jobs),
            "spill_mb": sum(j["spill_mb"] for j in jobs),
            "executor_run_s": ex,
            "driver_only_s": max(0.0, wall - union_s([i for i in intervals if i[1] > i[0]])),
            "core_util": ex / (wall * self.cores) if wall > 0 else 0.0,
        }


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; (0, 0) when it does not exist."""
    n = size = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size
