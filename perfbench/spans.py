"""Spans recorded from the benchmark's side of each layer boundary.

A span sets a Spark job group for its duration, so every job Spark runs
while it is open is attributed to the innermost open span. Job and stage
numbers are read afterwards from Spark's status store, which is kept even
with the UI disabled.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
MB = 1e6


@dataclass
class Span:
    name: str
    group: str  # the Spark job group its jobs ran under
    wall_s: float


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    intervals: tuple = ()

    def busy_s(self) -> float:
        """Length of the union of the jobs' intervals: concurrent jobs
        overlap, so their summed durations can exceed wall time."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.intervals):
            if b > end:
                total += b - max(a, end)
                end = b
        return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seq = itertools.count()
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        group = f"{name}#{next(self._seq)}"
        # Nested spans restore the enclosing span's group on exit.
        saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)
            self.spans.append(Span(name, group, wall))

    def _settle(self) -> None:
        # Job and stage end events reach the status store through the
        # listener bus; drain it before reading.
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, spans: list[Span]) -> list[int]:
        self._settle()
        tracker = self.sc.statusTracker()
        return sorted(j for s in spans for j in tracker.getJobIdsForGroup(s.group))

    def all_job_ids(self) -> set[int]:
        self._settle()
        jobs = self._jsc.statusStore().jobsList(None)
        return {int(jobs.apply(i).jobId()) for i in range(jobs.size())}

    def stats(self, spans: list[Span]) -> JobStats:
        """Totals over the jobs run inside ``spans``. A stage counts once,
        in the job that ran it: a later job that reuses its shuffle lists
        it again, as skipped or with a submission time before its own."""
        store = self._jsc.statusStore()
        out = JobStats()
        intervals = []
        seen: set[int] = set()
        for j in self.job_ids(spans):
            job = store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            t_sub = sub.get().getTime()
            intervals.append((t_sub / 1000.0, done.get().getTime() / 1000.0))
            out.jobs += 1
            for sid in _ints(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                st_sub = st.submissionTime()
                if st.status().toString() == "SKIPPED" or (
                    st_sub.isDefined() and st_sub.get().getTime() < t_sub
                ):
                    continue
                out.tasks += st.numTasks()
                out.executor_cpu_s += st.executorCpuTime() / 1e9
                out.shuffle_write_mb += st.shuffleWriteBytes() / MB
                out.spill_mb += st.diskBytesSpilled() / MB
                out.output_mb += st.outputBytes() / MB
        out.intervals = tuple(intervals)
        return out

    def cached_mb(self) -> float:
        """Spark storage (memory and disk) held by cached RDDs right now."""
        return sum(
            (i.memSize() + i.diskSize()) / MB for i in self._jsc.getRDDStorageInfo()
        )


def _ints(scala_seq) -> list[int]:
    text = scala_seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


@contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Replace each ``owner.attr`` by a wrapper that runs the original
    inside ``tracer.span(name)``; put the originals back on exit."""
    saved = []
    for owner, attr, name in targets:
        orig = vars(owner)[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _traced(orig, tracer, name))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _traced(fn, tracer: Tracer, name: str):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call
