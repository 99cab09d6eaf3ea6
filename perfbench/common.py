"""Types and helpers shared by the workloads."""

from __future__ import annotations

import itertools
import os
import statistics
from collections.abc import Callable
from dataclasses import dataclass, field

_OBS = itertools.count()


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str
    tiny: bool
    log: Callable[[str], None]


@dataclass
class Outcome:
    setup_s: float  # input generation and warm-up; run.py adds session start
    op_s: list[float]  # wall time of each timed operation
    items: float  # items one operation handles (files scanned, queries run)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    # Per-layer name prefixes of layers this workload never calls; the
    # traced run reports them as 0.
    unreached: tuple[str, ...] = ()


class Checks:
    """Counts checked operations; an operation fails if any of its
    checks does."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


def run_for(seconds: float, op: Callable[[], float]) -> list[float]:
    """Run ``op`` (which returns its own timed seconds) until the timed
    seconds add up to ``seconds``; at least once."""
    times: list[float] = []
    while not times or sum(times) < seconds:
        times.append(op())
    return times


def median_layers(samples: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]}


def counted(df, *aggs):
    """``df`` with an observation of ``count(*)`` (and ``aggs``) attached;
    read it with ``obs.get`` after an action."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation(f"perfbench_{next(_OBS)}")
    return df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs), obs


def noop_write(df) -> None:
    """Execute every column of ``df`` without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


def disk_mb(path: str) -> float:
    """Bytes of the files under ``path``, each hard-linked file once."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            st = os.lstat(os.path.join(d, name))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total / 1e6


def pipeline_layers(tracer, spans, wall: float) -> dict[str, float]:
    """The ``pipeline.*`` metrics of one timed operation (a cycle or a
    pass) that ran inside ``spans`` and took ``wall`` seconds."""
    st = tracer.stats(spans)
    return {
        "pipeline.jobs": st.jobs,
        "pipeline.tasks": st.tasks,
        "pipeline.shuffle_mb": st.shuffle_write_mb,
        "pipeline.spill_mb": st.spill_mb,
        "pipeline.executor_cpu_s": st.executor_cpu_s,
        "pipeline.driver_idle_s": wall - st.busy_s(),
        "pipeline.cached_mb_after": tracer.cached_mb(),
    }
