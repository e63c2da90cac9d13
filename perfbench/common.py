"""Measurements shared by the workloads: JVM counters, statistics and
the record a workload hands back to the worker."""

from __future__ import annotations

import dataclasses
import math
import statistics


@dataclasses.dataclass
class Outcome:
    """What one workload run measured.

    ``op_s`` holds the untraced operation times (cycles or queries);
    ``rows`` the source rows those operations processed.
    """

    setup: dict[str, float]
    op_s: list[float]
    rows: int
    attempted: int
    failed: int
    wrong: int
    layers: dict[str, float]
    info: dict


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other machines between
    two :func:`cpu_ticks` readings, in percent."""
    delta = [b - a for a, b in zip(before, after)]
    return 100 * delta[7] / max(sum(delta), 1)


def gc_seconds(spark) -> float:
    """Summed collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class JobCounter:
    """Counts the Spark jobs one operation launches by tagging them
    with a job group and reading the status tracker afterwards."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._group: str | None = None

    def start(self, group: str) -> None:
        self._group = group
        self.sc.setJobGroup(group, group)

    def stop(self) -> int:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return len(self.sc.statusTracker().getJobIdsForGroup(self._group))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least ``beyond`` samples above it; None when the sample is too small."""
    n = len(values)
    if n <= beyond:
        return None
    pct = math.floor(100 * (n - beyond) / n)
    ordered = sorted(values)
    return pct, ordered[max(math.ceil(pct / 100 * n) - 1, 0)]


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0
