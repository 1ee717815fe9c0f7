"""Per-operation timing, correctness bookkeeping and layer counters.

Every workload runs its operations through one :class:`Probe`. Untraced,
the probe only times each operation and records gate results. Traced, it
also opens a span per operation and diffs Spark's status store around it,
so the layer counters of a pass are sums over its operations.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from dataclasses import dataclass

from profiler import SparkCounters, SparkDiff, catalyst_phases
from spans import Tracer


def cpu_jiffies() -> tuple[int, int]:
    """Machine-wide (busy, steal) CPU jiffies from /proc/stat; (0, 0) where
    it is unreadable. Steal is time a virtual CPU was runnable but the
    hypervisor ran something else."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]) - v[3] - v[4] - steal, steal


class Clock:
    """Wall time of an interval, and the same time net of hypervisor steal:
    ``wall * busy / (busy + steal)``, the share of CPU time the machine
    wanted that it actually got. On a machine without steal both agree."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.j0 = cpu_jiffies()

    def read(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.j0, cpu_jiffies()))
        return wall, wall * busy / (busy + steal) if busy + steal > 0 else wall


@dataclass
class OpResult:
    kind: str  # "query", "backfill", "cycle", "read_batch", "read", "maintain"
    name: str
    wall_s: float
    net_s: float  # wall net of hypervisor steal
    outer: bool  # not nested inside another operation
    pass_i: int  # closed-loop pass it ran in


class Probe:
    def __init__(self, spark, tracer: Tracer | None = None):
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer is not None else None
        self.spark = SparkDiff()
        self.catalyst: dict[str, float] = defaultdict(float)
        self.build_jobs = 0
        self.results: list[OpResult] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._depth = 0
        #: closed-loop stop: after this perf_counter() time, once
        #: ``min_passes`` passes have completed, workloads stop starting new
        #: operations
        self.deadline: float | None = None
        self.min_passes = 1
        self.passes_done = 0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def _snapshot(self) -> int | None:
        if self.counters is None:
            return None
        t0 = time.perf_counter()
        since = self.counters.snapshot()
        self.tracer.overhead_s += time.perf_counter() - t0
        return since

    def _diff(self, since: int):
        t0 = time.perf_counter()
        d = self.counters.diff(since)
        self.tracer.overhead_s += time.perf_counter() - t0
        return d

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """Time one closed-loop operation. Spark counters are diffed around
        outermost operations only, so nested ones are not counted twice."""
        outer = self._depth == 0
        since = self._snapshot() if outer else None
        self._depth += 1
        clock = Clock()
        try:
            with self._span(f"op.{kind}.{name}"):
                yield
        finally:
            self._depth -= 1
        wall, net = clock.read()
        if since is not None:
            self.spark.add(self._diff(since))
        self.results.append(OpResult(kind, name, wall, net, outer, self.passes_done))

    @contextlib.contextmanager
    def build(self):
        """A query builder call: its span, and the jobs it ran eagerly."""
        since = self._snapshot()
        with self._span("queries.build"):
            yield
        if since is not None:
            self.build_jobs += self._diff(since).jobs

    def phases(self, df) -> None:
        if self.tracer is not None:
            t0 = time.perf_counter()
            for k, v in catalyst_phases(df).items():
                self.catalyst[k] += v
            self.tracer.overhead_s += time.perf_counter() - t0

    def done(self) -> bool:
        return (
            self.deadline is not None
            and self.passes_done >= self.min_passes
            and time.perf_counter() >= self.deadline
        )

    def check(self, problems: list[str]) -> None:
        """Record one gated output; any problem counts as a failure."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems)

    def walls(self, kind: str, net: bool = False) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for r in self.results:
            if r.kind == kind:
                out[r.name].append(r.net_s if net else r.wall_s)
        return dict(out)
