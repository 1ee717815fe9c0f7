"""Spark-side layer counters, read from outside the program.

Two sources, both available with ``spark.ui.enabled=false``:

* the application status store (``sc._jsc.sc().statusStore()``): every job
  the driver started, its stages and their task metrics. A
  :class:`SparkCounters` snapshot records the highest job id seen; the diff
  against a later snapshot sums the metrics of every stage that ran in the
  jobs started in between;
* a DataFrame's ``queryExecution().tracker().phases()``: wall time of the
  Catalyst analysis, optimization and planning phases. Actions that run on
  the frame's own query execution (``collect``/``toPandas``) record the
  optimization and planning phases there.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import DataFrame, SparkSession

#: stage statuses whose task metrics count (skipped stages reuse shuffle
#: output and ran nothing)
_RAN = ("COMPLETE", "FAILED", "ACTIVE")


@dataclass
class SparkDiff:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0

    def add(self, other: "SparkDiff") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def as_dict(self) -> dict[str, float]:
        return {f.name: getattr(self, f.name) for f in fields(self)}


class SparkCounters:
    """Status-store reader bound to one SparkContext."""

    def __init__(self, spark: SparkSession):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def _drain(self) -> None:
        # job/stage end events reach the store through the listener bus;
        # wait until every event posted so far has been applied
        self._bus.waitUntilEmpty()

    def snapshot(self) -> int:
        """Highest job id started so far (-1 before the first job)."""
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() > 0 else -1

    def diff(self, since: int) -> SparkDiff:
        """Sum over every job started after snapshot ``since``."""
        self._drain()
        jobs = self._store.jobsList(None)
        out = SparkDiff()
        stage_ids: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if int(job.jobId()) <= since:
                break
            out.jobs += 1
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            if str(st.status()) not in _RAN:
                continue
            out.stages += 1
            out.tasks += int(st.numCompleteTasks()) + int(st.numFailedTasks())
            out.shuffle_write_bytes += int(st.shuffleWriteBytes())
            out.shuffle_read_bytes += int(st.shuffleReadBytes())
            out.spill_bytes += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
            out.executor_run_s += int(st.executorRunTime()) / 1e3
            out.executor_cpu_s += int(st.executorCpuTime()) / 1e9
        return out


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Seconds spent in each Catalyst phase of ``df``'s query execution.

    Analysis runs when the frame is built; optimization and planning appear
    once an action on the frame itself has planned it. Missing phases
    read 0."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {"analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        key = f"{kv._1()}_s"
        if key in out:
            out[key] = int(kv._2().durationMs()) / 1e3
    return out
