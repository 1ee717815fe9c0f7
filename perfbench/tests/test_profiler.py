"""The status-store diff sees the jobs and shuffles an action runs."""

from __future__ import annotations

from profiler import SparkCounters, catalyst_phases


def test_plain_aggregate_reports_a_job(spark):
    counters = SparkCounters(spark)
    since = counters.snapshot()
    spark.range(10_000).selectExpr("sum(id) AS s").collect()
    diff = counters.diff(since)
    assert diff.jobs >= 1
    assert diff.stages >= 1 and diff.tasks >= 1
    assert diff.executor_run_s >= 0.0


def test_repartition_reports_shuffle_bytes(spark):
    counters = SparkCounters(spark)
    since = counters.snapshot()
    spark.range(10_000).repartition(4).selectExpr("count(*)").collect()
    diff = counters.diff(since)
    assert diff.shuffle_write_bytes > 0
    assert diff.shuffle_read_bytes > 0


def test_diff_excludes_earlier_jobs(spark):
    counters = SparkCounters(spark)
    spark.range(100).collect()
    since = counters.snapshot()
    assert counters.diff(since).jobs == 0


def test_catalyst_phases_after_collect(spark):
    df = spark.range(1000).groupBy("id").count()
    df.toPandas()
    phases = catalyst_phases(df)
    assert set(phases) == {"analysis_s", "optimization_s", "planning_s"}
    assert all(v >= 0.0 for v in phases.values())
