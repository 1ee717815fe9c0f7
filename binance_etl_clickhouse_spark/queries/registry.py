"""Registry plumbing for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryEntry:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL twin; None => driver does rows-only check
    survey_ref: str  # SURVEY.md §2 operator ids this query pins


QUERIES: dict[str, QueryEntry] = {}


def with_cache_hygiene(fn: SparkQuery) -> SparkQuery:
    """Drop the SQL cache entries left by PREVIOUS query builds.

    The driver runs all 50 window queries sequentially in ONE plain
    session (default 1g driver memory): the iterative families
    (graph/PageRank/k-core staging) each persist several frames that stay
    registered after their results are collected, and once memory
    pressure starts evicting blocks, a later query's persist() can land
    on a stale CacheManager entry whose rebuild NPEs inside Spark
    (CachedRDDBuilder -> recacheByPlan -> "SparkPlan.session() is null",
    observed nondeterministically under the driver-mirror sweep — it took
    the whole JVM down, failing every query after it). Clearing at build
    time is safe under a sweep contract (the previous query's result was
    already materialized) and touches only SQL cache entries —
    localCheckpoint storage lives at the RDD layer and is unaffected.

    The wrapper does NOT free RDD-layer blocks: a previous frame may be
    built but not yet read, and its localCheckpoint blocks cannot be
    recomputed once freed. The iterative loops release their superseded
    rounds themselves (:func:`checkpoints.release`); a loop that owns the
    session and has fully read every frame (bench, the parity suite)
    calls :func:`clear_rdd_blocks` itself.

    The wipe is session-global, so it is applied ONLY at the driver/bench
    boundary (``queries_map(cache_hygiene=True)``, used by
    ``__spark_entry__.queries()``) — never inside ``register`` — a
    long-lived production session calling builders from this registry
    keeps its own cached frames."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 — cache hygiene is best-effort
            pass
        return fn(spark, sf_dir)

    return wrapped


def clear_rdd_blocks(spark: SparkSession) -> None:
    """Unpersist every RDD-layer block left by previous queries (the
    localCheckpoint leftovers ``clearCache()`` cannot see). Best-effort:
    only valid at a sweep boundary where every earlier result has been
    fully materialized."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd in jmap.values():
            rdd.unpersist(False)
    except Exception:  # noqa: BLE001 — cache hygiene is best-effort
        pass


def register(name: str, oracle: str | None, survey_ref: str):
    """Decorator: add a Spark query builder to the registry (unwrapped —
    see :func:`with_cache_hygiene` for the driver-sweep wrapper)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QueryEntry(
            name=name, spark=fn, oracle=oracle, survey_ref=survey_ref
        )
        return fn

    return deco


def queries_map(cache_hygiene: bool = False) -> dict[str, SparkQuery]:
    """Name -> builder map. ``cache_hygiene=True`` wraps every builder to
    clear the session SQL cache first — for single-session many-query
    sweeps (the correctness driver, bench) only."""
    if cache_hygiene:
        return {name: with_cache_hygiene(e.spark) for name, e in QUERIES.items()}
    return {name: e.spark for name, e in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: e.oracle for name, e in QUERIES.items() if e.oracle is not None}
