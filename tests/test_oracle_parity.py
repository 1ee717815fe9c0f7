"""Every registered query must hash-match its DuckDB oracle (driver mirror).

Runs at sf0.001 for speed; ``RUN_SF001=1 pytest`` upshifts to sf0.01 (the
driver's correctness scale).
"""

from __future__ import annotations

import os

import pytest

from binance_etl_clickhouse_spark.queries import QUERIES, with_cache_hygiene
from binance_etl_clickhouse_spark.queries.registry import clear_rdd_blocks
from binance_etl_clickhouse_spark.testing import compare_frames, run_oracle

SF_DIR = (
    "/root/testdata/sf0.01" if os.environ.get("RUN_SF001") else "/root/testdata/sf0.001"
)

ORACLE_QUERIES = sorted(n for n, e in QUERIES.items() if e.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, e in QUERIES.items() if e.oracle is None)


# The sweep mirrors the driver: __spark_entry__.queries() serves WRAPPED
# builders (clear the SQL cache before each build), because hundreds of
# queries share this one session and stale CacheManager entries have NPE'd
# Spark under memory pressure. Production callers get the raw builders.
# The sweep owns its loop, so it frees leftover RDD-layer blocks itself,
# once each frame has been fully read.
@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name):
    entry = QUERIES[name]
    spark_pdf = with_cache_hygiene(entry.spark)(spark, SF_DIR).toPandas()
    clear_rdd_blocks(spark)
    oracle_pdf = run_oracle(entry.oracle, SF_DIR)
    problems = compare_frames(spark_pdf, oracle_pdf, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, name):
    df = with_cache_hygiene(QUERIES[name].spark)(spark, SF_DIR)
    assert df.count() >= 0
    clear_rdd_blocks(spark)
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"month", "event_type", "n_latest", "total_value"} == set(df.columns)


def test_queries_oracle_keys_consistent():
    import __spark_entry__ as mod

    q, o = mod.queries(), mod.oracle_sql()
    assert set(o) <= set(q)
    assert q, "registry must not be empty"


def test_driver_window_is_the_verification_budget():
    """The driver checks the first 50 registered queries; pin that the
    window is exactly DRIVER_WINDOW and every entry except the deliberate
    iterative-algorithm carve-outs carries a full value-hash oracle."""
    from binance_etl_clickhouse_spark.queries import (
        DRIVER_WINDOW,
        PLANNED_NEW,
        oracle_sql_map,
        queries_map,
    )

    order = list(queries_map())
    assert len(DRIVER_WINDOW) == 50
    present = [n for n in DRIVER_WINDOW if n in set(order)]
    assert order[: len(present)] == present
    # Only names from the planned-new block may be unregistered mid-round.
    assert set(DRIVER_WINDOW) - set(order) <= PLANNED_NEW
    rows_only_in_window = [n for n in present if n not in oracle_sql_map()]
    # The BPE/unigram trainers are rows-only by the iterative-algorithm
    # carve-out (their per-step statistics ARE oracle-checked via
    # bpe_pair_stats / bpe_merge_trace / bpe_train_merges_traced /
    # bpe_token_counts_traced / unigram_seed_piece_stats);
    # approx_aggregates is the sketch carve-out (no cross-engine exact
    # twin), driver rows-only-proven in r8. The round-11 window rotates
    # the whole r6-stale cohort, which includes two of the documented
    # carve-outs (their rotation proof is exactly as due as every other
    # stale proof) — the allowed set below is the full documented
    # carve-out list, so any NEW rows-only registration still fails here.
    assert set(rows_only_in_window) <= {
        "unigram_lm_train",
        "bpe_train_merges",
        "unigram_lm_token_counts",
        "approx_aggregates",
    }


def test_raw_builders_leave_external_caches_alone(spark):
    """Cache hygiene is scoped to the driver/bench sweep boundary (r6
    verdict item 6): a production session calling registry builders
    directly must NOT lose its own cached frames — a caller caching a
    nondeterministic frame to pin its contents would otherwise get it
    silently recomputed with different values."""
    leftover = spark.range(64).cache()
    try:
        leftover.count()
        assert leftover.storageLevel.useMemory
        QUERIES["project_literals"].spark(spark, SF_DIR).collect()
        assert leftover.storageLevel.useMemory
    finally:
        leftover.unpersist()


def test_hygiene_wrapper_keeps_unread_frames_readable(spark):
    """Building query B through the driver-facing wrapper must not free
    the checkpoint blocks of query A's frame, built but not yet read —
    localCheckpoint blocks cannot be recomputed once freed."""
    first = with_cache_hygiene(QUERIES["cc_large_star_small_star"].spark)(spark, SF_DIR)
    with_cache_hygiene(QUERIES["graph_connected_components"].spark)(spark, SF_DIR)
    got = sorted(map(tuple, first.collect()))
    fresh = QUERIES["cc_large_star_small_star"].spark(spark, SF_DIR).collect()
    assert got == sorted(map(tuple, fresh))
    clear_rdd_blocks(spark)


def test_driver_facing_builders_drop_stale_cache_entries(spark):
    """Driver robustness: the window runs 50 queries sequentially in one
    plain session, and stale cache entries from earlier queries have
    NPE'd Spark's CacheManager rebuild under memory pressure (observed:
    CachedRDDBuilder -> recacheByPlan -> 'SparkPlan.session() is null',
    taking the JVM down). The map served to the driver via
    __spark_entry__.queries() must therefore clear the SQL cache before
    each build."""
    import __spark_entry__ as mod

    leftover = spark.range(64).cache()
    leftover.count()
    assert leftover.storageLevel.useMemory
    mod.queries()["project_literals"](spark, SF_DIR)
    assert not leftover.storageLevel.useMemory
