"""The ``query_sweep`` workload: single-pass operator shapes and iterative
loops from the query registry.

Each operation is one registered query, run the way ``bench.py`` runs it
(cold SQL and RDD caches), collected to pandas inside the timed region and
compared, outside it, with the query's DuckDB oracle.
"""

from __future__ import annotations

import os

import numpy as np

import datagen
from harness import Probe

#: (query, input scale). Single-pass operator shapes, 1-3 jobs each, where
#: time goes to scans, shuffles, codegen and per-query planning: relational,
#: verbatim ClickHouse SQL, hash-keyed corpus dedup/retrieval.
SINGLE_PASS = [
    ("tpch_q1_pricing_summary", 0.01),
    ("keep_last_dedup", 0.01),
    ("asof_join_purchase_click", 0.01),
    ("windowfunnel_verbatim_sql", 0.01),
    ("span_dedup_corpus", 0.01),
]
#: job-bound iterative shape, whose wall time follows the number of Spark
#: jobs per round. The smaller input keeps its recursive DuckDB oracle
#: cheap; its job count does not depend on input size.
ITERATIVE = [
    ("cc_large_star_small_star", 0.001),
]


#: value seed of the generated tables (the run's seed orders the queries)
DATA_SEED = 42


class QueryWorkload:
    def __init__(self, queries: list[tuple[str, float]], seed: int, work: str):
        self.dirs = {sf: os.path.join(work, f"sf{sf}") for sf in sorted({sf for _, sf in queries})}
        # the seed orders the closed loop; the list itself is fixed
        perm = np.random.default_rng(seed).permutation(len(queries))
        self.order = [queries[i] for i in perm]
        self._oracle: dict[str, object] = {}

    def prepare(self) -> dict[str, dict[str, int]]:
        """Write the input tables (before any timing). Their values are
        fixed: the LSSS round count follows the generated graph, so seeding
        the values would make job counts differ between runs."""
        return {f"sf{sf}": datagen.write_tables(d, sf, DATA_SEED) for sf, d in self.dirs.items()}

    def setup(self, spark) -> None:
        """Per-session set-up: the session's first job. A small one: after
        a file scan, the next ``stop()`` sometimes waits ~0.4 s longer."""
        spark.range(1000).selectExpr("sum(id)").collect()

    #: complete passes per run; each query reports its best pass, which is
    #: the warm one unless the machine was busier then (bench.py's best-of-N)
    min_passes = 2

    def oracle(self, name: str, data_dir: str):
        if name not in self._oracle:
            from binance_etl_clickhouse_spark.queries import QUERIES
            from binance_etl_clickhouse_spark.testing.parity import run_oracle

            self._oracle[name] = run_oracle(QUERIES[name].oracle, data_dir)
        return self._oracle[name]

    def run_pass(self, spark, probe: Probe) -> bool:
        """One pass over the seed-ordered list; False if the closed loop's
        deadline cut it short."""
        from binance_etl_clickhouse_spark.queries import QUERIES
        from binance_etl_clickhouse_spark.queries.registry import clear_rdd_blocks
        from binance_etl_clickhouse_spark.testing.parity import compare_frames

        for name, sf in self.order:
            if probe.done():
                return False
            spark.catalog.clearCache()
            clear_rdd_blocks(spark)
            with probe.op("query", name):
                with probe.build():
                    df = QUERIES[name].spark(spark, self.dirs[sf])
                pdf = df.toPandas()
            probe.phases(df)
            probe.check(compare_frames(pdf, self.oracle(name, self.dirs[sf]), name))
        return True
