"""Graph-family 10x scaling rehearsal.

The graph operators claim bounded per-round shuffles (PageRank/CC/k-core)
and output-bounded triangle work (degree-ordered orientation). This script
MEASURES that: it times the family on the sf0.1 co-purchase graph and on a
synthesized 10x graph (the lineitem fact replicated with per-replica
orderkey offsets — 10 disconnected copies, so |V| and |E| scale 10x while
per-vertex degrees stay fixed: the \"more data, same density\" growth shape
of a real catalog), then prints the per-operator scale factor. Numbers
land in SCALE.md.

Writes scratch data under /tmp; touches nothing in the repo or testdata.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from binance_etl_clickhouse_spark.operators import graph  # noqa: E402
from binance_etl_clickhouse_spark.session import get_spark  # noqa: E402
from binance_etl_clickhouse_spark.tables import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
SCRATCH = "/tmp/graph_rehearsal_10x"
REPLICAS = 10


def synth_10x(spark) -> DataFrame:
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    key_span = 10_000_000
    reps = spark.range(REPLICAS).select(F.col("id").alias("rep"))
    big = li.crossJoin(F.broadcast(reps)).select(
        (F.col("l_orderkey") + F.col("rep") * key_span).alias("l_orderkey"),
        (F.col("l_partkey") + F.col("rep") * key_span).alias("l_partkey"),
    )
    big.write.mode("overwrite").parquet(SCRATCH)
    return spark.read.parquet(SCRATCH)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark()
    li_1x = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    li_10x = synth_10x(spark)

    ops = {
        "triangle_count": lambda li: graph.triangle_count(graph.copurchase_edges(li)),
        "pagerank": lambda li: graph.pagerank(graph.copurchase_edges(li)),
        "connected_components": lambda li: graph.connected_components(
            graph.copurchase_edges(li)
        ),
        "kcore_60": lambda li: graph.kcore_vertices(
            graph.copurchase_edges(li), k=60
        ),
        "link_prediction": lambda li: graph.link_prediction_scores(
            graph.copurchase_edges(li)
        ),
    }
    for name, fn in ops.items():
        times = {}
        for label, li in (("1x", li_1x), ("10x", li_10x)):
            t0 = time.time()
            _noop(fn(li))
            times[label] = time.time() - t0
            spark.catalog.clearCache()
        print(
            f"{name}: 1x={times['1x']:.2f}s 10x={times['10x']:.2f}s "
            f"scale={times['10x'] / times['1x']:.2f}x",
            flush=True,
        )

    # the exact components loop: the O(log^2 n)-rounds claim is measured at
    # TWO scales (r6 verdict item 8) — wall AND the data-dependent round
    # count, which must stay flat when |V|,|E| grow 10x at fixed density
    # (the 10x graph is 10 disconnected copies: same component structure).
    times, rounds = {}, {}
    for label, li in (("1x", li_1x), ("10x", li_10x)):
        rc: list = []
        t0 = time.time()
        _noop(graph.connected_components_lsss(graph.copurchase_edges(li), round_counter=rc))
        times[label] = time.time() - t0
        rounds[label] = rc[0] if rc else -1
        spark.catalog.clearCache()
    print(
        f"connected_components_lsss: 1x={times['1x']:.2f}s ({rounds['1x']} rounds) "
        f"10x={times['10x']:.2f}s ({rounds['10x']} rounds) "
        f"scale={times['10x'] / times['1x']:.2f}x",
        flush=True,
    )


if __name__ == "__main__":
    main()
