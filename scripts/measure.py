"""Per-query optimization measurement harness.

Times individual registered queries exactly like bench.py (cold SQL cache
and no leftover RDD blocks per run, noop sink, best-of-N) and captures
``.explain('formatted')`` to ``plans/<name>_<tag>.txt``. Not part of the
driver contract — a developer tool for optimization work.

Usage:
    python scripts/measure.py --tag before --runs 3 name1 name2 ...
    python scripts/measure.py --tag before --runs 2 --all-headline
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--all-headline", action="store_true")
    ap.add_argument("--no-plan", action="store_true")
    args = ap.parse_args()

    from binance_etl_clickhouse_spark.queries import QUERIES
    from binance_etl_clickhouse_spark.queries.registry import clear_rdd_blocks
    from binance_etl_clickhouse_spark.session import get_spark

    names = list(args.names)
    if args.all_headline:
        import bench

        names = [n for n in bench.HEADLINE if n not in names] + names

    spark = get_spark(app_name="measure", shuffle_partitions=8)
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()

    plans_dir = Path(_REPO_ROOT) / "plans"
    plans_dir.mkdir(parents=True, exist_ok=True)
    out: dict[str, float] = {}
    for name in names:
        entry = QUERIES[name]
        spark.sparkContext.setJobDescription(f"measure:{name}")
        best = float("inf")
        for i in range(args.runs):
            spark.catalog.clearCache()
            clear_rdd_blocks(spark)
            t0 = time.perf_counter()
            df = entry.spark(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = min(best, dt)
            if i == 0 and not args.no_plan:
                try:
                    plan = df._jdf.queryExecution().explainString(
                        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    )
                except Exception:
                    import contextlib, io

                    buf = io.StringIO()
                    with contextlib.redirect_stdout(buf):
                        df.explain("formatted")
                    plan = buf.getvalue()
                (plans_dir / f"{name}_{args.tag}.txt").write_text(plan)
        out[name] = round(best, 4)
        print(f"{best:8.3f}  {name}", flush=True)
    print(json.dumps({"tag": args.tag, "sf_dir": SF_DIR, "timings": out}))


if __name__ == "__main__":
    main()
