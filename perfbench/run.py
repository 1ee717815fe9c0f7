"""Repository benchmark: ETL lifecycle, analytics sweep, iterative loops.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_lifecycle --seed 1 --seconds 15 --trace 0

One client, one process, ``local[SPARK_GRAFT_CPUS or nproc]``, closed loop:
each operation starts when the previous one has finished. The workload's
operation list repeats until ``--seconds`` have passed and the workload's
minimum number of passes is done. Every operation's output is checked,
untimed, against an oracle; a mismatch is a failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instead runs one
pass with every layer instrumented and prints the per-layer metrics.
Human-readable lines come first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. perfbench/DESIGN.md
explains the workloads and metrics.
Inputs, Spark scratch space and traces stay inside the checkout
(``.perfbench_work/`` and ``perfbench_out/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from harness import Clock, Probe  # noqa: E402
from spans import Tracer, instrument  # noqa: E402

WORKLOADS = ("etl_lifecycle", "query_sweep")
#: set-ups per run; setup_s is their median
SETUP_REPS = 5
DRIVER_MEMORY = "1g"


def _run_sentinel(sample_s: float) -> float:
    from bench import _run_sentinel as sentinel

    return sentinel(sample_s)


def _machine_stamp() -> dict:
    """Where a result came from; busy cores come from bench.py's sentinel."""
    import pyspark

    head = ROOT / ".git" / "HEAD"
    commit = "unknown"
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            commit = ref_file.read_text().strip() if ref_file.is_file() else ref
        else:
            commit = ref
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "busy_cores_before": _run_sentinel(0.25),
        "commit": commit,
        "pyspark": pyspark.__version__,
    }


def start_session(work: Path):
    from binance_etl_clickhouse_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        shuffle_partitions=8,
        extra_confs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed-size heap: RSS then follows what the program touches,
            # not when the collector decides to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak RSS of the Spark JVM (VmHWM) plus this driver process."""
    from pyspark import SparkContext

    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def make_workload(name: str, seed: int, work: Path):
    if name == "etl_lifecycle":
        from etl import EtlLifecycle

        return EtlLifecycle(seed, str(work))
    from queries import ITERATIVE, SINGLE_PASS, QueryWorkload

    return QueryWorkload(SINGLE_PASS + ITERATIVE, seed, str(work))


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def run_passes(wl, spark, probe, seconds: float) -> list[int]:
    """Closed loop until ``seconds`` have passed and the workload's minimum
    number of passes is complete.
    Query passes stop between operations; an ETL pass always completes.
    Returns the indices of the complete passes."""
    done = []
    probe.min_passes = wl.min_passes
    probe.deadline = time.perf_counter() + seconds
    while not probe.done():
        if wl.run_pass(spark, probe):
            done.append(probe.passes_done)
        probe.passes_done += 1
    return done


def etl_phases(wl, probe) -> dict[str, tuple[float, str]]:
    """The lifecycle's own metrics: ingest rate, freshness, read latency,
    compaction and space amplification."""
    walls = {k: [r.wall_s for r in probe.results if r.kind == k] for k in
             ("backfill", "cycle", "read_batch", "maintain")}
    live = wl.plan.live_rows(wl.plan.sizes.cycles)
    return {
        "backfill_rows_per_s": (
            statistics.median(wl.backfill_rows) / statistics.median(walls["backfill"]),
            "rows/s",
        ),
        "cycle_p50_s": (statistics.median(walls["cycle"]), "s"),
        "cycle_samples": (len(walls["cycle"]), "count"),
        "serve_read_p50_s": (statistics.median(walls["read_batch"]), "s"),
        "serve_read_samples": (len(walls["read_batch"]), "count"),
        "compact_s": (statistics.median(walls["maintain"]), "s"),
        "stored_bytes_per_row": (wl.stored_bytes / live, "B/row"),
    }


def end_to_end(name: str, probe, passes, setup_walls, net: bool) -> dict:
    """The end-to-end metrics of BENCHMARK.json; times net of hypervisor
    steal when ``net`` (then ``setup_walls`` must be net too), raw wall
    otherwise."""
    t = (lambda r: r.net_s) if net else (lambda r: r.wall_s)
    if name == "query_sweep":
        best = [min(w) for w in probe.walls("query", net).values()]
        # one pass at each query's best time, and their geometric mean
        wall, geo = sum(best), _geomean(best)
    else:
        # the lifecycle's own operations (backfill, cycles, read batches,
        # maintain), not the correctness gate between them; and the
        # geometric mean of every serving read
        wall = statistics.median(
            sum(t(r) for r in probe.results if r.outer and r.pass_i == p) for p in passes
        )
        geo = _geomean([t(r) for r in probe.results if r.kind == "read"])
    return {
        "setup_s": (statistics.median(setup_walls), "s"),
        "wall_s": (wall, "s"),
        "query_geomean_s": (geo, "s"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
    }


def per_layer(name: str, wl, probe, wall: float, start_s: float) -> dict[str, float]:
    """Layer counters of one traced pass."""
    from binance_etl_clickhouse_spark.session import default_parallelism

    tr = probe.tracer
    selft = tr.self_times()
    d = probe.spark.as_dict()
    m = {f"spark.{k}": float(v) for k, v in d.items()}
    # task time over the slots' time during the operations, not the gate
    ops_wall = sum(r.wall_s for r in probe.results if r.outer)
    m["spark.slot_busy_frac"] = d["executor_run_s"] / (ops_wall * default_parallelism())
    for k in ("analysis_s", "optimization_s", "planning_s"):
        m[f"spark.{k}"] = probe.catalyst.get(k, 0.0)
    m["queries.build_s"] = selft.get("queries.build", 0.0)
    m["queries.build_jobs"] = float(probe.build_jobs)
    for key, span in (
        ("dialect.translate_s", "dialect.translate"),
        ("engine.sql_s", "engine.sql"),
        ("operators.etl.clean_s", "operators.etl.clean"),
        ("storage.table.append_s", "storage.table.append"),
        ("storage.rollup.refresh_s", "storage.rollup.refresh"),
        ("storage.table.read_s", "storage.table.read"),
        ("storage.table.compact_s", "storage.table.compact"),
    ):
        m[key] = selft.get(span, 0.0)
    for key in COUNTERS:
        m[key] = float(tr.counters.get(key, 0.0))
    phases = etl_phases(wl, probe) if name == "etl_lifecycle" else {}
    for key in ("backfill_rows_per_s", "cycle_p50_s", "serve_read_p50_s", "compact_s"):
        m[f"pipeline.{key}"] = phases[key][0] if phases else 0.0
    m["storage.table.stored_bytes_per_row"] = phases["stored_bytes_per_row"][0] if phases else 0.0
    m["session.start_s"] = start_s
    # time spent reading counters and listing files, against the rest
    m["trace.overhead_frac"] = tr.overhead_s / max(1e-9, wall - tr.overhead_s)
    return m


#: per-layer counters recorded by the instrumented layers and workloads
COUNTERS = (
    "sources.fetcher.pages",
    "sources.fetcher.rows",
    "sources.fetcher.fetch_s",
    "sources.fetcher.failed_symbols",
    "storage.table.append_files",
    "storage.table.append_bytes",
    "storage.rollup.months_recomputed",
    "storage.table.read_files",
    "storage.table.compact_bytes_rewritten",
    "storage.table.live_files",
)


def run(args, work: Path) -> dict:
    stamp = _machine_stamp()
    wl = make_workload(args.workload, args.seed, work)
    inputs = wl.prepare()
    print(f"[perfbench] workload={args.workload} seed={args.seed} inputs={inputs}", flush=True)

    setup_walls = []
    spark = None
    start_s = 0.0
    try:
        # one restart is too short for the 10 ms jiffy counts to resolve its
        # steal, so every set-up is scaled by the whole set-up phase's share
        phase = Clock()
        for rep in range(SETUP_REPS):
            # a set-up after the first is a session restart
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(work)
            if rep == 0:
                start_s = time.perf_counter() - t0
            wl.setup(spark)
            setup_walls.append(time.perf_counter() - t0)
        phase_wall, phase_net = phase.read()
        setup_net = [w * phase_net / phase_wall for w in setup_walls]
        if args.trace:
            tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
            probe = Probe(spark, tracer)
            with instrument(tracer):
                t0 = time.perf_counter()
                with tracer.span("pass"):
                    wl.run_pass(spark, probe)
                wall = time.perf_counter() - t0
            report = {k: (v, UNITS.get(k, "count")) for k, v in
                      per_layer(args.workload, wl, probe, wall, start_s).items()}
            tracer.write(str(ROOT / "perfbench_out" / f"trace-{args.workload}-{args.seed}.jsonl"))
            extra = {}
        else:
            probe = Probe(spark)
            passes = run_passes(wl, spark, probe, args.seconds)
            report = end_to_end(args.workload, probe, passes, setup_net, net=True)
            raw = end_to_end(args.workload, probe, passes, setup_walls, net=False)
            extra = {f"raw_{k}": raw[k] for k in ("setup_s", "wall_s", "query_geomean_s")}
            extra["passes"] = (len(passes), "count")
            if args.workload == "etl_lifecycle":
                extra.update(etl_phases(wl, probe))
    finally:
        if spark is not None:
            stop_jvm(spark)

    attempted, failed, failures = probe.attempted, probe.failed, probe.failures
    extra["failed_frac"] = (failed / attempted, "ratio")
    stamp["busy_cores_after"] = _run_sentinel(0.25)
    print(f"[perfbench] stamp {json.dumps(stamp)}", flush=True)
    print(f"[perfbench] setups = {' '.join(f'{w:.4f}' for w in setup_walls)} s", flush=True)
    for k, (v, unit) in {**report, **extra}.items():
        print(f"[perfbench] {k} = {v:.6g} {unit}", flush=True)
    for name, walls in probe.walls("query" if args.workload == "query_sweep" else "read").items():
        print(f"[perfbench] op {name} = {' '.join(f'{w:.4f}' for w in walls)} s", flush=True)
    for msg in failures[:20]:
        print(f"[perfbench] FAILED {msg}", flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }


#: units of the per-layer metrics that are not plain counts
UNITS = {
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.slot_busy_frac": "ratio",
    "spark.analysis_s": "s",
    "spark.optimization_s": "s",
    "spark.planning_s": "s",
    "queries.build_s": "s",
    "dialect.translate_s": "s",
    "engine.sql_s": "s",
    "sources.fetcher.fetch_s": "s",
    "operators.etl.clean_s": "s",
    "storage.table.append_s": "s",
    "storage.table.append_bytes": "B",
    "storage.rollup.refresh_s": "s",
    "storage.table.read_s": "s",
    "storage.table.compact_s": "s",
    "storage.table.compact_bytes_rewritten": "B",
    "storage.table.stored_bytes_per_row": "B/row",
    "pipeline.backfill_rows_per_s": "rows/s",
    "pipeline.cycle_p50_s": "s",
    "pipeline.serve_read_p50_s": "s",
    "pipeline.compact_s": "s",
    "session.start_s": "s",
    "trace.overhead_frac": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # every temp file of this process, its JVM and the Python workers stays
    # inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers unpickle functions defined in this directory (the
    # synthetic page source) and the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(HERE), str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
