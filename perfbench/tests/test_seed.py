"""The seed changes order and subsets, never sizes; a seed repeats exactly."""

from __future__ import annotations

import numpy as np

import run
from etl import EtlLifecycle, EtlSizes, Plan, check_burst
from harness import Probe
from queries import ITERATIVE, SINGLE_PASS, QueryWorkload
from spans import Tracer, instrument

TINY = EtlSizes(n_spot=4, n_perp=1, backfill_bars=48, cycles=2, advance_bars=24, overlap_symbols=1)


def _fetched_bars(plan: Plan) -> int:
    return sum(sum(calls.values()) for _, _, calls in plan.fetch_jobs())


def test_seed_changes_subsets_not_totals():
    plans = [Plan.make(seed, EtlSizes()) for seed in range(6)]
    assert len({p.live_rows(p.sizes.cycles) for p in plans}) == 1
    assert len({_fetched_bars(p) for p in plans}) == 1
    starts = {tuple(sorted(c[1].items())) for p in plans for c in p.cycles}
    assert len(starts) > 1


def test_seed_changes_query_order_only(tmp_path):
    a = QueryWorkload(SINGLE_PASS + ITERATIVE, 1, str(tmp_path))
    b = QueryWorkload(SINGLE_PASS + ITERATIVE, 2, str(tmp_path))
    assert sorted(a.order) == sorted(b.order) and a.order != b.order


def test_burst_check_refuses_oversized_fetch(spark):
    assert check_burst(spark, Plan.make(1, EtlSizes())) == []
    # 40 000 1h bars at 499 per perp page: 81 calls for one symbol, past
    # the 71-call perp burst of its fetch partition
    oversized = Plan.make(1, EtlSizes(n_perp=8, backfill_bars=40_000))
    assert any("PERPETUAL" in p or "backfill_perpetual" in p for p in check_burst(spark, oversized))


def _traced_counts(spark, work: str) -> dict[str, float]:
    wl = EtlLifecycle(5, work, TINY)
    tracer = Tracer("seed-test")
    probe = Probe(spark, tracer)
    with instrument(tracer):
        wl.run_pass(spark, probe)
    m = run.per_layer("etl_lifecycle", wl, probe, wall=1.0, start_s=0.0)
    return {
        k: m[k]
        for k in ("spark.jobs", "sources.fetcher.pages", "storage.table.stored_bytes_per_row")
    }


def test_same_seed_same_counts(spark, tmp_path):
    first = _traced_counts(spark, str(tmp_path / "a"))
    second = _traced_counts(spark, str(tmp_path / "b"))
    assert first == second
    assert first["spark.jobs"] > 0 and first["sources.fetcher.pages"] > 0
    assert np.isfinite(first["storage.table.stored_bytes_per_row"])
