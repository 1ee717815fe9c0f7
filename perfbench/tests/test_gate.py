"""The correctness gate counts a perturbed output as a failed operation."""

from __future__ import annotations

import dataclasses

import etl
from etl import EtlLifecycle, EtlSizes
from harness import Probe
from queries import QueryWorkload

TINY = EtlSizes(n_spot=4, n_perp=1, backfill_bars=48, cycles=1, advance_bars=24, overlap_symbols=1)



def test_query_gate_passes_then_catches_perturbation(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from binance_etl_clickhouse_spark.queries import QUERIES

    name = "tpch_q1_pricing_summary"
    wl = QueryWorkload([(name, 0.001)], seed=3, work=str(tmp_path))
    wl.prepare()
    probe = Probe(spark)
    assert wl.run_pass(spark, probe)
    assert probe.attempted == 1 and probe.failures == []

    entry = QUERIES[name]

    def perturbed(s, d):
        df = entry.spark(s, d)
        col = next(f.name for f in df.schema.fields if f.dataType.typeName() == "double")
        return df.withColumn(col, F.col(col) + F.lit(0.5))

    monkeypatch.setitem(QUERIES, name, dataclasses.replace(entry, spark=perturbed))
    probe = Probe(spark)
    wl.run_pass(spark, probe)
    assert probe.attempted == 1 and len(probe.failures) >= 1


def test_etl_gate_passes_then_catches_stale_versions(spark, tmp_path, monkeypatch):
    wl = EtlLifecycle(7, str(tmp_path / "ok"), TINY)
    probe = Probe(spark)
    wl.run_pass(spark, probe)
    assert probe.failures == []
    assert probe.attempted >= 5

    # every re-fetch now serves the backfill's values: keep-last still picks
    # the newest batch, but its values are not the last version's
    orig = etl.page_fn
    monkeypatch.setattr(etl, "page_fn", lambda seed, version, accs=None: orig(seed, 0, accs))
    wl = EtlLifecycle(7, str(tmp_path / "stale"), TINY)
    probe = Probe(spark)
    wl.run_pass(spark, probe)
    assert any("bn_klines" in f for f in probe.failures)
