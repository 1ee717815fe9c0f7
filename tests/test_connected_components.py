"""Convergence semantics of the two connected-component forms.

The failure mode these tests pin: a component whose diameter exceeds a
fixed iteration cap silently SPLITS under k-bounded propagation — and
because the DuckDB oracle truncates identically, the parity suite can
never catch it. The exact (large-star/small-star) form must not split,
and must fail loudly (never return partial labels) when its round cap is
hit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators import graph
from binance_etl_clickhouse_spark.operators.entity import resolve_entities


def _path_edges(spark, n):
    """A path graph 0-1-2-...-n (diameter n)."""
    return spark.createDataFrame(
        [(i, i + 1, 1) for i in range(n)], ["src", "dst", "w"]
    )


def _components(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.component, set()).add(r.part_key)
    return out


def test_fixed_k_splits_long_chain_but_converged_does_not(spark):
    edges = _path_edges(spark, 12)  # diameter 12 >> 4 rounds
    fixed = _components(graph.connected_components(edges, iters=4))
    assert len(fixed) > 1  # the documented k-bounded truncation
    conv = _components(graph.connected_components_lsss(edges))
    assert len(conv) == 1 and conv[0] == set(range(13))


def test_lsss_exact_on_long_chain_and_multi_component(spark):
    # chain 0..12 plus a separate triangle 100-101-102 and an edge 200-201
    rows = [(i, i + 1, 1) for i in range(12)]
    rows += [(100, 101, 1), (101, 102, 1), (100, 102, 1), (200, 201, 1)]
    edges = spark.createDataFrame(rows, ["src", "dst", "w"])
    comp = _components(graph.connected_components_lsss(edges))
    assert comp == {
        0: set(range(13)),
        100: {100, 101, 102},
        200: {200, 201},
    }


def test_lsss_labels_self_loop_only_vertices(spark):
    """Vertex coverage parity across the two variants: a vertex whose
    only incident edges are self-loops must still label itself (it IS a
    singleton component), exactly as connected_components treats it."""
    rows = [(0, 1, 1), (7, 7, 1)]  # one real edge + a self-loop-only vertex
    edges = spark.createDataFrame(rows, ["src", "dst", "w"])
    lsss = _components(graph.connected_components_lsss(edges))
    fixed = _components(graph.connected_components(edges, iters=2))
    assert lsss == fixed == {0: {0, 1}, 7: {7}}


def _clear_checkpoint_dir(spark):
    """Reset sc.checkpointDir to unset (py4j — there is no public unset);
    best-effort so a failure leaves later tests on the slower-but-correct
    reliable path rather than failing this one."""
    try:
        sc = spark.sparkContext._jsc.sc()
        empty = spark._jvm.scala.Option.empty()
        getattr(sc, "checkpointDir_$eq")(empty)
    except Exception:
        pass


def _rglob_safe(root):
    """Scan the checkpoint tree tolerating concurrent deletion: with
    cleanCheckpoints=true (session default since r8) the ContextCleaner
    reclaims superseded rdd-* dirs in the background, and a directory can
    vanish between being listed and being descended into — retry rather
    than crash on that race."""
    for _ in range(20):
        try:
            return set(root.rglob("*"))
        except FileNotFoundError:
            continue
    return set(root.rglob("*"))


def test_reliable_checkpoint_mode(spark, tmp_path):
    """With a checkpoint dir set, the exact loop auto-switches to
    RELIABLE .checkpoint() frames (they survive executor loss, unlike
    localCheckpoint blocks); reliable=True without a dir fails loudly
    instead of silently faking fault-tolerance."""
    edges = _path_edges(spark, 6)
    assert spark.sparkContext.getCheckpointDir() is None
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        graph.connected_components_lsss(edges, reliable=True)
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        conv = _components(graph.connected_components_lsss(edges))
        assert conv == {0: set(range(7))}
        # reliable frames were actually written to the checkpoint dir
        files = _rglob_safe(tmp_path / "ckpt")
        assert any(p.name.startswith("rdd-") for p in files), files
        lsss = _components(graph.connected_components_lsss(edges))
        assert lsss == {0: set(range(7))}
        # NEW checkpoint paths appeared (a set diff, not a count: the
        # background cleaner may delete old ones concurrently)
        assert _rglob_safe(tmp_path / "ckpt") - files
        # explicit opt-out still localCheckpoints even with the dir set:
        # NO NEW checkpoint files may appear. Subset, not equality — the
        # background cleaner can legitimately SHRINK the set while this
        # runs (see _rglob_safe).
        before = _rglob_safe(tmp_path / "ckpt")
        graph.connected_components_lsss(edges, reliable=False).collect()
        assert _rglob_safe(tmp_path / "ckpt") <= before
    finally:
        _clear_checkpoint_dir(spark)


def test_converged_raises_past_round_cap(spark):
    edges = _path_edges(spark, 8)
    # LSSS needs 4 rounds on this path
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components_lsss(edges, max_rounds=2).collect()


def test_resolve_entities_converged_by_default(spark):
    """A 6-record match chain (diameter 5): fixed iters=3 splits it into
    two entities; the default (exact LSSS) resolves one entity, and
    singletons keep their own rid either way."""
    records = spark.createDataFrame(
        [(i, f"rec {i}", 1) for i in range(6)] + [(99, "lonely", 1)],
        ["rid", "p_name", "n_rows"],
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["rid1", "rid2"]
    )
    fixed = resolve_entities(records, pairs, iters=3)
    assert fixed.select("entity_id").distinct().count() > 2
    conv = resolve_entities(records, pairs)
    got = {r.rid: r.entity_id for r in conv.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 99: 99}
