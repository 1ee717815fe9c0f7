"""Entity resolution: exact-collapse -> blocked fuzzy match -> component ids.

Training-data-pipeline extension (the reference's surface has no record
linkage — its dedup is exact ReplacingMergeTree keys,
``utils_clickhouse.py``): resolving near-identical catalog/author/source
records into canonical entities is a standard pre-training corpus step
(source canonicalization, per-entity dedup caps, entity-balanced sampling).

Scale shape (100 TB lens), in pipeline order:

1. **Exact collapse first** (:func:`canonical_records`): pairwise fuzzy
   matching must NEVER see raw rows — identical attribute tuples collapse
   to one record (one hash-groupBy), so a value repeated 10 M times at
   corpus scale contributes ONE vertex, not 10^13 intra-clique pairs.
2. **Blocked candidate generation** (:func:`blocked_match_pairs`): the
   self-join runs per blocking key (an equi-join shuffle, never a cross
   product); per-block fan-out is quadratic only in the block size, which
   the blocking-key design bounds (here: name noun + exact brand). A
   skewed block at real scale gets the same salting treatment as any
   skewed join key.
3. **Component resolution** (:func:`resolve_entities`): the verified match
   graph is orders of magnitude smaller than the record table; entity ids
   come from fixed-iteration min-label propagation
   (:func:`~binance_etl_clickhouse_spark.operators.graph.connected_components`)
   and singleton records keep their own id via one left join — no
   driver-side union-find, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators import graph


def canonical_records(
    df: DataFrame, attrs: list[str], id_col: str
) -> DataFrame:
    """Collapse exact-duplicate attribute tuples: one record per distinct
    ``attrs`` combination, carrying ``rid`` = min(``id_col``) (deterministic
    representative) and ``n_rows`` (collapse weight)."""
    return df.groupBy(*attrs).agg(
        F.min(id_col).cast("long").alias("rid"),
        F.count("*").cast("long").alias("n_rows"),
    )


def blocked_match_pairs(
    records: DataFrame,
    block_cols: list[str],
    fuzzy_col: str,
    max_dist: int,
) -> DataFrame:
    """Candidate pairs within each block, verified by edit distance.

    Returns ``(*block_cols, rid1, rid2, <fuzzy_col>1, <fuzzy_col>2,
    edit_dist)`` with ``rid1 < rid2``. The join is a plain equi-join on the
    block key(s); the Levenshtein verify runs inside the join's projection,
    so rejected candidates never shuffle again.
    """
    a = records.select(
        *block_cols, F.col(fuzzy_col).alias("f1"), F.col("rid").alias("rid1")
    )
    b = records.select(
        *block_cols, F.col(fuzzy_col).alias("f2"), F.col("rid").alias("rid2")
    )
    return (
        a.join(b, block_cols)
        .filter(F.col("rid1") < F.col("rid2"))
        .withColumn("edit_dist", F.levenshtein("f1", "f2"))
        .filter(F.col("edit_dist") <= max_dist)
        .select(
            *block_cols,
            "rid1",
            "rid2",
            F.col("f1").alias(f"{fuzzy_col}1"),
            F.col("f2").alias(f"{fuzzy_col}2"),
            F.col("edit_dist").cast("long").alias("edit_dist"),
        )
    )


def resolve_entities(
    records: DataFrame, pairs: DataFrame, iters: int | None = None
) -> DataFrame:
    """Assign every record an ``entity_id``: the component-minimum ``rid``
    of its fuzzy-match component, or its own ``rid`` when unmatched
    (singleton entity).

    ``iters=None`` (the default) computes EXACT components with the
    large-star/small-star loop, which fails loudly past its round cap — a
    component whose diameter exceeds a fixed iteration cap would otherwise
    silently split into several entity ids, invisibly breaking per-entity
    dedup caps and entity-balanced sampling downstream. Pass a fixed
    ``iters`` only when a deterministic k-bounded labeling is required (the
    cross-engine oracle twin unrolls the same k rounds).
    """
    edges = pairs.select(
        F.col("rid1").alias("src"), F.col("rid2").alias("dst"), F.lit(1).alias("w")
    )
    if iters is None:
        comp = graph.connected_components_lsss(edges)
    else:
        comp = graph.connected_components(edges, iters=iters)
    comp = comp.select(
        F.col("part_key").alias("rid"), F.col("component").alias("entity_id")
    )
    return records.join(comp, "rid", "left").withColumn(
        "entity_id", F.coalesce(F.col("entity_id"), F.col("rid"))
    )
