"""Entity-resolution queries over the part catalog.

Pipeline: exact-collapse (p_name, p_brand) records -> block on (name noun,
exact brand) -> Levenshtein-verify candidates -> connected-component entity
ids -> map back to every part row / roll up per entity. The DuckDB oracles
rebuild each stage independently (``levenshtein`` exists on both engines;
the component stage unrolls the same fixed min-label rounds as chained
CTEs, the technique proven by ``graph_connected_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_etl_clickhouse_spark.operators import entity
from binance_etl_clickhouse_spark.queries.registry import register
from binance_etl_clickhouse_spark.tables import load_table as _t

_MAX_DIST = 1  # max name edit distance within a block to call a match
_CC_ITERS = 3  # >= match-cluster diameter (blocks are tiny; see operator)

#: shared oracle prefix: records, blocking view, verified match pairs
_REC_CTES = f"""
    rec AS (
      SELECT p_name, p_brand, min(p_partkey)::BIGINT AS rid,
             count(*)::BIGINT AS n_rows
      FROM part GROUP BY p_name, p_brand
    ),
    blk AS (
      SELECT split_part(p_name, ' ', 2) AS noun, p_brand, p_name, rid FROM rec
    ),
    pairs AS (
      SELECT a.rid AS rid1, b.rid AS rid2, a.p_name AS name1,
             b.p_name AS name2, a.p_brand AS brand,
             levenshtein(a.p_name, b.p_name)::BIGINT AS edit_dist
      FROM blk a
      JOIN blk b ON a.noun = b.noun AND a.p_brand = b.p_brand
                AND a.rid < b.rid
      WHERE levenshtein(a.p_name, b.p_name) <= {_MAX_DIST}
    )"""


def _entity_ctes() -> str:
    """Unrolled min-label rounds over the pair graph + singleton coalesce."""
    ctes = [
        _REC_CTES,
        """und AS (
      SELECT rid1 AS u, rid2 AS v FROM pairs
      UNION ALL
      SELECT rid2 AS u, rid1 AS v FROM pairs
    )""",
        "l0 AS (SELECT DISTINCT u, u AS lbl FROM und)",
    ]
    for i in range(1, _CC_ITERS + 1):
        ctes.append(
            f"""l{i} AS (
      SELECT cur.u, least(cur.lbl, min(nb.lbl)) AS lbl
      FROM l{i - 1} cur
      JOIN und e ON e.u = cur.u
      JOIN l{i - 1} nb ON nb.u = e.v
      GROUP BY cur.u, cur.lbl
    )""",
        )
    ctes.append(
        f"""resolved AS (
      SELECT rec.p_name, rec.p_brand, rec.rid, rec.n_rows,
             coalesce(l.lbl, rec.rid)::BIGINT AS entity_id
      FROM rec LEFT JOIN l{_CC_ITERS} l ON l.u = rec.rid
    )"""
    )
    return ",\n    ".join(ctes)


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entity.canonical_records(
        _t(spark, sf_dir, "part"), ["p_name", "p_brand"], "p_partkey"
    )


def _pairs(records: DataFrame) -> DataFrame:
    blocked = records.withColumn("noun", F.split("p_name", " ").getItem(1))
    return entity.blocked_match_pairs(
        blocked, ["noun", "p_brand"], "p_name", max_dist=_MAX_DIST
    )


@register(
    "entity_match_pairs",
    f"""
    WITH {_REC_CTES}
    SELECT rid1, rid2, name1, name2, brand, edit_dist FROM pairs
    """,
    survey_ref="entity resolution: blocked fuzzy candidate pairs (exact-collapse + noun/brand blocking + Levenshtein verify)",
)
def entity_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pairs(_records(spark, sf_dir)).select(
        "rid1",
        "rid2",
        F.col("p_name1").alias("name1"),
        F.col("p_name2").alias("name2"),
        F.col("p_brand").alias("brand"),
        "edit_dist",
    )


@register(
    "entity_resolution_parts",
    f"""
    WITH {_entity_ctes()}
    SELECT p.p_partkey AS part_key, r.entity_id
    FROM part p JOIN resolved r
      ON r.p_name = p.p_name AND r.p_brand = p.p_brand
    """,
    survey_ref="entity resolution: per-row canonical entity ids (component-min over the match graph, singletons kept)",
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = _records(spark, sf_dir)
    resolved = entity.resolve_entities(records, _pairs(records), iters=_CC_ITERS)
    return (
        _t(spark, sf_dir, "part")
        .join(resolved.select("p_name", "p_brand", "entity_id"), ["p_name", "p_brand"])
        .select(F.col("p_partkey").alias("part_key"), "entity_id")
    )


@register(
    "entity_resolution_converged",
    f"""
    WITH RECURSIVE {_REC_CTES},
    und AS (
      SELECT rid1 AS u, rid2 AS v FROM pairs
      UNION ALL
      SELECT rid2 AS u, rid1 AS v FROM pairs
    ),
    reach(u, lbl) AS (
      SELECT DISTINCT u, u AS lbl FROM und
      UNION
      SELECT e.u, r.lbl FROM und e JOIN reach r ON r.u = e.v
    ),
    comp AS (SELECT u, min(lbl) AS lbl FROM reach GROUP BY u),
    resolved AS (
      SELECT rec.p_name, rec.p_brand, rec.rid,
             coalesce(c.lbl, rec.rid)::BIGINT AS entity_id
      FROM rec LEFT JOIN comp c ON c.u = rec.rid
    )
    SELECT p.p_partkey AS part_key, r.entity_id
    FROM part p JOIN resolved r
      ON r.p_name = p.p_name AND r.p_brand = p.p_brand
    """,
    survey_ref="entity resolution: per-row entity ids with CONVERGED components (large-star/small-star to the fixpoint, loud failure past the round cap)",
)
def entity_resolution_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production entity path: components run to the fixpoint
    (``iters=None``, large-star/small-star contraction), so entity ids are
    exact for any component diameter; the oracle computes true components
    via a recursive min-label closure rather than truncating at k rounds."""
    records = _records(spark, sf_dir)
    resolved = entity.resolve_entities(records, _pairs(records))
    return (
        _t(spark, sf_dir, "part")
        .join(resolved.select("p_name", "p_brand", "entity_id"), ["p_name", "p_brand"])
        .select(F.col("p_partkey").alias("part_key"), "entity_id")
    )


@register(
    "entity_cluster_rollup",
    f"""
    WITH {_entity_ctes()}
    SELECT entity_id, count(*)::BIGINT AS n_records, sum(n_rows)::BIGINT AS n_parts,
           min(p_name) AS canonical_name
    FROM resolved GROUP BY entity_id
    """,
    survey_ref="entity resolution: per-entity rollup (record/row counts, canonical name)",
)
def entity_cluster_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = _records(spark, sf_dir)
    resolved = entity.resolve_entities(records, _pairs(records), iters=_CC_ITERS)
    return resolved.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("n_records"),
        F.sum("n_rows").cast("long").alias("n_parts"),
        F.min("p_name").alias("canonical_name"),
    )
