"""Lineage truncation and block release for iterative loops.

Every loop that re-reads its own previous round (the graph loops, the v3
prep pipeline) cuts plan lineage between rounds, otherwise the logical
plan doubles per round. :func:`resolve_reliable` picks the checkpoint
mode and :func:`truncate` applies it; this module is the one place that
decides how a loop cuts lineage and frees blocks.

``Dataset.unpersist()`` only clears CacheManager entries, and the
ContextCleaner never reclaims a locally-checkpointed RDD either (verified
empirically: blocks survive del + GC + System.gc for minutes) — the
checkpointed RDD is strongly referenced by its own truncated-lineage
bookkeeping. Long-lived processes that checkpoint per iteration (BPE
training, the graph loops) or per micro-batch (the streaming dedup sinks)
therefore leak executor storage without an explicit release.

:func:`release` reaches the internal RDD through the LogicalRDD plan node
and unpersists it directly. After release the frame CANNOT be recomputed
(its lineage was truncated — Spark logs exactly that warning), so call it
only when every consumer of the frame has finished.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def resolve_reliable(df: DataFrame, reliable: bool | None) -> bool:
    """Resolve the checkpoint mode for an iterative loop.

    ``None`` auto-detects: reliable iff ``sc.setCheckpointDir`` was called.
    ``True`` requires a checkpoint dir (loud failure if unset — silently
    falling back to localCheckpoint would fake the fault-tolerance the
    caller asked for). ``False`` keeps localCheckpoint even when a
    checkpoint dir was set for some other operator, so the loop does not
    silently pay a durable write per round.
    """
    ckpt_dir = df.sparkSession.sparkContext.getCheckpointDir()
    if reliable is None:
        return ckpt_dir is not None
    if reliable and ckpt_dir is None:
        raise RuntimeError(
            "reliable=True requires sc.setCheckpointDir(...) — localCheckpoint "
            "blocks live on executors and do not survive executor loss"
        )
    return reliable


def truncate(df: DataFrame, reliable: bool) -> DataFrame:
    """Cut plan lineage between rounds of an iterative loop.

    Local mode is a LAZY ``localCheckpoint``: the round's next action
    (typically its convergence count) both materializes the blocks and
    returns its answer in one job. The blocks live on EXECUTORS — losing
    one mid-loop kills the query (lineage is gone with the blocks).

    Reliable mode is an EAGER ``checkpoint()`` to the checkpoint dir: it
    survives executor loss, at the cost of a round-trip to storage per
    round — the right trade for long data-dependent loops on a real
    cluster. Eager, so a later count reads the durable copy instead of
    racing the job that writes it.

    Storage hygiene: Spark does NOT delete reliable checkpoint files by
    default — superseded rounds accrete until application exit unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` lets the
    ContextCleaner reclaim them as the per-round frames are
    garbage-collected. :func:`session.get_spark` sets it; long-lived
    sessions built elsewhere must too.
    """
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=False)


def release(df: DataFrame | None) -> None:
    """Free a localCheckpoint'd DataFrame's storage blocks. Safe no-op on
    None, on reliable-checkpoint frames (their data is in files, not
    blocks) and on frames that are not checkpoint-backed."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — release is best-effort cleanup
        pass
