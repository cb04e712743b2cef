"""The operators' shared physical-plan plumbing: how wide a stage fans out,
when a single-split scan is spread over the cores, and the one registry of
materialized intermediates that a looping caller drains.

The operators widen scans, size salted joins and register their
checkpoints through here, so a size-aware choice of plan has one place to
live.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Live localCheckpoint handles. A checkpoint backs the plan an operator
# returns, so it cannot be unpersisted before the caller's action; its
# blocks persist for the session lifetime unless released. A caller that
# re-runs operators (bench retry loops, repeated registry queries) drains
# them between runs via release_checkpoints().
_live_checkpoints: list[DataFrame] = []


def cores(df: DataFrame) -> int:
    """Scale-adaptive fan-out for pair-explosion and widened stages: the
    session's total cores (defaultParallelism), never a constant tuned to
    one host."""
    return df.sparkSession.sparkContext.defaultParallelism


def widen(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition to the session parallelism, hash-keyed on ``keys`` (or
    round-robin without). The fixture corpus is a one-row-group parquet
    file, so every scan is ONE split and the heavy explode/hash/
    partial-aggregate map work right above it runs in a single task (guide
    §2.5 input skew); one cheap shuffle of the input rows buys a fully
    parallel map stage. Scale-adaptive (defaultParallelism), and a
    near-no-op on a real multi-file table whose scan is already wide."""
    return df.repartition(cores(df), *keys)


def register(df: DataFrame) -> DataFrame:
    """Park an already-checkpointed ``df`` for release_checkpoints()."""
    _live_checkpoints.append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """``df`` materialized once (eager localCheckpoint) and registered for
    release_checkpoints(): for an intermediate that several plan sides
    reference, which Catalyst would otherwise re-evaluate per reference."""
    return register(df.localCheckpoint(eager=True))


def unpersist(df: DataFrame) -> None:
    """Free a checkpoint's blocks. ``DataFrame.unpersist()`` only drops
    cache-manager entries, which a checkpoint never has: its blocks belong
    to the RDD behind the plan's LogicalRDD leaf."""
    df._jdf.logicalPlan().rdd().unpersist(False)


def release_checkpoints() -> int:
    """Unpersist every checkpoint registered since the last release. Safe
    to call at any time (idempotent, exception-tolerant: the session may
    already be gone). Returns the number released."""
    n = 0
    while _live_checkpoints:
        try:
            unpersist(_live_checkpoints.pop())
            n += 1
        except Exception:
            pass
    return n
