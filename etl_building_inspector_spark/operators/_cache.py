"""Tracked persist() for self-join inputs.

Self-joins recompute the whole upstream plan per side unless the slim
projection is persisted (measured round 1: LSH buckets, jaccard
shingles). But a long-lived session running many queries (bench /
driver loops) leaks cached blocks if nothing unpersists them -- so
every operator-internal persist registers here and callers (bench.py,
tests, the CLI) call release_persisted() between queries.

ONE-LIVE-QUERY CONSTRAINT: release_persisted() degrades the two
tracked classes differently. An unpersist()ed DataFrame silently
recomputes from lineage on its next action; a freed localCheckpoint
CANNOT (lineage is truncated by construction), so acting on a held
DataFrame from query A after building query B raises. The registry
wrapper releases at query ENTRY, which is safe under the driver/bench
contract (each result is fully materialized before the next query is
built). Interleaving registered-query builds -- build A, build B, then
collect A -- is unsupported; hold A's .collect()/.toPandas() output,
not its DataFrame, across query boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []
_CHECKPOINTED: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    p = df.persist()
    _PERSISTED.append(p)
    return p


def track_local_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint (eager) whose blocks release_persisted() can
    free. localCheckpoint truncates lineage by materializing to block
    storage, but PySpark exposes no unpersist for it -- the blocks
    linger until JVM GC, which in a long-lived session (bench/driver
    loops, iterative algorithms) accumulates dead blocks and evicts
    live caches. We keep the handle and free it explicitly."""
    out = df.localCheckpoint()
    _CHECKPOINTED.append(out)
    return out


def track_local_checkpoint_lazy(df: DataFrame) -> DataFrame:
    """localCheckpoint with eager=False: the plan is truncated to a
    LogicalRDD immediately, but the blocks materialize on the FIRST
    ACTION instead of in their own dedicated job. Iterative operators
    use this to fold the per-round materialization into the per-round
    convergence count -- one Spark job per round instead of two
    (VERDICT r10 #3). The caller MUST run a full-scan action (count()
    over the frame or a superset filter of it) before freeing the
    previous round's blocks and before the next round references the
    frame twice; a partial action (limit) would leave missing
    partitions for Spark's catch-up checkpoint job."""
    out = df.localCheckpoint(eager=False)
    _CHECKPOINTED.append(out)
    return out


def free_local_checkpoint(df: DataFrame) -> None:
    """Drop a checkpointed DataFrame's blocks NOW (the df becomes
    unusable -- only call on superseded intermediates). The analyzed
    plan of a localCheckpoint()ed frame is a LogicalRDD; its .rdd()
    is the materialized RDD holding the blocks.

    `df` must be a handle returned by track_local_checkpoint[_lazy]
    and not yet freed. Anything else raises ValueError: a view derived
    from a handle (select/filter) has no blocks of its own, so freeing
    it would free nothing, and a second free is a lifecycle bug."""
    for i, held in enumerate(_CHECKPOINTED):
        if held is df:
            del _CHECKPOINTED[i]
            break
    else:
        raise ValueError("not a live tracked localCheckpoint handle")
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # plan shape changed across Spark versions: leak, don't crash


def release_persisted() -> int:
    """Unpersist every tracked intermediate; returns how many."""
    n = len(_PERSISTED) + len(_CHECKPOINTED)
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
    while _CHECKPOINTED:
        free_local_checkpoint(_CHECKPOINTED[-1])
    return n
