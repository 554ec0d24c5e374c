"""Join operators with the reference's lookup-join semantics.

J1 (building-inspector.js:103-105, :374-386): inner broadcast hash join
against an in-memory dict of all sheets; a miss THROWS and aborts the
stream. We preserve that contract distributedly with an anti-join
integrity check instead of a per-row crash.

J2 (:106, :220, :388-393): left broadcast join against layer-boroughs;
a miss yields NULL + a log record, the row survives (F4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_lookup_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str] | Column,
) -> DataFrame:
    """Broadcast hash join with the small side pinned to broadcast.

    At 100 TB the probe side streams through executors with ZERO
    shuffle; only the build side moves (once, to every executor). Force
    the hint because dimension tables can exceed
    spark.sql.autoBroadcastJoinThreshold (sheets did in the reference's
    domain) while still fitting executor memory.
    """
    return probe.join(F.broadcast(build), on, "inner")


def integrity_check(probe: DataFrame, build: DataFrame, on: list[str]) -> DataFrame:
    """Rows of `probe` with no match in `build` -- the distributed
    analog of the reference's crash-on-missing-sheet (TypeError at
    building-inspector.js:104). Callers fail the job or route these to
    the log channel. left_anti is shuffle-free here because the build
    side is broadcast."""
    return probe.join(F.broadcast(build), on, "left_anti")


def left_join_with_log(
    probe: DataFrame,
    build: DataFrame,
    on: list[str] | Column,
    null_col: str,
    error_expr: Column,
) -> tuple[DataFrame, DataFrame]:
    """J2+F4: left broadcast join; rows whose `null_col` came back NULL
    also emit a log record (side output), but stay in the main output
    -- log records are data, not stderr (building-inspector.js:129-136).

    Returns (joined, logs). Spark has no multi-output operator, so the
    side output is a second filter over the same joined plan; with the
    joined DataFrame reused (same lineage), Catalyst computes the join
    once per action and the broadcast is shared.
    """
    joined = probe.join(F.broadcast(build), on, "left")
    logs = joined.filter(F.col(null_col).isNull()).select(error_expr.alias("error"))
    return joined, logs

