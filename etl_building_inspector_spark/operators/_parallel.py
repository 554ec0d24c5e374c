"""Scan fan-out for expensive narrow passes.

The fixture tables are single-file, single-row-group parquet, so every
scan is ONE input split regardless of spark.sql.files.maxPartitionBytes
(a parquet split below row-group granularity reads zero rows). Any
operator that does expensive per-row work BEFORE its first shuffle --
regex normalization, shingle explode, one sha256/md5 per shingle,
interpreted higher-order-function folds -- therefore ran on 1-2 cores
of a 32-core box (measured: dedup_cluster_assign's pair build 7.1 s of
task time on n=2 tasks; quality_ngram_lm_score 4.6 s on n=1).

Fix per the optimization guide section 2.5 ("input skew: one huge
unsplittable file ... repartition immediately after the read"):
round-robin repartition the narrow input to the session's default
parallelism BEFORE the heavy pass. Scale-adaptive, not local-tuned:

  * target = sparkContext.defaultParallelism (cores locally, total
    executor slots on a cluster), not a constant;
  * NO-OP when the input already has >= target partitions -- at real
    scale the corpus arrives as thousands of splits and this helper
    must never REDUCE that parallelism.

The shuffle this inserts moves only the slim (id, text) projection --
megabytes here; at 100 TB the no-op branch applies -- and buys a
full-width stage for the dominant CPU cost. Round-robin repartition is
deterministic under retry (sortBeforeRepartition, SPARK-23207), and
every downstream consumer is order-insensitive (aggregates, equi-joins,
windows with total orderings), so results are bit-identical -- verified
against the DuckDB oracles for every affected query.

Call sites: the text queries in ``plans/`` fan their 1-split documents
scan out right before a heavy narrow pass (shingle explode, per-shingle
hashing, regex normalization), and a few operators fan out their own
input. Each call site, and each heavy pass left without one (the
comments in dedup.py, similarity.py and textops.py give the ratio), was
kept by an interleaved A/B of the query with and without the fan-out
(``tools/measure.py ab-fanout``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Logical nodes that keep a plan scan-shaped: leaf relations under
# narrow row-level ops. Converting such a plan to an RDD to read its
# partition count builds the RDD without running any job. Any other
# node -- an exchange-planning one (join, aggregate, window, sort,
# repartition, rebalance, cogroup ...) or one this list has never
# heard of -- skips the probe: under AQE the RDD conversion would
# eagerly materialize every intermediate query stage, and that
# shuffle work is discarded (no exchange reuse across separate
# executions). The heavy pass then runs at whatever
# parallelism the upstream already established, which is the right
# answer for a shuffled input.
_NARROW_NODES = frozenset(
    {
        "Relation",
        "LocalRelation",
        "LogicalRDD",
        "Range",
        "Project",
        "Filter",
        "SubqueryAlias",
        "View",
        "ResolvedHint",
        "Union",
        "Generate",
        "Sample",
        "MapInPandas",
        "MapInArrow",
    }
)

# A node's name opens its line of the plan string; nodes below the root
# carry tree prefixes ('+- ', ':- ', ':  +- ', ...).
_NODE_RE = re.compile(r"(?m)^[ :+-]*(\w+)")


def _is_scan_only(df: DataFrame) -> bool:
    """True iff every node of the ANALYZED logical plan is in
    _NARROW_NODES. String inspection of the analyzed plan: pure
    driver-side, never triggers execution, and cheap for scan-shaped
    plans."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    return set(_NODE_RE.findall(plan)) <= _NARROW_NODES


def _references_cache(df: DataFrame) -> bool:
    """True iff cache substitution replaces part of this plan with an
    InMemoryRelation -- i.e. the input (or an ancestor) was persist()ed
    by the caller. Driver-only plan inspection, executes nothing."""
    try:
        return "InMemoryRelation" in df._jdf.queryExecution().withCachedData().toString()
    except Exception:
        return False


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Repartition `df` to defaultParallelism iff it currently has
    fewer partitions (see module docstring). Call it on a slim
    projection (id + the columns the heavy pass needs), right before
    the expensive narrow work.

    The partition probe (`df.rdd.getNumPartitions()`) runs in two
    cases only:

      * the analyzed plan is scan-shaped (every node in
        _NARROW_NODES): the RDD conversion is a few ms of driver work
        and executes nothing;
      * the plan reads a persist()ed intermediate (cache substitution
        yields an InMemoryRelation): under AQE the probe materializes
        the upstream stages, but that work fills the registered cache
        the operator is about to reuse, so nothing is discarded (this
        is the pipeline_corpus_curation_e2e shape, kept by its A/B).

    For any other input (an unpersisted join/aggregate/window
    upstream, or a node the allowlist does not know) the helper is a
    no-op -- the probe could execute the upstream stages once and
    throw the result away."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if not (_is_scan_only(df) or _references_cache(df)):
        return df
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        # plan not convertible cheaply (streaming source pre-batch):
        # leave the input alone rather than fail the build
        return df
    if current >= target:
        return df
    return df.repartition(target)
