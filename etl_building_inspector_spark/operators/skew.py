"""Explicit skew-mitigation operators: salted join and salted
two-phase aggregation.

AQE (spark.sql.adaptive.skewJoin) handles skew it can SEE — post-hoc
splitting of oversized shuffle partitions in sort-merge joins. These
operators are the plan-level counterpart for the shapes AQE does not
cover: a broadcast-too-big dimension joined on a power-law key, and a
hash aggregation whose reduce-side keys are pathological (a handful of
event types over 100 TB of events). Both rewrites are semantically
invisible — results equal the unsalted plan exactly, which is how the
DuckDB oracles check them (plain join / plain GROUP BY).

Salting contract: the salt is DERIVED (md5 of a row column, mod S),
never random — deterministic retries, deterministic tests, and no
rand() seed plumbed through recovery. The derived salt spreads a hot
key over S reducer partitions; S is a static knob here, sized from the
observed key histogram (at 100 TB: one pass of approx_count_distinct /
countByKey sampling picks S per hot key; uniform S suffices for the
demo and is what Spark's own skew hints generate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _derived_salt(col: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): first 8 md5 hex chars of a
    distinguishing column, mod S. Engine-portable (md5-only rule)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(n_salts),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_from: str,
    n_salts: int = 8,
) -> DataFrame:
    """Inner equi-join with the big side's hot keys spread over
    `n_salts` shuffle partitions.

    big gets salt = md5(salt_from) % S (salt_from must distinguish
    rows within a key: a line number, an event id); small is
    replicated S times via a tiny posexplode — its shuffle volume
    grows S×, which is the price and why S stays single-digit. The
    join key becomes (key, salt): a former single reducer handling a
    hot key's k rows now handles ~k/S, and no reducer is the straggler
    that defines the stage's wall clock.
    """
    b = big.withColumn("_salt", _derived_salt(F.col(salt_from), n_salts))
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return b.join(s, [key, "_salt"]).drop("_salt")


def salted_twophase_agg(
    df: DataFrame,
    key: str,
    salt_from: str,
    aggs: dict[str, tuple[Column, str]],
    n_salts: int = 32,
) -> DataFrame:
    """Aggregation over a low-cardinality/skewed key in two phases:
    partial agg on (key, salt), final re-agg on key.

    Spark's hash aggregate already does map-side partial aggregation,
    but the REDUCE side still lands each key on exactly one task — with
    5 event types and 1000 executors, 995 sit idle while 5 digest
    everything. Salting makes the first reduce fan out over key×S
    tasks; the second shuffle moves only key×S pre-aggregated rows.
    `aggs` maps output column name -> (partial aggregate Column,
    merge function name): only DECOMPOSABLE aggregates qualify —
    merge(partial(parts)) == agg(whole) — e.g. count merges via sum,
    sum/min/max via themselves. (avg would be carried as sum+count
    and divided after the final phase.)
    """
    partial = (
        df.withColumn("_salt", _derived_salt(F.col(salt_from), n_salts))
        .groupBy(key, "_salt")
        .agg(*[c.alias(f"_p_{name}") for name, (c, _) in aggs.items()])
    )
    return partial.groupBy(key).agg(
        *[
            getattr(F, merge)(f"_p_{name}").alias(name)
            for name, (_, merge) in aggs.items()
        ]
    )
