"""SparkSession factory.

One shared session across queries/tests (BASELINE.md: session reuse is
part of the 2x bench envelope). Config is chosen for correctness of the
DuckDB-oracle comparison (UTC timestamps, ANSI off to match permissive
cast semantics) and for scale-readiness (AQE with skew-join handling,
Arrow for the few pandas_udf kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ._dist import ensure_workers_can_import


def _default_driver_memory() -> str:
    """Half of physical memory as the driver heap cap: the JVM's
    off-heap memory, the Python workers and the OS share the rest, so
    the cap binds before the host runs out of memory."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(phys // 2 // 2**20, 1024)}m"


def get_spark(app_name: str = "etl-building-inspector-spark") -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Local parallelism comes from ``SPARK_GRAFT_CPUS`` (default: all
    cores), the driver heap cap from ``SPARK_GRAFT_DRIVER_MEM`` (a JVM
    size such as ``6g``; default: half of physical memory).
    ``spark.sql.shuffle.partitions`` is pinned to 32 whatever the core
    count; AQE coalescing, which stays enabled here so plans behave
    the same way at 1000 executors, shrinks small shuffles at runtime.
    The package is shipped to the session's Python workers, so its
    pandas_udf / mapInPandas kernels import from any cwd.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle sizing: a fixed 32, not the core count; AQE
        # re-coalesces at runtime so the same code scales to cluster
        # partition counts.
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: fast path for the pandas_udf kernels and for
        # createDataFrame/ toPandas in tests.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Permissive (classic) semantics: element_at out-of-range -> NULL,
        # cast('12abc' as int) -> NULL -- matches the reference's JS
        # parseInt-style leniency (building-inspector.js:102) and keeps
        # the DuckDB oracles expressible with try_cast.
        .config("spark.sql.ansi.enabled", "false")
        # local[N] = single JVM; driver memory is the only knob.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        # nested-schema pruning ON (default, but pinned: the GeoJSON
        # structs rely on it for column pruning at scale).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_workers_can_import(spark)
    return spark
