"""Storage-layout scale patterns: bucketed co-located joins (no
shuffle on the join key) and partitioned writes with partition pruning.
These are the knobs that matter at 100 TB; the tests pin that Spark
actually elides the exchanges / prunes the scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_building_inspector_spark.sources.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Both sides bucketed by the join key -> SortMergeJoin with ZERO
    Exchange: the co-location contract a 100 TB fact-fact join needs.
    (Tables land in ./spark-warehouse -- gitignored; warehouse dir is a
    static conf that can't move per-test.)"""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_b"))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b"))

    # disable broadcast so the join would OTHERWISE shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # semantics unchanged
        assert joined.count() == load_table(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_partitioned_write_prunes_scan(spark, sf_dir, tmp_path_factory):
    """Writing events partitioned by event_type: a filter on the
    partition column must reach the scan as a PartitionFilter (pruned
    directories, not read-and-discard)."""
    out = str(tmp_path_factory.mktemp("events_part"))
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)

    df = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    qe = df._jdf.queryExecution().toString()
    assert "PartitionFilters" in qe and "event_type" in qe.split("PartitionFilters")[1][:200]
    n_purchase = ev.filter(F.col("event_type") == "purchase").count()
    assert df.count() == n_purchase


def test_repartition_by_key_colocates(spark, sf_dir):
    """repartition(n, key) then groupBy(key): AQE must not need a second
    exchange for the aggregation (pre-partitioned data reused)."""
    li = load_table(spark, sf_dir, "lineitem").repartition(8, "l_orderkey")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange: the explicit repartition; the agg reuses it
    assert plan.count("Exchange") == 1


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path_factory):
    """Join-driven partition pruning: when the fact table is
    partitioned on the join key and the dim side carries a selective
    filter, the fact SCAN must receive a runtime dynamicpruning
    subquery (DPP) -- at 100 TB this is the difference between
    scanning one partition and scanning the table. Guard: the pruning
    expression appears in the fact scan's PartitionFilters."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("dpp")) + "/orders_part"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", "urgent"), ("3-MEDIUM", "medium"), ("5-LOW", "low")],
        "o_orderpriority string, tier string",
    ).where(F.col("tier") == "urgent")
    joined = fact.join(dim, "o_orderpriority").groupBy("tier").agg(
        F.count("*").alias("n")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result only reads the one matching partition
    rows = joined.collect()
    want = orders.where(F.col("o_orderpriority") == "1-URGENT").count()
    assert rows[0]["n"] == want


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Runtime filtering: on a shuffle join with a selective dim
    filter, Catalyst injects a bloom_filter_agg on the creation side
    and a might_contain probe into the fact scan -- at 100 TB this
    drops most fact rows BEFORE the shuffle. Local fixtures sit under
    the size thresholds (and AQE would broadcast), so the test lowers
    the application-side floor and forces a shuffle join; the guard is
    the INJECTION, results must be unchanged."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        got = {r["o_orderpriority"]: r["n"] for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    assert got == {r["o_orderpriority"]: r["count"] for r in want}


def test_sql_cache_table_in_memory_scan(spark, sf_dir):
    """SQL caching surface: CACHE TABLE pins a temp view columnar
    in-memory; subsequent plans must read InMemoryTableScan instead of
    re-scanning parquet, and UNCACHE must release it."""
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation_cache_test"
    )
    spark.sql("CACHE TABLE nation_cache_test")
    try:
        df = spark.sql(
            "SELECT count(*) AS n FROM nation_cache_test WHERE n_regionkey = 1"
        )
        # AQE's printed initial physical plan hides the cache node;
        # the OPTIMIZED logical plan shows the InMemoryRelation swap
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
        assert df.collect()[0]["n"] > 0
        assert spark.catalog.isCached("nation_cache_test")
    finally:
        spark.sql("UNCACHE TABLE nation_cache_test")
    assert not spark.catalog.isCached("nation_cache_test")


def test_schema_evolution_merge_and_prune(spark, sf_dir, tmp_path_factory):
    """A long-lived table whose later files added a column: mergeSchema
    reconciles (old files read NULL for the new column), and a query
    touching only original columns must NOT pay the wide schema --
    ReadSchema stays pruned to what's referenced."""
    out = str(tmp_path_factory.mktemp("evolve")) + "/t"
    n1 = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n1.write.parquet(out + "/batch=1")
    n2 = n1.withColumn("iso_code", F.concat(F.lit("N"), F.col("n_nationkey")))
    n2.write.parquet(out + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert "iso_code" in merged.columns
    rows = merged.where(F.col("batch") == 1).select("iso_code").collect()
    assert all(r["iso_code"] is None for r in rows)  # old files -> NULL
    n_new = merged.where(F.col("iso_code").isNotNull()).count()
    assert n_new == n1.count()

    narrow = merged.select("n_nationkey", "n_name")
    qe = narrow._jdf.queryExecution().toString()
    import re as _re

    schema = next(s for s in _re.findall(r"ReadSchema: struct<([^>]*)", qe))
    assert "iso_code" not in schema  # evolution must not break pruning
