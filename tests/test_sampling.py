"""Sampling operators: bottom-k determinism, split stability, the
deterministic reservoir merge, and triangle-count equality on a
hand-checkable graph."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.graph import triangle_count
from etl_building_inspector_spark.operators.sampling import (
    bottom_k_sample,
    hash_split,
)


def test_bottom_k_stable_under_repartition(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    a = {r.doc_id for r in bottom_k_sample(docs, "doc_id", 20).collect()}
    b = {
        r.doc_id
        for r in bottom_k_sample(docs.repartition(13), "doc_id", 20).collect()
    }
    assert a == b


def test_hash_split_stable_and_partitions_everything(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    out = hash_split(docs, "doc_id")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "valid", "test"}
    assert sum(counts.values()) == docs.count()
    assert counts["train"] > counts.get("valid", 0)
    # reassignment after resharding is identical
    again = hash_split(docs.repartition(7), "doc_id")
    merged = out.withColumnRenamed("split", "s1").join(
        again.withColumnRenamed("split", "s2"), "doc_id"
    )
    assert merged.filter(F.col("s1") != F.col("s2")).count() == 0


def test_triangle_count_hand_checked(spark):
    # K4 on {1,2,3,4} = 4 triangles, plus pendant 5 and an isolated
    # edge (6,7): still 4. Edges given in mixed/duplicate order to
    # exercise canonicalization.
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            (4, 5), (6, 7), (7, 6),
        ],
        "u int, v int",
    )
    assert triangle_count(edges, "u", "v").first().n_triangles == 4


def test_triangle_count_no_triangles(spark):
    # a path graph has none
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "u int, v int"
    )
    assert triangle_count(edges, "u", "v").first().n_triangles == 0


def test_reservoir_merge_deterministic_equals_bottomk(spark, sf_dir):
    """reservoir_sample_deterministic is partitioning-independent and
    equal to plain bottom-k on the same salted hash: the per-task
    reservoirs (bounded O(k) state) plus the merge reproduce exactly
    the k globally-smallest priorities regardless of layout."""
    from etl_building_inspector_spark.operators.sampling import (
        reservoir_sample_deterministic,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    a = {
        r.doc_id
        for r in reservoir_sample_deterministic(docs, "doc_id", 25, "t").collect()
    }
    b = {
        r.doc_id
        for r in reservoir_sample_deterministic(
            docs.repartition(17), "doc_id", 25, "t"
        ).collect()
    }
    c = {r.doc_id for r in bottom_k_sample(docs, "doc_id", 25, salt="t").collect()}
    assert a == b == c and len(a) == 25
