"""Skew-mitigation operators: the salted rewrites must be result-
invisible (equal to the plain plan) while actually spreading keys
across salt values."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.skew import (
    _derived_salt,
    salted_join,
    salted_twophase_agg,
)


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(200)],
        "row_id long, k string",
    )
    small = spark.createDataFrame(
        [("hot", 1), ("cold", 2), ("absent", 3)], "k string, v long"
    )
    salted = salted_join(big, small, "k", "row_id", n_salts=4)
    plain = big.join(small, "k")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    assert "_salt" not in salted.columns


def test_salted_agg_equals_plain_agg(spark):
    df = spark.createDataFrame(
        [(i, "t%d" % (i % 3), i * 10) for i in range(300)],
        "row_id long, k string, x long",
    )
    salted = salted_twophase_agg(
        df,
        "k",
        "row_id",
        {
            "n": (F.count("*"), "sum"),
            "sx": (F.sum("x"), "sum"),
            "mn": (F.min("x"), "min"),
            "mx": (F.max("x"), "max"),
        },
        n_salts=8,
    )
    plain = df.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_derived_salt_spreads_and_is_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "row_id long")
    salts = df.select(
        _derived_salt(F.col("row_id"), 8).alias("s")
    )
    hist = {r.s: r.n for r in salts.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert set(hist) == set(range(8))  # every salt value used
    assert max(hist.values()) < 1000 * 0.25  # no degenerate pile-up
    # deterministic: same inputs -> same salts on recompute
    again = {r.s: r.n for r in salts.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert hist == again
