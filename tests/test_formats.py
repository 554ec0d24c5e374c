"""Source/sink breadth: parquet schema evolution, Python UDTF rows and
the native XML source."""

from __future__ import annotations


def test_parquet_schema_evolution_mergeschema(spark, tmp_path_factory):
    """Schema evolution on a landing dir: batch 2 adds a column; a
    mergeSchema read presents the union schema with nulls for the old
    files -- the upgrade path when a source adds fields mid-stream."""
    d = str(tmp_path_factory.mktemp("evolve"))
    spark.createDataFrame(
        [(1, "a")], "id long, name string"
    ).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(2, "b", 99)], "id long, name string, score long"
    ).write.mode("append").parquet(d)
    df = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: 99}


def test_python_udtf_chunk_rows(spark):
    """Spark 4 Python UDTF surface: a table function exploding one
    document row into fixed-width chunk rows (the UDTF twin of
    text_chunk_windows' builtin-only fan-out). Lateral-joined via SQL;
    Arrow-batched by default config where available."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    @udtf(
        returnType=StructType(
            [
                StructField("chunk_no", IntegerType()),
                StructField("chunk", StringType()),
            ]
        )
    )
    class ChunkText:
        def eval(self, text: str, width: int):
            for i in range(0, len(text), width):
                yield i // width, text[i : i + width]

    spark.udtf.register("chunk_text", ChunkText)
    spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xyz")], "doc_id long, text string"
    ).createOrReplaceTempView("udtf_docs")
    out = spark.sql(
        "SELECT d.doc_id, c.chunk_no, c.chunk "
        "FROM udtf_docs d, LATERAL chunk_text(d.text, 4) c"
    ).collect()
    got = {(r.doc_id, r.chunk_no): r.chunk for r in out}
    assert got == {
        (1, 0): "abcd",
        (1, 1): "efgh",
        (1, 2): "ij",
        (2, 0): "xyz",
    }


def test_xml_native_roundtrip(spark, tmp_path_factory):
    """Spark 4 ships a native XML source: write the nation dim as XML,
    read it back with rowTag + explicit schema, values survive -- the
    interchange path for XML-bearing upstreams (no external package)."""
    d = str(tmp_path_factory.mktemp("xml")) + "/nation_xml"
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    nation.write.format("xml").option("rowTag", "nation").mode(
        "overwrite"
    ).save(d)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(nation.schema)
        .load(d)
    )
    assert sorted(r["n_nationkey"] for r in back.collect()) == sorted(
        r["n_nationkey"] for r in nation.collect()
    )
    assert back.count() == nation.count()
