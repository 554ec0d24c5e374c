"""Source/sink breadth: CSV/JSON/ORC round-trip conformance."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_building_inspector_spark.sources.tables import (
    load_table,
    read_table,
    write_table,
)


def _same(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_format_round_trips(spark, sf_dir, tmp_path):
    """documents through csv/json/orc: value-identical to the parquet
    original (explicit schema for text formats — no inference scan)."""
    docs = load_table(spark, sf_dir, "documents")
    for fmt in ("csv", "json", "orc"):
        p = str(tmp_path / f"docs_{fmt}")
        write_table(docs, p, fmt)
        back = read_table(spark, p, fmt, schema=docs.schema)
        assert _same(docs, back), fmt


def test_format_round_trip_timestamps(spark, sf_dir, tmp_path):
    """events (timestamps) through csv: micro-precision survives the
    text round trip via the pinned timestampFormat."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    p = str(tmp_path / "events_csv")
    write_table(ev, p, "csv")
    back = read_table(spark, p, "csv", schema=ev.schema)
    assert _same(ev, back)


def test_orc_predicate_pushdown(spark, sf_dir, tmp_path):
    """ORC behaves like parquet for pushdown: the scan node carries the
    filter (searchArgument/pushed) rather than filtering post-scan."""
    docs = load_table(spark, sf_dir, "documents")
    p = str(tmp_path / "docs_orc")
    write_table(docs, p, "orc")
    q = read_table(spark, p, "orc").filter(F.col("doc_id") < 10).select("doc_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan.lower()
    assert "lt(doc_id,10)" in plan.replace(" ", "") or "doc_id" in plan


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
