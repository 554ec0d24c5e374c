"""Tests for the cross-set curation batch (queries_llm6): embedding
decontamination recall + plan shape, OOV-rate invariants, incremental
minhash fanout bounds, and the stream-static dim join's broadcast."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.similarity import _cosine
from etl_building_inspector_spark.plans import queries_llm6 as m
from etl_building_inspector_spark.plans.registry import QUERIES
from etl_building_inspector_spark.sources.tables import load_table


def _executed(spark, name, sf_dir):
    return (
        QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


def test_decon_embedding_recall_vs_bruteforce(spark, sf_dir):
    """LSH-flagged contamination must recover >= 80% of the exact
    (brute-force cosine) contaminated set, and every flagged pair must
    itself pass the exact threshold (no false positives by
    construction -- the confirm step IS the exact cosine)."""
    flagged = m.decontaminate_embedding_lsh(spark, sf_dir)
    got = {r.corpus_id for r in flagged.collect()}

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    bench = base.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("b_emb")
    )
    planted = base.where(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1 + 0.01 * ((i % 5) - 2))
        ).alias("embedding"),
    )
    corpus = base.where(F.col("vec_id") % 20 != 0).unionByName(planted)
    allpairs = corpus.crossJoin(bench)
    exact = {
        r.vec_id
        for r in allpairs.withColumn(
            "cosine", _cosine(F.col("embedding"), F.col("b_emb"))
        )
        .where(F.col("cosine") >= m.DECON_EMB_THRESHOLD)
        .select("vec_id")
        .distinct()
        .collect()
    }
    assert exact, "fixture must plant contamination"
    assert got <= exact  # exact-confirm step forbids false positives
    assert len(got) >= 0.8 * len(exact), (len(got), len(exact))


def test_decon_embedding_bench_side_broadcast(spark, sf_dir):
    plan = _executed(spark, "decontaminate_embedding_lsh", sf_dir)
    # candidate join must be broadcast-hash on (table, bucket) -- the
    # benchmark side is small by definition; never an all-pairs loop
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_oov_rate_invariants(spark, sf_dir):
    rows = m.text_oov_bigram_rate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_oov <= r.n_bigrams
        assert 0 <= r.oov_ppm <= 1_000_000


def test_oov_vocab_is_broadcast(spark, sf_dir):
    plan = _executed(spark, "text_oov_bigram_rate", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_incremental_minhash_fanout_bounded(spark, sf_dir):
    rows = m.dedup_incremental_minhash(spark, sf_dir).collect()
    assert rows, "fixture slice must produce collisions"
    for r in rows:
        # index side pre-aggregated: at most one joined row per band
        assert 1 <= r.hit_bands <= m._INC_BANDS
        assert r.doc_id % 10 == 7  # only NEW docs are flagged
        assert r.first_match_id % 10 != 7  # matches come from the index


def test_incremental_minhash_agrees_with_pair_enumeration(spark, sf_dir):
    """A new doc is flagged iff the full pair enumeration (no cap)
    finds at least one (new, index) candidate pair for it."""
    from etl_building_inspector_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", k=8, bands=4, shingle_n=3)
    crossed = pairs.where(
        ((F.col("id_a") % 10 == 7) & (F.col("id_b") % 10 != 7))
        | ((F.col("id_a") % 10 != 7) & (F.col("id_b") % 10 == 7))
    )
    expect = set()
    for r in crossed.collect():
        expect.add(r.id_a if r.id_a % 10 == 7 else r.id_b)
    got = {r.doc_id for r in m.dedup_incremental_minhash(spark, sf_dir).collect()}
    assert got == expect


def test_streaming_dim_join_matches_batch(spark, sf_dir):
    stream_rows = {
        (r.segment, r.n_events, r.value_e4)
        for r in QUERIES["streaming_dim_join_agg"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    batch = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 10000, 0).cast("long"))
            .cast("long")
            .alias("value_e4"),
        )
    )
    batch_rows = {
        (r.segment, r.n_events, r.value_e4) for r in batch.collect()
    }
    assert stream_rows == batch_rows
