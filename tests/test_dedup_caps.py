"""Hot-key caps (VERDICT r01 item 3): a bucket/shingle shared by w
boilerplate documents otherwise yields w^2/2 join rows -- the one shape
that would not survive 100 TB. The caps drop over-wide buckets /
over-frequent shingles BEFORE the self-join, bounding the worst key at
cap^2/2 while keeping every genuine (rare-key) near-dup pair.
"""

from __future__ import annotations

import pytest

from etl_building_inspector_spark.operators.dedup import (
    minhash_band_index,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_hamming_pairs,
)

BOILERPLATE = (
    "this content is provided as is without warranty of any kind either "
    "express or implied including but not limited to the implied warranties "
    "of merchantability and fitness for a particular purpose"
)

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_B = "the quick brown fox jumps over the lazy dog near the river bank"  # near-dup of A
DOC_C = "completely unrelated text about spark physical plans and shuffle exchanges"


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    rows = [(i, BOILERPLATE) for i in range(30)]
    rows += [(100, DOC_A), (101, DOC_B), (200, DOC_C)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_cap_bounds_hot_buckets(spark, boilerplate_docs):
    uncapped = minhash_lsh_pairs(boilerplate_docs, "text", "doc_id").collect()
    capped = minhash_lsh_pairs(
        boilerplate_docs, "text", "doc_id", max_bucket_width=5
    ).collect()
    # 30 identical docs collide in every band: 30*29/2 pairs uncapped
    assert len(uncapped) >= 435
    capped_pairs = {(r.id_a, r.id_b) for r in capped}
    # the boilerplate blowup is gone...
    assert len(capped_pairs) < 435
    assert not any(a < 30 and b < 30 for a, b in capped_pairs)
    # ...but the genuine rare-bucket near-dup pair survives
    assert (100, 101) in capped_pairs


def test_minhash_band_index_string_and_long_ids_agree(spark):
    """The batch index takes the min over ids cast to long, like the
    streaming refresh: duplicates "9" and "10" key first_match_id 9
    whether the ids are strings or longs."""
    rows = [(9, DOC_A), (10, DOC_A), (200, DOC_C)]
    as_long = spark.createDataFrame(rows, "doc_id long, text string")
    as_str = spark.createDataFrame(
        [(str(i), t) for i, t in rows], "doc_id string, text string"
    )
    by_long = sorted(map(tuple, minhash_band_index(as_long, "text", "doc_id").collect()))
    by_str = sorted(map(tuple, minhash_band_index(as_str, "text", "doc_id").collect()))
    assert by_str == by_long
    assert {r[3] for r in by_long} == {9, 200}


def test_jaccard_df_cap_bounds_hot_shingles(spark, boilerplate_docs):
    uncapped = ngram_jaccard_pairs(
        boilerplate_docs, "text", "doc_id", threshold=0.5
    ).collect()
    capped = ngram_jaccard_pairs(
        boilerplate_docs, "text", "doc_id", threshold=0.5, max_doc_freq=5
    ).collect()
    assert len(uncapped) >= 435
    capped_pairs = {(r.id_a, r.id_b) for r in capped}
    assert not any(a < 30 and b < 30 for a, b in capped_pairs)
    assert (100, 101) in capped_pairs


def test_simhash_hamming_cap_and_exact_recall(spark, boilerplate_docs):
    """Banded hamming join: identical boilerplate (hamming 0) floods
    every band bucket; the width cap removes it while the genuine
    near-dup pair survives in a rare bucket. Also pins the pigeonhole
    guarantee: uncapped pairs == brute-force pairs at the threshold."""
    from pyspark.sql import functions as F

    from etl_building_inspector_spark.operators.dedup import simhash

    uncapped = simhash_hamming_pairs(
        boilerplate_docs, "text", "doc_id", bits=32, bands=4, max_hamming=3
    ).collect()
    # brute force over the same signatures
    sh = simhash(boilerplate_docs, "text", bits=32).select("doc_id", "simhash")
    a, b = sh.alias("a"), sh.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    )
    assert {(r.id_a, r.id_b, r.hamming) for r in uncapped} == {
        (r.id_a, r.id_b, r.hamming) for r in brute
    }
    assert len(uncapped) >= 435  # 30 identical docs, hamming 0
    capped = simhash_hamming_pairs(
        boilerplate_docs, "text", "doc_id", bits=32, bands=4,
        max_hamming=3, max_bucket_width=5,
    ).collect()
    capped_pairs = {(r.id_a, r.id_b) for r in capped}
    assert not any(a_ < 30 and b_ < 30 for a_, b_ in capped_pairs)
    assert (100, 101) in capped_pairs


def test_embedding_bucket_cap(spark):
    """Same cap on the embedding LSH candidate generator: a hot bucket
    of identical vectors must not explode the candidate join."""
    from etl_building_inspector_spark.operators.similarity import (
        lsh_candidate_pairs,
    )

    hot = [(i, [1.0] * 64) for i in range(30)]  # identical -> same buckets
    rare = [(100, [float(j % 5) - 2.0 for j in range(64)]),
            (101, [(float(j % 5) - 2.0) * 1.01 for j in range(64)])]
    df = spark.createDataFrame(hot + rare, "vec_id long, embedding array<double>")
    capped = lsh_candidate_pairs(
        df, n_tables=4, planes_per_table=6, max_bucket_width=5
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    assert not any(a < 30 and b < 30 for a, b in pairs)
    assert (100, 101) in pairs


W_HOT = 6


def _minhash_hot_pairs(spark, cap):
    df = spark.createDataFrame(
        [(i, BOILERPLATE) for i in range(W_HOT)], "doc_id long, text string"
    )
    return minhash_lsh_pairs(df, "text", "doc_id", max_bucket_width=cap)


def _simhash_hot_pairs(spark, cap):
    df = spark.createDataFrame(
        [(i, BOILERPLATE) for i in range(W_HOT)], "doc_id long, text string"
    )
    return simhash_hamming_pairs(
        df, "text", "doc_id", bits=32, bands=4, max_hamming=3,
        max_bucket_width=cap,
    )


def _embedding_hot_pairs(spark, cap):
    from etl_building_inspector_spark.operators.similarity import (
        lsh_candidate_pairs,
    )

    df = spark.createDataFrame(
        [(i, [1.0] * 64) for i in range(W_HOT)],
        "vec_id long, embedding array<double>",
    )
    return lsh_candidate_pairs(
        df, n_tables=4, planes_per_table=6, max_bucket_width=cap
    )


@pytest.mark.parametrize(
    "pairs_of", [_minhash_hot_pairs, _simhash_hot_pairs, _embedding_hot_pairs]
)
def test_bucket_cap_boundary(spark, pairs_of):
    """W_HOT identical rows share one bucket in every band/table: a cap
    equal to the bucket width keeps all W_HOT*(W_HOT-1)/2 pairs, a cap
    one below drops them all."""
    every = {(a, b) for a in range(W_HOT) for b in range(a + 1, W_HOT)}
    at_cap = {(r.id_a, r.id_b) for r in pairs_of(spark, W_HOT).collect()}
    assert at_cap == every
    assert pairs_of(spark, W_HOT - 1).collect() == []


# ---------------------------------------------------------------------------
# r8 derived-soak regression: the five pair-graph CONSUMER queries
# (connected components x2, keep-representatives, BFS, SSSP) must
# derive their edges from the CAPPED construction -- their DuckDB
# twins all build pairs via the capped _minhash_lsh_sql(). An
# uncapped consumer is value-identical while no bucket exceeds the
# cap (true at sf <= 0.1) and silently over-merges once one does
# (caught by the x3 replication fixture at r8). This test builds a
# corpus where the cap BINDS and asserts the registered query's
# component map never links two docs that are connected only through
# a hot (over-cap) bucket.
# ---------------------------------------------------------------------------


def test_cluster_assign_queries_use_capped_pair_graph(spark, tmp_path):
    import pandas as pd

    from etl_building_inspector_spark.plans.queries_llm import (
        MINHASH_BUCKET_CAP,
    )
    from etl_building_inspector_spark.plans.registry import QUERIES

    # corpus: cap+5 boilerplate copies (one hot bucket in every band,
    # width > MINHASH_BUCKET_CAP) + the rare near-dup pair. doc_ids
    # chosen % 5 != 0 so _docs_with_dups plants no extra mutants.
    boiler_ids = [5 * i + 1 for i in range(1000, 1000 + MINHASH_BUCKET_CAP + 5)]
    rows = [(i, BOILERPLATE) for i in boiler_ids]
    rows += [(101, DOC_A), (102, DOC_B)]
    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs["lang"] = "en"
    docs["source"] = "t"
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    sf_dir = str(tmp_path)
    docs.to_parquet(f"{sf_dir}/documents.parquet", index=False)

    for name in ("dedup_cluster_assign", "dedup_cluster_assign_lss"):
        comp = {
            r.doc_id: r.component
            for r in QUERIES[name](spark, sf_dir).collect()
        }
        boiler = [comp[i] for i in boiler_ids if i in comp]
        # hot-bucket edges are dropped, so no boilerplate doc may be
        # assigned to any component at all (they appear in no pair)
        assert not boiler, f"{name}: hot-bucket edges leaked: {boiler}"
        # the genuine rare-bucket near-dup pair still clusters
        assert comp.get(101) == 101 and comp.get(102) == 101, name
