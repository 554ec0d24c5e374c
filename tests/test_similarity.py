"""Similarity-search correctness beyond the oracle: LSH recall vs the
exact brute force, and numpy cross-check of the cosine math."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from etl_building_inspector_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_bruteforce_matches_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    got = cosine_topk_bruteforce(emb, queries, k=3).collect()

    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    by_query = {}
    for qi in range(len(ids)):
        if ids[qi] >= 5:
            continue
        sims = mat @ mat[qi] / (norms * norms[qi])
        order = sorted(
            [(s, i) for s, i in zip(sims, ids) if i != ids[qi]],
            key=lambda t: (-t[0], t[1]),
        )
        by_query[ids[qi]] = [i for _, i in order[:3]]

    got_by_query = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        got_by_query.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got_by_query == by_query


def test_lsh_recall_reasonable(spark, emb):
    """LSH is approximate; with the registered geometry (8 tables x 3
    planes -- see SCALING.md recall curve, measured 0.90 at sf0.01) it
    must find >= 0.8 of the true top-5 (and every result must be a
    genuine same-bucket cosine, which the shared oracle query already
    checks at the value level)."""
    from etl_building_inspector_spark.plans.queries_llm import (
        ANN_LSH_PLANES,
        ANN_LSH_TABLES,
    )

    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = cosine_topk_lsh(
        emb,
        queries,
        k=5,
        n_tables=ANN_LSH_TABLES,
        planes_per_table=ANN_LSH_PLANES,
        dim=64,
    ).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.8
    # approx similarities are genuine cosines (subset sanity)
    exact_sims = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk_bruteforce(emb, queries, k=500).collect()
    }
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert r.cosine == pytest.approx(
                exact_sims[(r.query_id, r.neighbor_id)], abs=1e-12
            )


def test_neardup_lsh_vs_triangle_oracle(spark, emb, sf_dir):
    """The scale-safe LSH near-dup must recover (almost) every pair the
    exact all-pairs triangle finds at the same threshold, and never
    invent a pair (candidates are scored with the exact cosine, so
    precision is 1.0 by construction)."""
    from etl_building_inspector_spark.operators.similarity import (
        embedding_neardup_lsh,
    )
    from etl_building_inspector_spark.plans.queries_llm import (
        NEARDUP_BUCKET_CAP,
        NEARDUP_LSH_PLANES,
        NEARDUP_LSH_TABLES,
        NEARDUP_LSH_THRESHOLD,
        _emb_with_dups,
    )

    fixture = _emb_with_dups(spark, sf_dir)
    got = embedding_neardup_lsh(
        fixture,
        threshold=NEARDUP_LSH_THRESHOLD,
        n_tables=NEARDUP_LSH_TABLES,
        planes_per_table=NEARDUP_LSH_PLANES,
        max_bucket_width=NEARDUP_BUCKET_CAP,
    ).collect()
    got_pairs = {(r.id_a, r.id_b) for r in got}

    # exact triangle via numpy (the oracle of the oracle)
    pdf = fixture.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    want_pairs = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and sims[i, j] >= NEARDUP_LSH_THRESHOLD:
                want_pairs.add((ids[i], ids[j]))
    assert want_pairs, "fixture must contain synthesized near-dups"
    assert got_pairs <= want_pairs  # precision 1.0: exact re-scoring
    recall = len(got_pairs) / len(want_pairs)
    assert recall >= 0.9


def test_neardup_adaptive_m_matches_oracle(spark):
    """The registered near-dup query auto-sizes m from the corpus, and
    since VERDICT r8 #2 its DuckDB oracle is adaptive too: the twin
    derives m from count(*) and regenerates the hyperplanes from the
    same md5 stream in pure SQL (_adaptive_planes_cte). Pin (a) the
    SQL m-derivation against adaptive_planes_per_table across the
    clamp range, and (b) the SQL-regenerated plane VECTORS bit-exact
    against lsh_planes() at several adaptive m values -- together
    these make the twin's candidate buckets identical to the engine's
    at every corpus size, which is what retired the static-m soak
    exemption (the end-to-end engine-vs-oracle parity itself runs in
    test_queries_oracle.py at sf0.001 and in tools/oracle_check.py at
    sf0.01/sf0.1/derived soaks)."""
    import duckdb

    from etl_building_inspector_spark.operators.similarity import (
        adaptive_planes_per_table,
        lsh_planes,
    )
    from etl_building_inspector_spark.plans.queries_llm import (
        NEARDUP_LSH_TABLES,
        _adaptive_planes_cte,
    )

    con = duckdb.connect()
    # (a) m derivation agrees across the clamp range incl. boundaries
    for n in [2, 63, 64, 65, 600, 720, 1024, 1025, 2400, 7200, 16384, 16385, 10**6]:
        sql_m = con.execute(
            f"WITH emb AS (SELECT * FROM generate_series(1, {n})), "
            f"{_adaptive_planes_cte(1)} SELECT m FROM params"
        ).fetchone()[0]
        assert sql_m == adaptive_planes_per_table(n), f"n={n}"
    # (b) plane vectors bit-exact at m=5 (sub-floor clamp region), the
    # driver scale's m=8, and the sf0.1 scale's m=10
    for n, m in [(72, 5), (720, 8), (2400, 10)]:
        assert adaptive_planes_per_table(n) == m
        rows = con.execute(
            f"WITH emb AS (SELECT * FROM generate_series(1, {n})), "
            f"{_adaptive_planes_cte(NEARDUP_LSH_TABLES)} "
            "SELECT tbl, bit, vec FROM planes ORDER BY tbl, bit"
        ).fetchall()
        want = {(t, b): v for t, b, v in lsh_planes(NEARDUP_LSH_TABLES, m, 64)}
        assert len(rows) == len(want) == NEARDUP_LSH_TABLES * m
        for t, b, vec in rows:
            assert list(vec) == list(want[(t, b)]), f"plane ({t},{b}) at m={m}"


def test_ivf_recall_reasonable(spark, emb):
    """IVF with 4/16 probes must beat random cell selection by a wide
    margin (random would give ~25% recall; nearest-centroid probing on
    clustered data does much better)."""
    from etl_building_inspector_spark.operators.similarity import cosine_topk_ivf

    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = cosine_topk_ivf(
        emb, queries, k=5, n_centroids=16, n_probe=4
    ).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5


def test_lsh_buckets_match_duckdb_twin(spark, emb, sf_dir):
    """The Arrow bucket kernel must emit EXACTLY the (id, table, bucket)
    rows the DuckDB twin computes from the same seeds
    (queries_llm._planes_cte + _buckets_cte, the SQL the LSH oracles
    are built from): same IEEE fold order over dims, float32 storage
    widened exactly. Set equality in both directions."""
    import duckdb

    from etl_building_inspector_spark.operators.similarity import lsh_buckets
    from etl_building_inspector_spark.plans.queries_llm import (
        _buckets_cte,
        _planes_cte,
    )

    got = {
        (r.vec_id, r.table, r.bucket)
        for r in lsh_buckets(emb, "embedding", 6, 8)
        .select("vec_id", "table", "bucket")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = set(
        con.execute(
            f"WITH {_planes_cte(6, 8)}, {_buckets_cte()} "
            "SELECT vid, tbl, bucket FROM buckets"
        ).fetchall()
    )
    assert len(want) == 6 * emb.count()
    assert got - want == set() and want - got == set()


def _fold_order_embedding(plane: list[float]) -> list[float]:
    """An embedding whose dot with `plane` is exactly 0.0 when its
    products are summed in dimension order, and 1.0 (or 2.0) under any
    other grouping. Three dims carry products 2^53, then 1 (its exact
    value just above 1), then -2^53: in order, 2^53 + 1 ties to even
    and drops the 1, so the dot is 0.0. Any other grouping keeps the 1
    (1 - 2^53 is exact), and a fused multiply-add rounds 2^53 + 1.x up
    to 2^53 + 2. All other dims are 0."""
    import itertools
    from fractions import Fraction

    def factor(target: float, p: float, above: bool = False) -> float | None:
        # x near target / p with x * p rounding to exactly target
        x = target / p
        for x in [x, *(np.nextafter(x, d * np.inf) for d in (-1, 1))]:
            x = float(x)
            if x * p == target and (not above or Fraction(x) * Fraction(p) > target):
                return x
        return None

    big = 2.0**53
    for i, j, k in itertools.permutations(range(len(plane)), 3):
        xs = factor(big, plane[i]), factor(1.0, plane[j], True), factor(-big, plane[k])
        if None not in xs:
            v = [0.0] * len(plane)
            v[i], v[j], v[k] = xs
            return v
    raise AssertionError("no dims give the fold-order products")


def test_lsh_buckets_keep_the_dimension_fold_order(spark, tmp_path):
    """The bucket kernel must sum each plane dot in dimension order, as
    the DuckDB twin's list_reduce does, or it loses bit-exactness on a
    vector that lies on a hyperplane. The one embedding here does, for
    table 0's first plane (see _fold_order_embedding); it is the only
    row, so the kernel's Arrow batch holds it alone."""
    import duckdb

    from etl_building_inspector_spark.operators.similarity import (
        lsh_buckets,
        lsh_planes,
    )
    from etl_building_inspector_spark.plans.queries_llm import (
        _buckets_cte,
        _planes_cte,
    )

    plane = lsh_planes(6, 8, 64)[0][2]
    v = _fold_order_embedding(plane)
    terms = [x * p for x, p in zip(v, plane) if x]
    assert sum(terms) == 0.0 and terms[0] + (terms[1] + terms[2]) == 1.0

    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [(0, v)], "vec_id bigint, embedding array<double>"
    ).write.parquet(path)
    got = {
        (r.vec_id, r.table, r.bucket)
        for r in lsh_buckets(spark.read.parquet(path), "embedding", 6, 8)
        .select("vec_id", "table", "bucket")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = set(
        con.execute(
            f"WITH {_planes_cte(6, 8)}, {_buckets_cte()} "
            "SELECT vid, tbl, bucket FROM buckets"
        ).fetchall()
    )
    # the on-plane dot is 0.0, not > 0: table 0's first bit is off
    assert [b % 2 for _, t, b in want if t == 0] == [0]
    assert got == want


def test_arrow_cosine_bit_identical_to_hof(spark, sf_dir):
    """cosine_arrow must match the HOF expression bit-for-bit on
    DOUBLE-typed synthesized vectors too (the kernel widens, never
    narrows — forcing float32 would round these)."""
    from etl_building_inspector_spark.operators.similarity import (
        _cosine,
        cosine_arrow,
    )
    from etl_building_inspector_spark.plans.queries_llm import _emb_with_dups

    src = _emb_with_dups(spark, sf_dir).limit(200)
    a = src.alias("a").select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
    )
    b = src.alias("b").select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, F.col("ia") + 1 == F.col("ib"))
    hof = pairs.withColumn("cosine", _cosine(F.col("va"), F.col("vb"))).select(
        "ia", "ib", "cosine"
    )
    arw = cosine_arrow(pairs, "va", "vb").select("ia", "ib", "cosine")
    assert hof.exceptAll(arw).count() == 0 and arw.exceptAll(hof).count() == 0


def test_ivf_sampled_recall_reasonable(spark, emb):
    """Sampled-centroid IVF (the oracle-backed variant) must keep
    useful recall vs brute force at (16 centroids, 6 probes)."""
    from etl_building_inspector_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf_sampled,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = cosine_topk_ivf_sampled(
        emb, queries, k=5, n_centroids=16, n_probe=6
    ).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5


def test_ivf_pq_consistent_with_pq_adc(spark, sf_dir):
    """IVF-PQ shares the PQ codebooks with ann_cosine_pq_adc: any
    (query, neighbor) pair surfaced by BOTH must carry the IDENTICAL
    adc_cosine (same reconstruction, same fold order), and restricting
    candidates to 6/16 probed cells should retain a solid share of the
    full-corpus ADC top-k (floor well under the measured 0.6 on the
    random fixture -- random uniform vectors are the worst case)."""
    from etl_building_inspector_spark.plans.registry import QUERIES

    pq = {
        (r.query_id, r.neighbor_id): r.adc_cosine
        for r in QUERIES["ann_cosine_pq_adc"](spark, sf_dir).collect()
    }
    ivfpq = {
        (r.query_id, r.neighbor_id): r.adc_cosine
        for r in QUERIES["ann_cosine_ivf_pq"](spark, sf_dir).collect()
    }
    common = set(pq) & set(ivfpq)
    assert common, "no overlap at all between IVF-PQ and full ADC top-k"
    for pair in common:
        assert pq[pair] == ivfpq[pair], f"ADC value drift on {pair}"
    assert len(common) / len(pq) >= 0.4
