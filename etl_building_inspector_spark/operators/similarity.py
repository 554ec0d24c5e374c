"""Approximate-nearest-neighbor similarity search over embedding
columns (array<float>).

Baseline: brute-force cosine top-k -- exact, a broadcast nested-loop
join where only the query side is broadcast. The corpus is never
shuffled and never collected, so it scales to arbitrarily large corpora
(cost is one full scan per query batch).

Scale paths, one implementation of each stage:

* LSH bucketing via random hyperplanes (SimHash for vectors): the
  corpus is hashed once by ONE Arrow kernel (lsh_buckets), queries
  probe only their buckets, and LSH candidates are scored by the Arrow
  cosine kernel (cosine_arrow). Hyperplanes are derived
  deterministically from md5, so results are reproducible and
  oracle-checkable.
* IVF and SemDeDup cluster on md5(salt:id)-sampled centroids
  (_sampled_assign); PQ codebooks come from the same kind of sample
  (sampling.bottom_k_sample).
* Every ranked output goes through one per-query top-k tail (_topk).

Everything else scores with _cosine, the JVM expression that
cosine_arrow reproduces bit for bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._cache import track_persist
from ._parallel import fan_out_scan
from .dedup import _bucket_pairs
from .sampling import bottom_k_sample, sample_order

# Adaptive-m clamp (adaptive_planes_per_table): target bucket width,
# floor and cap of the planes-per-table count. The DuckDB twin's SQL
# (queries_llm._adaptive_planes_cte) is generated from these values.
LSH_TARGET_BUCKET_WIDTH = 4
LSH_PLANES_FLOOR = 4
LSH_PLANES_CAP = 16

# md5(salt:id) sampling salts of the sampled IVF/SemDeDup centroids and
# of the PQ codebooks; the DuckDB twins in plans/ hash the same prefixes.
CENT_SALT = "cent"
PQ_SALT = "pq"


def _dot(a: Column, b: Column) -> Column:
    """JVM-native dot product over array columns (no Python): zip_with
    multiply + aggregate sum, fused by codegen. Cast to double FIRST so
    Spark and the float32-reading oracle accumulate identically."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _cosine(a: Column, b: Column) -> Column:
    """JVM-native cosine of two array columns, dot / (norm * norm): the
    one cosine expression of the HOF paths (cosine_arrow is its
    bit-identical Python kernel)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_arrow(df: DataFrame, a: str, b: str) -> DataFrame:
    """Arrow-vectorized cosine between two array columns — bit-exact
    twin of the HOF expression dot/(sqrt(na)*sqrt(nb)) and of the
    DuckDB list_reduce oracle: the kernel accumulates over DIMENSIONS
    (same left-to-right IEEE fold as F.aggregate), np.sqrt is
    IEEE-correctly-rounded hardware sqrt, and the final multiply/divide
    mirror the expression order. Pinned by tests/test_similarity.py::
    test_arrow_cosine_bit_identical_to_hof.

    Why: Spark runs higher-order-function lambdas interpreted — three
    64-element folds per row. On candidate-scoring joins (10^5-10^8
    rows at scale) the Arrow kernel does the same arithmetic as ~3*dim
    vectorized ops per batch. Narrow projection either way."""
    @F.pandas_udf("double")
    def _cos(va, vb):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        if len(va) == 0:
            return pd.Series([], dtype="float64")
        # widen to float64, never narrow (see lsh_buckets)
        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        dot = np.zeros(len(A))
        na = np.zeros(len(A))
        nb = np.zeros(len(A))
        for i in range(A.shape[1]):  # sequential over dims = HOF fold order
            dot += A[:, i] * B[:, i]
            na += A[:, i] * A[:, i]
            nb += B[:, i] * B[:, i]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return df.withColumn("cosine", _cos(F.col(a), F.col(b)))


def _topk(sims: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The per-query ranking tail of every top-k search here: rank each
    query's (query_id, neighbor_id, score) rows by score desc, then
    neighbor_id asc (a total order, so ties are engine-portable), and
    keep rank <= k. Returns (query_id, neighbor_id, score, rank)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Plan: broadcast(queries) cross-join corpus -> cosine (codegen'd
    column math) -> per-query top-k via row_number window partitioned
    by query id. The window shuffles only (n_queries x n_corpus) slim
    rows of (qid, cid, sim); at scale replace with a per-partition
    top-k pre-reduce (mapInPandas heap) before the window if the
    candidate set explodes.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    # NOT fan_out_scan'd (A/B'd 0.93x): the embeddings table is narrow
    # enough that the repartition exchange cost exceeded the
    # parallelism win; the window shuffle right after already spreads
    # the ranking work
    joined = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).crossJoin(F.broadcast(q))
    sim = joined.select(
        "query_id",
        "neighbor_id",
        _cosine(F.col("__qvec"), F.col("__cvec")).alias("cosine"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _topk(sim, k)


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes
    (reproducible across engines/runs; no RNG state)."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        for off in range(0, 16, 4):
            if len(vals) >= dim:
                break
            n = int.from_bytes(h[off : off + 4], "big", signed=True)
            vals.append(n / 2**31)
        i += 1
    return vals


def lsh_buckets(
    df: DataFrame,
    vec_col: str,
    n_tables: int = 6,
    planes_per_table: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: one (table, bucket) row per
    input row per table. Standard L-tables-of-m-planes construction --
    per-table collision prob is p^m (p = 1 - angle/pi), union over L
    tables gives recall 1-(1-p^m)^L.

    All L*m plane dots for a batch of vectors run in one numpy pass
    inside a pandas_udf. BIT-EXACT with the DuckDB oracle
    (queries_llm._planes_cte + _buckets_cte) by construction: the
    accumulator loops over DIMENSIONS (not planes/rows), so each scalar
    dot is the same left-to-right IEEE sequence 0.0 + x0*p0 + x1*p1 +
    ... that list_reduce (and F.aggregate) runs -- numpy elementwise
    ops are per-element IEEE, and float32->float64 widening is exact.
    No BLAS dot (pairwise/FMA reassociation) is involved. Pinned by
    tests/test_similarity.py::test_lsh_buckets_match_duckdb_twin.

    Why a kernel: as a JVM expression the dots are L*m*dim literal
    multiply-adds, interpreted per element and compiled into one
    whole-stage-codegen expression whose compile time (~3 s per fresh
    plan, data-independent) dominated the ANN query; here the same
    arithmetic is dim vectorized multiply-adds per Arrow batch. Scale
    shape: a narrow projection, the explode to (table, bucket) rows
    happens after the kernel.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    planes = lsh_planes(n_tables, planes_per_table, dim)
    plane_rows = [vec for _t, _bit, vec in planes]  # t-major, p ascending
    bit_weights = [bit for _t, bit, _vec in planes]

    # NOT fan_out_scan'd (A/B'd 0.68x):
    # the plane-dot pass over the embeddings fixture is cheap relative
    # to the exchange it would add; the bucket self-joins downstream
    # re-shuffle anyway
    @F.pandas_udf(ArrayType(IntegerType()))
    def _buckets_of(v):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        pt = np.asarray(plane_rows, dtype=np.float64).T  # (dim, K)
        w = np.asarray(bit_weights, dtype=np.int64)
        # widen to float64, NEVER narrow: float32 storage widens
        # exactly (same as Spark's cast('double')); synthesized
        # double-typed vectors pass through untouched. Forcing float32
        # first would silently round double inputs the oracle keeps.
        e = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        acc = np.zeros((e.shape[0], pt.shape[1]))
        for i in range(pt.shape[0]):  # sequential over dims = SQL fold order
            acc += e[:, i : i + 1] * pt[i : i + 1, :]
        buckets = ((acc > 0) * w[None, :]).reshape(
            e.shape[0], n_tables, planes_per_table
        ).sum(axis=2).astype(np.int32)
        return pd.Series(list(buckets))

    return (
        df.withColumn("__b", _buckets_of(F.col(vec_col)))
        .select("*", F.posexplode("__b").alias("table", "bucket"))
        .drop("__b")
    )


def lsh_planes(
    n_tables: int, planes_per_table: int, dim: int
) -> list[tuple[int, int, list[float]]]:
    """(table, bit_value, plane) triples for the L-tables-of-m-planes
    construction. Exposed so the DuckDB oracle SQL can be generated
    from the SAME constants (seeds) as the Spark plan -- the two sides
    cannot drift (pattern of queries_llm._lang_id_sql)."""
    out = []
    for t in range(n_tables):
        for p in range(planes_per_table):
            out.append((t, 2**p, _hyperplane(dim, t * planes_per_table + p)))
    return out


def adaptive_planes_per_table(n: int) -> int:
    """m scales with the corpus: at fixed m, bucket width grows
    linearly with n and the candidate self-join quadratically
    (candidates ~ L * n^2 / 2^m). Holding the TARGET WIDTH instead
    (m = log2(n / w)) keeps candidates ~ L * n * w / 2 -- linear in
    corpus size, the 100 TB shape. The cap bounds the planes per
    table (the bucket kernel's work per vector); past the cap, buy
    recall with L."""
    import math

    m = math.ceil(math.log2(max(n, 2) / LSH_TARGET_BUCKET_WIDTH))
    return min(LSH_PLANES_CAP, max(LSH_PLANES_FLOOR, m))


def lsh_candidate_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 8,
    planes_per_table: int | None = 4,
    dim: int = 64,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) that collide in at least
    one LSH (table, bucket). The scale-safe candidate generator for
    embedding near-dup: the self-join is an equi-join on the bucket
    key, never an all-pairs nested loop.

    `max_bucket_width` drops buckets wider than the cap before the
    self-join; see dedup._bucket_pairs for the cap.

    `planes_per_table=None` auto-sizes m from the corpus count
    (adaptive_planes_per_table) so average bucket width -- and with it
    the candidate-join volume per vector -- stays constant as the
    corpus grows.
    """
    if planes_per_table is None:
        planes_per_table = adaptive_planes_per_table(df.count())
    # persist the slim projection BEFORE the bucket kernel: if the
    # input is itself a computed column (e.g. a synthesized/normalized
    # embedding), the cache node is the materialization barrier that
    # computes it once (plan-shape lesson: materialize-once).
    slim = track_persist(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    )
    buckets = lsh_buckets(slim, "__vec", n_tables, planes_per_table, dim).select(
        "__id", "table", "bucket"
    )
    return (
        _bucket_pairs(buckets, ["table", "bucket"], "__id", max_bucket_width)
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def embedding_neardup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    n_tables: int = 8,
    planes_per_table: int | None = 4,
    dim: int = 64,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, the 100 TB shape: LSH
    bucket candidates (equi-join, linear in collisions) -> exact cosine
    on candidates only -> threshold filter. Same scoring expression as
    the all-pairs triangle (queries_llm.dedup_embedding_cosine), which
    serves as its recall oracle in tests/test_similarity.py. Emits a
    SUBSET of the triangle's pairs (recall < 1 tuned by (L, m)), never
    a superset, and never a BroadcastNestedLoopJoin (plan-asserted).
    Candidates are scored by cosine_arrow."""
    cand = lsh_candidate_pairs(
        df, vec_col, id_col, n_tables, planes_per_table, dim, max_bucket_width
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    scored = cosine_arrow(cand.join(va, "id_a").join(vb, "id_b"), "__va", "__vb")
    return scored.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_tables: int = 6,
    planes_per_table: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: candidates from any shared (table, bucket), exact
    cosine on the deduped candidate set.

    vs brute force: the cross join becomes a hash join on the bucket
    key; candidate count drops ~2^m-fold per table. This is the 100 TB
    path: the corpus-side buckets are computed once (persist/write
    them), queries touch L buckets each, and recall is tuned with
    (L, m) instead of memory. Candidates are scored by cosine_arrow.
    """
    c = lsh_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "__cvec",
        n_tables,
        planes_per_table,
        dim,
    )
    q = lsh_buckets(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")),
        "__qvec",
        n_tables,
        planes_per_table,
        dim,
    )
    joined = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair can collide in several tables -> dedup before scoring
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sim = cosine_arrow(joined, "__qvec", "__cvec").select(
        "query_id", "neighbor_id", "cosine"
    )
    return _topk(sim, k)


def _probe_cells(q: DataFrame, centers: list, n_probe: int) -> DataFrame:
    """Route each query row (query_id, __qvec) to its n_probe nearest
    centroids: euclidean distance^2 to every centroid as literal
    arrays, array_sort on (dist, idx) structs, slice, explode."""
    centers_lit = F.array(
        *[
            F.struct(
                F.lit(i).alias("idx"),
                F.array(*[F.lit(v) for v in c]).alias("c"),
            )
            for i, c in enumerate(centers)
        ]
    )
    dists = F.transform(
        centers_lit,
        lambda e: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("__qvec"),
                    e.getField("c"),
                    lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("dist"),
            e.getField("idx").alias("idx"),
        ),
    )
    return q.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(dists), 1, n_probe),
                lambda e: e.getField("idx"),
            )
        ),
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans coarse quantization of the
    corpus, queries probe their n_probe nearest centroids, exact cosine
    within the probed cells.

    The 100 TB shape: the corpus is clustered ONCE (training samples a
    fraction; assignment is one narrow pass) and stored partitioned by
    cell; a query touches n_probe/n_centroids of the data. Recall is
    tuned with n_probe. Centroids are driver-side constants (KB-sized),
    folded into the probe plan as literals.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus_v = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cvec")
    ).withColumn("__v", array_to_vector(F.col("__cvec").cast("array<double>")))
    model = KMeans(k=n_centroids, seed=42, featuresCol="__v").fit(corpus_v)
    assigned = model.transform(corpus_v).select(
        "neighbor_id", "__cvec", F.col("prediction").alias("cell")
    )

    centers = [list(map(float, c)) for c in model.clusterCenters()]
    q = _probe_cells(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
        ),
        centers,
        n_probe,
    )
    joined = assigned.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = joined.select(
        "query_id",
        "neighbor_id",
        _cosine(F.col("__qvec"), F.col("__cvec")).alias("cosine"),
    )
    return _topk(sim, k)


def quantize_int8_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column, summarized
    as per-vector scalars (scale, q_sum, q_min, q_max) — the scalar
    projection exists because the driver's canonicalizer can't hash
    array cells; the full quantized array is the same `q` expression
    without the folds.

    q_i = sign(x_i) * floor(|x_i| * 127 / max|x|), scale = max|x|/127
    — truncation toward zero spelled as sign*floor so the SQL twin is
    bit-identical (DuckDB's CAST(double AS INT) rounds, Spark's
    truncates; floor is the same in both). Zero vectors quantize to
    all-zeros with scale 0.

    Scale: narrow, per-row column arithmetic over the vector — no
    shuffle, no UDF; it rides whatever scan already reads the
    embeddings. This is the storage-side half of product-quantization
    ANN: 4x smaller vectors, integer dot products downstream.
    """
    v = F.col(vec_col)
    # materialize the max-abs once per row (higher-order-function
    # inputs re-derive per reference otherwise -- plan-shape lesson);
    # fan the 1-split scan out before the interpreted folds (guide 2.5)
    staged = fan_out_scan(df.select(F.col(id_col), v.alias("__v"))).select(
        F.col(id_col),
        F.col("__v"),
        F.array_max(
            F.transform(F.col("__v"), lambda x: F.abs(x.cast("double")))
        ).alias("__maxabs"),
    )
    m = F.col("__maxabs")

    def q(x):  # noqa: ANN001 - Column lambda
        xd = x.cast("double")
        return F.when(m == 0.0, F.lit(0)).otherwise(
            (F.signum(xd) * F.floor(F.abs(xd) * 127 / m)).cast("long")
        )

    return staged.select(
        F.col(id_col),
        F.when(m == 0.0, F.lit(0.0)).otherwise(m / 127).alias("scale"),
        F.aggregate(
            F.col("__v"), F.lit(0).cast("long"), lambda acc, x: acc + q(x)
        ).alias("q_sum"),
        F.array_min(F.transform(F.col("__v"), q)).alias("q_min"),
        F.array_max(F.transform(F.col("__v"), q)).alias("q_max"),
    )


def _sampled_assign(
    corpus: DataFrame, vec_col: str, id_col: str, n_centroids: int
) -> tuple[DataFrame, DataFrame]:
    """The sampled-centroid stage of IVF and SemDeDup: the centroids are
    the n_centroids corpus vectors first in md5(CENT_SALT:id) order
    (sampling.bottom_k_sample), and every corpus vector is assigned to
    its argmax-cosine centroid (ties to the smaller cent_id). Returns
    (cent, assign): cent is (cent_id, __cv), assign is
    (__id, __v, cent_id).

    The sample is sort+limit, NOT a global window: Catalyst compiles
    orderBy+limit to TakeOrderedAndProject (per-partition heap +
    n_centroids-row merge), while an unpartitioned row_number() would
    drag the whole corpus through one task. The centroids are
    broadcast; the assignment widens the corpus n_centroids-fold and
    reduces it with one window keyed by id.
    """
    cent = bottom_k_sample(
        corpus.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("__cv")),
        "cent_id",
        n_centroids,
        CENT_SALT,
    )
    w_assign = Window.partitionBy("__id").orderBy(
        F.col("__cc").desc(), F.col("cent_id").asc()
    )
    assign = (
        fan_out_scan(
            corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        )
        .crossJoin(F.broadcast(cent))
        .withColumn("__cc", _cosine(F.col("__v"), F.col("__cv")))
        .withColumn("__arnk", F.row_number().over(w_assign))
        .filter(F.col("__arnk") == 1)
        .select("__id", "__v", "cent_id")
    )
    return cent, assign


def _ivf_sampled_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int,
    n_probe: int,
) -> DataFrame:
    """Shared IVF candidate stage (sampled centroids -> corpus cell
    assignment -> query probes -> candidate pairs). Both
    cosine_topk_ivf_sampled and cosine_topk_ivf_pq rank over THESE
    candidates -- one implementation, so "same cells" is a structural
    guarantee rather than two copies staying in sync. Returns
    (query_id, neighbor_id), self-pairs excluded.
    """
    cent, assign = _sampled_assign(corpus, vec_col, id_col, n_centroids)
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__qc").desc(), F.col("cent_id").asc()
    )
    probes = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .crossJoin(F.broadcast(cent))
        .withColumn("__qc", _cosine(F.col("__qv"), F.col("__cv")))
        .withColumn("__prnk", F.row_number().over(w_probe))
        .filter(F.col("__prnk") <= n_probe)
        .select("query_id", "cent_id")
    )
    return (
        probes.join(
            assign.select(F.col("__id").alias("neighbor_id"), "cent_id"), "cent_id"
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )


def cosine_topk_ivf_sampled(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN with DETERMINISTIC sampled centroids: the centroid set
    is the n_centroids corpus vectors ranked first by md5(CENT_SALT:id) --
    an unbiased, engine-portable sample, so unlike the KMeans variant
    (cosine_topk_ivf) the whole pipeline has an exact DuckDB oracle.
    Sampled centroids are the standard cheap IVF bootstrap (KMeans
    refines recall for the same probe budget but changes nothing
    structurally).

    Shape (identical to the KMeans IVF): centroids broadcast
    everywhere; corpus assigns to argmax-cosine centroid (16x widen,
    window reduce); queries probe their n_probe nearest centroids;
    exact cosine + top-k over candidates only. Probes touch
    ~n_probe/n_centroids of the corpus.
    """
    cand = _ivf_sampled_candidates(
        corpus, queries, vec_col, id_col, n_centroids, n_probe
    )

    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    sims = (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("__qv"), F.col("__nv")).alias("cosine"),
        )
    )
    return _topk(sims, k)


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-then-prune
# ---------------------------------------------------------------------------


def semantic_dedup_sampled(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    tau: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): bucket
    the corpus into clusters, compare pairs ONLY within a cluster, and
    drop every item that has a higher-priority (smaller-id) in-cluster
    neighbor with cosine >= tau. Returns (id, cent_id, keep).

    The cluster step is _sampled_assign, the same md5-sampled
    centroid stage cosine_topk_ivf_sampled runs, so the whole pipeline --
    centroid choice, assignment, in-cluster pairs, prune rule -- has an
    exact DuckDB oracle (KMeans centroids would refine cluster quality
    without changing the shape).

    100 TB shape: this is the entire point of SemDeDup -- the O(n^2)
    cosine comparison is confined to clusters of ~n/n_centroids items
    (one shuffle on cent_id co-locates each cluster), so cost is
    n^2/n_centroids instead of n^2, and n_centroids grows with the
    corpus (FAISS-scale runs use ~100k clusters). No broadcast of the
    corpus anywhere; the only broadcast is the k x dim centroid table.
    """
    _, assign = _sampled_assign(corpus, vec_col, id_col, n_centroids)
    # assign feeds three consumers (pair-join sides + final output);
    # one tracked persist computes the centroid fanout ONCE instead of
    # three corpus scans (released at next query via release_persisted)
    assign = track_persist(assign)
    a = assign.select(
        F.col("cent_id"), F.col("__id").alias("id_a"), F.col("__v").alias("__va")
    )
    b = assign.select(
        F.col("cent_id"), F.col("__id").alias("id_b"), F.col("__v").alias("__vb")
    )
    # in-cluster pairs above tau where the partner id is SMALLER: id_b
    # is dominated and will be dropped. Equi-join on cent_id: each
    # cluster is one join group, never an all-pairs crossJoin.
    dominated = (
        a.join(b, "cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_cosine(F.col("__va"), F.col("__vb")) >= F.lit(tau))
        .select("id_b")
        .distinct()
    )
    return (
        assign.join(dominated, assign["__id"] == dominated["id_b"], "left")
        .select(
            F.col("__id").alias(id_col),
            "cent_id",
            F.col("id_b").isNull().alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): subspace codebooks + ADC search
# ---------------------------------------------------------------------------


def _pq_codebook(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_sub: int,
    sub_dim: int,
    codes_per_sub: int,
) -> DataFrame:
    """Deterministic PQ codebooks: ONE md5(PQ_SALT:id)-ranked sample of
    codes_per_sub corpus vectors (a single orderBy+limit scan --
    TakeOrderedAndProject, per-partition heaps, no global window), and
    subspace j's codewords are the j-th subvectors of that sample
    (standard PQ trains every subquantizer from one training sample).
    Returns (sub_id, code, codeword): n_sub * codes_per_sub tiny rows.
    Production refinement is per-subspace KMeans; shape is identical.
    """
    sample = bottom_k_sample(
        corpus.select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("__sv")),
        "__sid",
        codes_per_sub,
        PQ_SALT,
    )
    # rank within the codes_per_sub-row sample only (window input is tiny)
    ranked = sample.withColumn(
        "code", F.row_number().over(Window.orderBy(*sample_order("__sid", PQ_SALT)))
    )
    return ranked.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub_id"),
        "code",
        "__sv",
    ).select(
        "sub_id",
        "code",
        F.expr(f"slice(__sv, sub_id * {sub_dim} + 1, {sub_dim})").alias("codeword"),
    )


def pq_encode_sampled(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_sub: int = 8,
    codes_per_sub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization encode (Jegou et al. 2011, public): split
    each vector into n_sub contiguous subvectors, quantize each to its
    nearest codeword (squared L2, ties to the smaller code id), emit
    (id, codes array<int>, recon array<double>) where recon is the
    concatenation of the chosen codewords (the ADC lookup vector).

    64-dim float32 -> 8 bytes of codes is the canonical 32x compression
    for billion-scale ANN. Plan shape: the codebook (n_sub *
    codes_per_sub rows) is broadcast; the corpus fans out x n_sub
    (slice per subspace), joins the codebook on sub_id (broadcast hash
    join, no shuffle of the corpus), argmin per (id, subspace) via one
    window, then one groupBy id to collect codes in subspace order.
    One shuffle total (the final groupBy); everything else is map-side.
    """
    sub_dim = dim // n_sub
    cb = _pq_codebook(corpus, vec_col, id_col, n_sub, sub_dim, codes_per_sub)

    sub_ids = F.sequence(F.lit(0), F.lit(n_sub - 1))
    fanout = fan_out_scan(
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    ).select(
        "__id",
        F.explode(sub_ids).alias("sub_id"),
        F.col("__v"),
    ).withColumn(
        "__sv",
        F.expr(
            f"slice(__v, sub_id * {sub_dim} + 1, {sub_dim})"
        ),
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("__sv"),
            F.col("codeword"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("__id", "sub_id").orderBy(F.col("__d2").asc(), F.col("code").asc())
    best = (
        fanout.join(F.broadcast(cb), "sub_id")
        .withColumn("__d2", d2)
        .withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") == 1)
    )
    return (
        best.groupBy(F.col("__id").alias(id_col))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sub_id", "code", "codeword"))
            ).alias("__parts")
        )
        .select(
            id_col,
            F.transform("__parts", lambda p: p["code"]).alias("codes"),
            F.flatten(
                F.transform(
                    "__parts", lambda p: F.transform(p["codeword"], lambda x: x.cast("double"))
                )
            ).alias("recon"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_sub: int = 8,
    codes_per_sub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: rank corpus items by
    cos(query, recon(codes)) -- the query stays full-precision, the
    corpus is represented only by its PQ reconstruction. Returns
    (query_id, neighbor_id, adc_cosine, rank).

    100 TB shape: after encoding, the scan side carries 8 small ints
    per vector instead of 256 bytes of float32 -- the ADC pass reads
    ~3% of the bytes of brute force. The deterministic codebooks make
    the whole ranking exactly reproducible in the DuckDB oracle;
    recall vs full-precision brute force is pinned in tests.
    """
    enc = pq_encode_sampled(
        corpus, vec_col, id_col, n_sub=n_sub, codes_per_sub=codes_per_sub, dim=dim
    ).select(F.col(id_col).alias("neighbor_id"), "recon")
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))

    sims = (
        enc.crossJoin(F.broadcast(qv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("__qv"), F.col("recon")).alias("adc_cosine"),
        )
    )
    return _topk(sims, k, "adc_cosine")


def cosine_topk_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 6,
    n_sub: int = 8,
    codes_per_sub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ ANN: the composition that serves billion-scale indexes
    (Jegou et al. 2011's IVFADC, minus residual encoding -- codes
    quantize the raw vectors, the standard simplification when the
    coarse quantizer is a sample). IVF bounds WHICH vectors get scored
    (~n_probe/n_centroids of the corpus via the cell equi-join); PQ
    bounds WHAT is read per scored vector (n_sub code bytes
    reconstructed, not the full float32 row); ADC ranks
    cos(full-precision query, reconstruction).

    Both stages reuse the registered deterministic building blocks
    (md5-sampled centroids, md5-sampled codebooks), so the whole
    composed pipeline has an exact DuckDB oracle. Plan shape: centroids
    and codebooks broadcast; one narrow assignment pass each; the only
    corpus-sized shuffles are the two argmin windows keyed by id.
    """

    cand = _ivf_sampled_candidates(
        corpus, queries, vec_col, id_col, n_centroids, n_probe
    )
    enc = pq_encode_sampled(
        corpus, vec_col, id_col,
        n_sub=n_sub, codes_per_sub=codes_per_sub, dim=dim,
    ).select(F.col(id_col).alias("neighbor_id"), "recon")
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    sims = (
        cand.join(F.broadcast(qv), "query_id")
        .join(enc, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("__qv"), F.col("recon")).alias("adc_cosine"),
        )
    )
    return _topk(sims, k, "adc_cosine")
