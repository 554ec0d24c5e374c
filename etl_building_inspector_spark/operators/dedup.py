"""Deduplication operators.

Reference parity: keep-first dedup on a key (module-global caches at
building-inspector.js:92, :204 -- first occurrence in file order wins).
Spark's dropDuplicates keeps an *arbitrary* row, so keep_first() uses an
explicit order column + row_number window for deterministic semantics.

Extensions (training-data pipeline, 100 TB design notes inline):
exact hash dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
These generate near-dup PAIRS; turning pairs into groups (connected
components, incremental merge) is iterative and lives in graph.py.
All hash functions are md5-derived so every operator has an exact
DuckDB-SQL oracle (engine-portable hashing, no F.hash/xxhash64 which
differ across engines).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles, tokens
from ._cache import track_persist
from ._parallel import fan_out_scan


def keep_first(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """First row per key under an explicit deterministic order
    (reference D1/D2 semantics: building-inspector.js:97-100, :211-214).

    Scale: one hash shuffle on `keys`; the window is computed per
    partition after the shuffle (no second exchange since partitionBy
    matches the shuffle keys). Skewed keys are handled by AQE skew-join
    ... not applicable to windows -- if a single key dominates at 100 TB,
    pre-aggregate with min_by on the order columns instead (same
    semantics, map-side partial aggregation):
    df.groupBy(keys).agg(F.min_by(F.struct('*'), F.struct(order_by))).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-identical text dedup: group by md5(normalized text),
    keep the lowest id. groupBy gets map-side partial aggregation for
    free (min is algebraic), so the shuffle carries one row per
    fingerprint per map task -- the scalable shape for 100 TB."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
    )


def minhash_signature(
    df: DataFrame, text_col: str, k: int = 8, shingle_n: int = 3,
    fanout: bool = True,
) -> DataFrame:
    """Append minhash_0..minhash_{k-1} columns: minhash_i = min over
    shingles of the i-th 8-hex-char chunk of sha256(shingle).
    Engine-portable (DuckDB: substr(sha256(x), i*8+1, 8)); NULL when
    the document has no shingles. k <= 8 (sha256 = 64 hex chars).

    Plan shape (both measured at sf0.1):
      * ONE hash call per shingle -- the k hash functions are disjoint
        chunks of a single sha256 (independent uniform bits), not k
        salted md5s (8x less hashing than the naive scheme);
      * the hash array is materialized in its own projection, then ONE
        aggregate() fold keeps all k running chunk-mins. Naive k
        independent array_min(transform(...)) columns re-derive
        tokenize+shingle k times -- 6.7x slower.
    Fully narrow: no shuffle, scales linearly.
    """
    if k > 8:
        raise ValueError("k <= 8: sha256 yields 8 disjoint 8-hex chunks")
    # one sha256 per shingle via interpreted HOFs is the dominant CPU
    # of every minhash consumer; spread the scan's 1-2 splits across
    # the session's cores first (guide 2.5 -- see operators/_parallel).
    # `fanout=False` for micro-batch callers (streaming index refresh):
    # a few hundred rows per batch make the exchange pure overhead
    # (A/B'd 0.92x).
    if fanout:
        df = fan_out_scan(df)
    sh_col = "__mh_shingles"
    h_col = "__mh_hashes"
    staged = df.withColumn(sh_col, shingles(text_col, shingle_n))
    staged = staged.withColumn(
        h_col, F.transform(F.col(sh_col), lambda s: F.sha2(s, 256))
    )
    # init: 'g'*8 sorts after every hex chunk, acting as +inf.
    init = F.array(*[F.lit("g" * 8) for _ in range(k)])

    def step(acc: Column, h: Column) -> Column:
        chunks = F.array(*[F.substring(h, i * 8 + 1, 8) for i in range(k)])
        return F.zip_with(acc, chunks, lambda a, c: F.least(a, c))

    sig = F.when(
        F.size(F.col(h_col)) > 0, F.aggregate(F.col(h_col), init, step)
    )  # otherwise NULL, matching list_min([]) in the oracle
    staged = staged.withColumn("__sig", sig)
    return staged.select(
        *df.columns,
        *[F.col("__sig").getItem(i).alias(f"minhash_{i}") for i in range(k)],
    )


def minhash_lsh_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    sig: DataFrame | None = None,
    fanout: bool = True,
) -> DataFrame:
    """(id, band, key) band-bucket assignments — the LSH blocking
    table minhash_lsh_pairs self-joins, exposed so diagnostics (the
    cap-loss report in plans/queries_llm16.py) can aggregate bucket
    WIDTHS from the exact same construction. `sig` as in
    minhash_lsh_pairs."""
    rows_per_band = k // bands
    if sig is None:
        sig = minhash_signature(
            df.select(id_col, text_col), text_col, k, shingle_n, fanout=fanout
        )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[f"minhash_{b * rows_per_band + r}" for r in range(rows_per_band)]
                )
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_width: int | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    `sig`, when given, is a precomputed frame holding `id_col` and
    minhash_0..minhash_{k-1} (the minhash_signature output): callers
    that also need the signatures for their own estimates (the
    calibration evals) compute them ONCE and share, instead of this
    function re-deriving the whole tokenize+shingle+sha256 lineage.

    Plan shape (the 100 TB path):
      1. signature: narrow, no shuffle.
      2. band keys: explode k/bands-row concatenated hashes -> (band,
         key, id). One row per doc per band.
      3. self-equi-join on (band, key) with id_a < id_b: a shuffle
         hash join on the band key -- candidates only ever co-locate
         within a bucket, so the join never goes quadratic unless a
         bucket is hot (identical boilerplate docs).
      4. distinct pairs.

    `max_bucket_width` drops over-wide buckets before step 3; see
    _bucket_pairs for the cap.
    """
    buckets = minhash_lsh_buckets(
        df, text_col, id_col, k=k, bands=bands, shingle_n=shingle_n, sig=sig
    )
    return (
        _bucket_pairs(buckets, ["band", "key"], id_col, max_bucket_width)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def _bucket_pairs(
    buckets: DataFrame, keys: list[str], id_col: str, max_bucket_width: int | None
) -> DataFrame:
    """The banded self-join behind every bucketed candidate generator:
    rows of `buckets` that share all of `keys`, one row per ordered
    pair a.id_col < b.id_col, with both sides' columns reachable as
    `a.<col>` and `b.<col>`. Callers project and `distinct` (a pair
    that collides in several buckets appears once per bucket).

    `buckets` is persisted first: the self-join would otherwise
    recompute its whole lineage (signatures, hash kernels) once per
    side. It is tracked for release (_cache.release_persisted) and at
    cluster scale is a slim (id, bucket) projection -- memory-cheap.

    `max_bucket_width` bounds the join's quadratic worst case: buckets
    holding more than the cap rows are dropped before the self-join
    (one count-aggregate + left-semi join, both map-side-combinable).
    A hot bucket of w boilerplate rows otherwise yields w(w-1)/2
    pairs; with the cap the per-bucket cost is <= cap(cap-1)/2, and a
    bucket of exactly `max_bucket_width` rows is kept. Dropping
    over-wide buckets is also the semantically right boilerplate
    filter -- exact-identical rows belong to exact_dedup, not
    near-dup pairing.
    """
    buckets = track_persist(buckets)
    if max_bucket_width is not None:
        keep = (
            buckets.groupBy(*keys)
            .count()
            .filter(F.col("count") <= max_bucket_width)
            .select(*keys)
        )
        buckets = buckets.join(keep, keys, "left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    same = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    ordered = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    return a.join(b, reduce(and_, [*same, ordered]))


def simhash(df: DataFrame, text_col: str, bits: int = 16) -> DataFrame:
    """Append a `simhash` BIGINT column (bits <= 32).

    Each token votes +1/-1 per bit position, bit = sign of the sum.
    Token hash = first 8 hex chars of md5 (32 bits), engine-portable.
    Closed-form columns: explode-free -- the per-bit sums are computed
    with aggregate() over the token array, so this is narrow/no-shuffle.
    """
    # Stage 1: one md5 per token (materialized array column) -- first 8
    # hex chars of md5 -> unsigned 32-bit int via conv(), JVM-native and
    # engine-portable (DuckDB twin: cast('0x'||substr(md5,1,8))).
    h_col = "__sh_hashes"
    # md5-per-token + the bits-wide interpreted vote fold dominate;
    # fan the 1-2 scan splits out across cores first (guide 2.5)
    df = fan_out_scan(df)
    staged = df.withColumn(
        h_col,
        F.transform(
            tokens(text_col),
            lambda tok: F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long"),
        ),
    )
    # Stage 2: one aggregate() pass accumulating all per-bit votes
    # (state = array of `bits` running sums) instead of `bits`
    # independent folds that would each re-tokenize and re-hash.
    init = F.array(*[F.lit(0).cast("long") for _ in range(bits)])

    def step(acc: Column, h: Column) -> Column:
        votes = F.array(
            *[
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(bits)
            ]
        )
        return F.zip_with(acc, votes, lambda a, v: a + v)

    votes = F.aggregate(F.col(h_col), init, step)
    staged = staged.withColumn("__votes", votes)
    total = None
    for b in range(bits):
        bit = F.when(
            F.col("__votes").getItem(b) > 0, F.lit(2**b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        total = bit if total is None else total + bit
    return staged.withColumn("simhash", total).select(*df.columns, "simhash")


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance with banded
    blocking: (id_a, id_b, hamming) for all pairs with
    popcount(simhash_a XOR simhash_b) <= max_hamming.

    Unlike MinHash LSH this blocking is EXACT, not approximate: by
    pigeonhole, two hashes differing in <= bands-1 bits agree on at
    least one of `bands` disjoint bit-slices, so every qualifying pair
    (max_hamming <= bands-1) lands in some shared bucket. The
    bucket-join recall proof is `assert max_hamming < bands`.

    Plan shape mirrors minhash_lsh_pairs: narrow signature, explode to
    one (band, slice) row per doc per band, shuffle equi-join on the
    slice key, exact popcount filter after. At 100 TB use bits=64 with
    16-bit slices (4 bands) so buckets stay selective;
    `max_bucket_width` caps hot buckets as in _bucket_pairs.
    """
    assert max_hamming < bands, "banding is only lossless for hamming < bands"
    band_bits = bits // bands
    sh = simhash(df.select(id_col, text_col), text_col, bits=bits).select(
        id_col, "simhash"
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias("key"),
        )
        for b in range(bands)
    ]
    buckets = sh.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    return (
        _bucket_pairs(buckets, ["band", "key"], id_col, max_bucket_width)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs that share at
    least one shingle.

    Plan: explode distinct shingles -> self-join on shingle (shuffle
    co-locates docs sharing a shingle) -> count shared shingles per
    pair -> |A∩B| / (|A|+|B|-|A∩B|). At 100 TB the shared-shingle join
    is the bottleneck on stop-shingle hot keys: one shingle shared by w
    docs yields w^2/2 join rows.

    `max_doc_freq` drops shingles whose document frequency exceeds the
    cap BEFORE everything else (sizes included), bounding the join at
    cap^2/2 per shingle. Semantics become "Jaccard over the
    non-boilerplate shingle set" -- stop-shingles carry no similarity
    signal, so this is the stop-word filter of classic IR, applied
    consistently to intersection AND union (both sides of the ratio).
    """
    sh = (
        # shingle explode + md5 per shingle from a 1-2 split scan:
        # fan out across cores first (guide 2.5, operators/_parallel)
        fan_out_scan(df.select(id_col, text_col))
        .select(id_col, F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("sh"))
    )
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("sh")
            .count()
            .filter(F.col("count") <= max_doc_freq)
            .select("sh")
        )
        sh = sh.join(rare, "sh", "left_semi")
    # shuffle on 8-byte md5-derived keys instead of multi-word shingle
    # strings: measured 2x on the self-join at sf0.1, and shuffle WIDTH
    # is the real 100 TB cost. 60-bit keys make collisions (merged
    # shingles) negligible at fixture scale and a standard
    # hashing-trick approximation at corpus scale; the oracle applies
    # the IDENTICAL hash, so results stay bit-equal.
    sh = sh.select(
        id_col,
        F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10)
        .cast("long")
        .alias("sh"),
    )
    # referenced 3x (sizes + both join sides): compute once (tracked
    # persist, released by _cache.release_persisted between queries)
    sh = track_persist(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        # unrounded: int/int division is bit-identical across engines;
        # round() is not portable at half-boundaries.
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold_pct: int = 60,
) -> DataFrame:
    """COMPLETE set-similarity self-join via prefix filtering (AllPairs
    / SSJoin: Bayardo, Ma & Srikant, WWW'07; Chaudhuri, Ganti &
    Kaushik, ICDE'06) over distinct word-shingle sets.

    Unlike `ngram_jaccard_pairs` (whose doc-frequency cap trades
    completeness for a bounded join), prefix filtering is LOSSLESS for
    a fixed threshold t: order every doc's shingles by a corpus-wide
    total order (document frequency asc, shingle asc — rarest first),
    keep only the first  p = s - ceil(t*s) + 1  shingles as the doc's
    "prefix", and join docs on shared PREFIX shingles. Any pair with
    Jaccard >= t must share at least one prefix shingle (pigeonhole on
    the ordered sets), so candidate generation misses nothing; a size
    filter (t * s_max <= s_min is necessary for J >= t) prunes further
    before verification.

    100 TB shape: the candidate join touches only prefix shingles,
    which are each doc's RAREST — so hot boilerplate shingles never
    enter the join (the algorithm's own skew guard, replacing the df
    cap). Verification joins full shingle sets ONLY for surviving
    candidate pairs: cost |cand| x avg set size, shuffled on
    (id, shingle). All arithmetic is integer (threshold as a percent,
    cross-multiplied), so the DuckDB twin is bit-exact.
    """
    t = threshold_pct
    # hash shingles to 60-bit md5-derived BIGINTs BEFORE any shuffle
    # (same trick and same rationale as ngram_jaccard_pairs above:
    # 8-byte shuffle keys, not multi-word strings; the oracle applies
    # the identical hash so results stay bit-equal). The prefix
    # theorem needs only SOME corpus-wide total order on tokens —
    # (df asc, hash asc) is one — so ordering by the hash instead of
    # the string loses nothing.
    sh = fan_out_scan(df.select(id_col, text_col)).select(
        id_col, F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("sh0")
    ).select(
        id_col,
        F.conv(F.substring(F.md5("sh0"), 1, 15), 16, 10).cast("long").alias("sh"),
    )
    # referenced by df-counts, prefix ranking, and verification: one
    # tracked persist (released between queries by _cache)
    sh = track_persist(sh)
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    # rarest-first rank WITHIN each doc; set size from the SAME
    # per-doc exchange (count over the id partition — no sizes join)
    w = Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("sh").asc())
    w_all = Window.partitionBy(id_col)
    ordered = (
        sh.join(dfreq, "sh")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("s", F.count("*").over(w_all).cast("long"))
    )
    # prefix length p = s - ceil(t*s/100) + 1, integer ceil for s > 0
    pref = ordered.filter(
        F.col("rn") <= F.col("s") - ((F.col("s") * t + 99) / 100).cast("long") + 1
    ).select(id_col, "sh", "s")
    a = pref.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh"), F.col("s").alias("s_a")
    )
    b = pref.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh"), F.col("s").alias("s_b")
    )
    cand = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        # size filter: J >= t  =>  100 * min(s) >= t * max(s)
        .filter(
            F.lit(100) * F.least("s_a", "s_b") >= F.lit(t) * F.greatest("s_a", "s_b")
        )
        .select("id_a", "id_b", "s_a", "s_b")
        .distinct()
    )
    # verification: exact |A ∩ B| for candidates only
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh"))
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b", "s_a", "s_b")
        .agg(F.count("*").cast("long").alias("inter_sh"))
    )
    return (
        inter.withColumn("union_sh", F.col("s_a") + F.col("s_b") - F.col("inter_sh"))
        .filter(F.lit(100) * F.col("inter_sh") >= F.lit(t) * F.col("union_sh"))
        .select(
            "id_a",
            "id_b",
            "inter_sh",
            "union_sh",
            (F.col("inter_sh").cast("double") / F.col("union_sh")).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Standing MinHash band index: build / merge / probe (VERDICT r9 #5a).
# The near-dup twin of textops.bloom_decontaminate_incremental --
# corpora arrive in batches, and absorbing a batch into the standing
# index must cost O(|batch|), never a corpus re-shingle.
# ---------------------------------------------------------------------------


def minhash_band_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The persisted artifact of an incremental near-dup pipeline:
    band buckets PRE-AGGREGATED to one row per (band, key) carrying
    mergeable summaries -- (n_index_docs, first_match_id) = (count,
    min doc id). Unlike the pair-enumeration path this never holds a
    doc list per bucket, so a hot boilerplate key stays one row and
    probe fanout is bounded by construction (the shape
    queries_llm6.dedup_incremental_minhash established; this factors
    it into a reusable build/merge/probe triple).

    100 TB shape: one shuffle on (band, key) with map-side partial
    aggregation; the result is exactly what a daily pipeline persists
    (bucketed by `key`) between runs.
    """
    buckets = minhash_lsh_buckets(df, text_col, id_col, k, bands)
    return buckets.groupBy("band", "key").agg(
        F.count("*").cast("long").alias("n_index_docs"),
        # cast BEFORE the min, as the streaming refresh does: string
        # ids must take the numeric min ("9" < "10"), not the
        # lexicographic one
        F.min(F.col(id_col).cast("long")).alias("first_match_id"),
    )


def merge_minhash_band_indexes(*indexes: DataFrame) -> DataFrame:
    """REFRESH the standing index with one or more batch indexes:
    union + re-aggregate. count/min are commutative monoids, so
    merge(index(A), index(B)) == index(A ∪ B) exactly (pinned in
    tests/test_r10_properties.py) -- the refresh touches only the
    index rows, never the corpus text. At scale both sides are
    already hash-partitioned on (band, key) from their own builds, so
    AQE plans this as a co-partitioned merge; worst case it is one
    shuffle of |index| + |batch| SUMMARY rows (thousands of bytes per
    billion docs of text scanned -- the entire point of the refresh
    path)."""
    assert indexes, "need at least one index"
    merged = indexes[0]
    for nxt in indexes[1:]:
        merged = merged.unionByName(nxt)
    return merged.groupBy("band", "key").agg(
        F.sum("n_index_docs").cast("long").alias("n_index_docs"),
        F.min("first_match_id").cast("long").alias("first_match_id"),
    )


def probe_minhash_band_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Which NEW docs collide with the standing index, and where: one
    row per colliding doc -- (id, hit_bands, n_index_docs,
    first_match_id). The join output is <= bands x |new docs| rows
    regardless of index skew (the index side is one row per key), so
    no bucket cap is needed."""
    bandkeys = minhash_lsh_buckets(new_docs, text_col, id_col, k, bands)
    hits = bandkeys.join(index, ["band", "key"])
    return hits.groupBy(id_col).agg(
        F.count("*").cast("long").alias("hit_bands"),
        F.sum("n_index_docs").cast("long").alias("n_index_docs"),
        F.min("first_match_id").cast("long").alias("first_match_id"),
    )
