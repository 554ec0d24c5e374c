"""Corpus-curation operators for the training-data pipeline surface:
benchmark decontamination, PII redaction, repetition (Gopher-style)
signals, TF-IDF term ranking, and deterministic hash-based sampling.

All JVM-native column expressions / built-in joins and windows, except
the Bloom screen shared by the three Bloom decontamination operators
(batch, incremental, and streaming/decon.py): it hashes grams with
xxhash64, probes with one Arrow pandas_udf and collects the (small)
benchmark suite's gram pairs to the driver. Every other operator's
hashing is md5-derived and its arithmetic either integer or
single-division double, so each has an exact DuckDB-SQL oracle (see
plans/queries_llm2.py); the screen is exact too (confirm join).

100 TB design notes are inline per operator: the shapes here are
broadcast-dim joins, map-side-combinable aggregations, and narrow
projections — no all-pairs joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens
from ._cache import track_persist
from ._parallel import fan_out_scan
from .sampling import sample_hash_u32, sample_order

# --- PII patterns (shared with the SQL oracles; RE2/Java-portable:
# no backreferences, no lookaround) --------------------------------------
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{4}\b"
# Redaction order matters and is part of the contract: emails first
# (their domain could otherwise be nibbled by the IP pattern), then
# IPs (dotted quads), then bare phone fragments.
PII_RULES: tuple[tuple[str, str], ...] = (
    (PII_EMAIL_RE, "[EMAIL]"),
    (PII_IP_RE, "[IP]"),
    (PII_PHONE_RE, "[PHONE]"),
)


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Match counts per PII class (before redaction)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        "n_email": F.regexp_count(c, F.lit(PII_EMAIL_RE)),
        "n_ip": F.regexp_count(c, F.lit(PII_IP_RE)),
        "n_phone": F.regexp_count(c, F.lit(PII_PHONE_RE)),
    }


def redact_pii(text: Column | str) -> Column:
    """Replace each PII class with its placeholder token, in the
    PII_RULES order. Pure regexp_replace chain — narrow, codegen'd,
    zero shuffle; at 100 TB this is a free rider on whatever scan
    already touches the text column."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_RULES:
        c = F.regexp_replace(c, pat, repl)
    return c


def repetition_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style repetition signals per document: n-gram count,
    distinct n-gram count, the most-frequent n-gram's count, and the
    derived duplicate-gram / top-gram fractions (null when the doc has
    fewer than n tokens).

    Scale: explode → two groupBys keyed by (doc, gram) then (doc).
    Both aggregations are algebraic (count / max / sum) so map-side
    partial aggregation bounds shuffle volume by the number of DISTINCT
    (doc, gram) pairs per map task, not row count. The final left join
    back to the doc list is on the id — same key as the agg output, so
    AQE plans it shuffle-free on the agg side.
    """
    grams = df.select(
        F.col(id_col), shingles(text_col, n).alias("__grams")
    )
    per_gram = (
        grams.select(id_col, F.explode("__grams").alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count("*").alias("__cnt"))
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("__cnt").alias("n_grams"),
        F.count("*").alias("n_distinct_grams"),
        F.max("__cnt").alias("top_gram_count"),
    )
    out = grams.select(id_col).join(per_doc, id_col, "left")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    n_dist = F.coalesce(F.col("n_distinct_grams"), F.lit(0)).cast("long")
    top = F.coalesce(F.col("top_gram_count"), F.lit(0)).cast("long")
    return out.select(
        F.col(id_col),
        n_grams.alias("n_grams"),
        n_dist.alias("n_distinct_grams"),
        top.alias("top_gram_count"),
        F.when(n_grams > 0, (n_grams - n_dist).cast("double") / n_grams).alias(
            "dup_gram_frac"
        ),
        F.when(n_grams > 0, top.cast("double") / n_grams).alias(
            "top_gram_frac"
        ),
    )


def decontaminate_ngrams(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: per training doc, how many of its
    DISTINCT word n-grams appear anywhere in the benchmark corpus
    (the standard 13-gram-overlap check, with n parameterized for the
    small fixture docs).

    Scale: the benchmark n-gram set is the small side (eval suites are
    MBs against a 100 TB train corpus) — distinct'd and broadcast, so
    the probe is a broadcast hash semi-join on the exploded train
    grams: no shuffle of the corpus. The per-doc count then groups on
    the id with map-side combine. If a benchmark ever outgrew
    broadcast, the same plan degrades gracefully to a shuffle join on
    the gram hash.
    """
    bench_grams = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(text_col, n))).alias("__g")
        )
        .distinct()
    )
    # single pass over train: the doc's gram count rides the explode
    # (explode_outer keeps gram-less docs), the broadcast left join
    # marks benchmark grams, one groupBy re-assembles per-doc counts.
    # No self-reference of the shingle pipeline -- it runs ONCE
    # (materialize-once lesson; the previous tr-join-hits shape
    # computed it twice).
    ex = fan_out_scan(train.select(id_col, text_col)).select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, n)).alias("__grams"),
    ).select(
        id_col,
        F.size("__grams").alias("__n"),
        F.explode_outer("__grams").alias("__g"),
    )
    probe = ex.join(
        F.broadcast(bench_grams.withColumn("__hit", F.lit(1))), "__g", "left"
    )
    n_cont = F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long")
    return probe.groupBy(id_col).agg(
        F.max("__n").cast("long").alias("n_shingles"),
        n_cont.alias("n_contaminated"),
        (n_cont > 0).alias("contaminated"),
    )


def tfidf_topk_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k terms per document by TF-IDF.

    The idf is the INTEGER milli-idf `floor(N * 1000 / df)` rather than
    a float log: monotone in N/df (so rankings are log-equivalent at
    fixed N), and — the reason it's integer — bit-portable to the SQL
    oracle with no libm involvement. score = tf * idf_milli (bigint).
    Ties break on the term string ascending, so top-k is fully
    deterministic.

    Scale: tf = groupBy(doc, term) with map-side combine; df =
    groupBy(term) over the already-aggregated tf rows (one row per
    doc-term, far smaller than token count); N joins in as a broadcast
    1-row aggregate, NOT a driver-side .count() — the whole plan stays
    lazy/distributed. The final window partitions by doc — same key as
    tf's shuffle, so no extra exchange.
    """
    # NOT fan_out_scan'd (A/B'd 0.74x):
    # the token explode feeds a groupBy whose shuffle already spreads
    # the aggregation; the extra exchange cost more than it saved
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "idf_milli",
            F.floor(F.col("n_docs") * 1000 / F.col("df")).cast("long"),
        )
        .withColumn("score", (F.col("tf") * F.col("idf_milli")).cast("long"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "score", F.col("rk").cast("int").alias("rk"))
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash-Bernoulli sampling with a per-stratum rate:
    keep a row iff u32(md5(salt:id)) < rate * 2^32. Reproducible
    across engines, runs, and partitionings — unlike df.sample(),
    which is seed-AND-partitioning dependent and so can't be
    oracle-checked or replayed.

    Scale: a narrow filter — no shuffle, no state; the decision is a
    pure function of the row. Exactly what you want for carving
    training mixes out of 100 TB: each executor decides locally, and
    re-running with the same salt reproduces the same sample even
    after repartitioning or file reordering. Thresholds are
    precomputed integer literals, so the comparison is integer-only.
    """
    u32 = sample_hash_u32(id_col, salt)
    thresholds = {s: int(r * 2**32) for s, r in rates.items()}
    thr = F.lit(int(default_rate * 2**32))
    for s, t in sorted(thresholds.items()):
        thr = F.when(F.col(stratum_col) == s, F.lit(t)).otherwise(thr)
    return df.filter(u32 < thr)


def _gram_hash_pair(col: Column):
    """A gram's 128-bit identity as two JVM xxhash64 columns (distinct
    seeds via a salt literal). Everything downstream of the shingle
    scan — bloom build, bloom probe, confirm join — operates on this
    pair, so gram STRINGS never leave the scan stage: the persisted
    train projection, the Arrow transfer to the probe kernel, and the
    join keys are all fixed-width int64."""
    return F.xxhash64(col), F.xxhash64(F.lit("km-b"), col)


# The Bloom filter of bloom_screen: 2^20 bits (128 KiB whatever the
# suite size) and 5 probes per gram.
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 5


def _bloom_positions(ha, hb, num_bits: int, k_hashes: int):
    """(n,) int64 hash pairs -> (n, k) bit positions. Pure numpy,
    uint64 wraparound arithmetic (Kirsch-Mitzenmacher h1 + i*h2 with
    h1 = ha >> 4, h2 = hb | 1); build and probe both route through
    THIS function, so consistency is by construction."""
    import numpy as np

    h1 = ha.astype(np.uint64) >> np.uint64(4)
    h2 = hb.astype(np.uint64) | np.uint64(1)
    i = np.arange(k_hashes, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(num_bits)).astype(
        np.int64
    )


def _bloom_build(has, hbs, num_bits: int, k_hashes: int):
    """Build a bitarray Bloom filter from pre-hashed (ha, hb) int64
    arrays, fully vectorized. Driver-side: the benchmark gram set is
    the SMALL side by contract (eval suites are MBs against a 100 TB
    corpus). Bits are set independently per element, so the OR of two
    filters is the filter of the union (pinned in
    tests/test_r9_properties.py)."""
    import numpy as np

    bits = np.zeros((num_bits + 7) // 8, dtype=np.uint8)
    p = _bloom_positions(
        np.asarray(has, dtype=np.int64),
        np.asarray(hbs, dtype=np.int64),
        num_bits,
        k_hashes,
    )
    np.bitwise_or.at(bits, p >> 3, (np.uint8(1) << (p & 7).astype(np.uint8)))
    return bits


# --- The Bloom screen shared by batch, incremental and streaming
# decontamination: suite pairs are collected driver-side (eval suites
# are MBs by contract), corpus grams are a persisted flat int64
# projection, and bloom_screen is the one prefilter + confirm join. ---


def suite_gram_pairs(
    suite: DataFrame, text_col: str, n: int, tag: Column
) -> dict:
    """Distinct (ha, hb) gram hash pairs of a benchmark suite per value
    of `tag`, as {int tag: (m, 2) int64 array}, in ONE Spark job.
    Iteration yields only tags with grams; looking up any other tag
    gives an empty (0, 2) array. Per-doc array_distinct keeps the
    collected rows small; np.unique dedups across docs."""
    from collections import defaultdict

    import numpy as np

    ha, hb = _gram_hash_pair(F.col("__g"))
    rows = (
        suite.select(
            tag.alias("__tag"),
            tokens(text_col).alias("__t"),
        )
        .select(
            "__tag",
            F.explode(
                F.array_distinct(shingles(text_col, n, toks=F.col("__t")))
            ).alias("__g"),
        )
        .select("__tag", ha.alias("__ha"), hb.alias("__hb"))
        .collect()
    )
    by_tag: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_tag.setdefault(int(r["__tag"]), []).append((r["__ha"], r["__hb"]))
    out = defaultdict(lambda: np.empty((0, 2), dtype=np.int64))
    for t, p in by_tag.items():
        out[t] = np.unique(np.array(p, dtype=np.int64), axis=0)
    return out


def corpus_gram_rows(
    train: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """The corpus side of the screen: one persisted (id, __ha, __hb) row
    per distinct gram of each doc, so the text is tokenized and hashed
    ONCE however many screens and spines read it. explode_outer keeps a
    doc with no grams as one row with NULL hashes, so per-doc spines
    see every doc (count("__ha") is its gram count). Flat int64 rows
    columnar-cache at ~3 words/gram; an earlier persist of the nested
    struct-array column cost more to materialize than it saved."""

    def _pair_struct(g):
        ga, gb = _gram_hash_pair(g)
        return F.struct(ga.alias("a"), gb.alias("b"))

    tr = train.select(F.col(id_col), tokens(text_col).alias("__t")).select(
        F.col(id_col),
        F.transform(
            F.array_distinct(shingles(text_col, n, toks=F.col("__t"))),
            _pair_struct,
        ).alias("__gh"),
    )
    return track_persist(
        tr.select(id_col, F.explode_outer("__gh").alias("__e")).select(
            id_col, F.col("__e.a").alias("__ha"), F.col("__e.b").alias("__hb")
        )
    )


def bloom_screen(grams: DataFrame, pairs, id_col: str) -> DataFrame:
    """Per-doc confirmed hit counts (id, __hits) of corpus gram rows
    `grams` (corpus_gram_rows, or a subset of them) against the suite
    gram pairs `pairs` ((m, 2) int64, from suite_gram_pairs).

    The pairs' Bloom filter (BLOOM_BITS/8 bytes whatever the suite
    size) broadcasts to an Arrow pandas_udf that prefilters the corpus
    grams with vectorized numpy bit probes, so only ~|true hits| +
    fp_rate*|grams| rows reach the confirm join. The confirm join on
    the 128-bit pair kills every false positive (two different grams
    colliding on all 128 bits is the only divergence from the exact
    join, ~|grams|*|pairs|/2^128), so the result is exact. Its build
    side is an Arrow createDataFrame of the already-collected pairs (a
    LocalRelation: the broadcast table is built with no Spark job; a
    suite too big to collect would swap in an in-plan distinct and a
    shuffle join). Docs with no hit have no row."""
    import numpy as np
    import pandas as pd

    spark = grams.sparkSession
    bc = spark.sparkContext.broadcast(
        _bloom_build(pairs[:, 0], pairs[:, 1], BLOOM_BITS, BLOOM_HASHES)
    )

    @F.pandas_udf("boolean")
    def _might_contain(ha, hb):  # type: ignore[no-untyped-def]
        arr = bc.value
        p = _bloom_positions(
            ha.to_numpy(dtype=np.int64),
            hb.to_numpy(dtype=np.int64),
            BLOOM_BITS,
            BLOOM_HASHES,
        )
        hit = ((arr[p >> 3] >> (p & 7).astype(np.uint8)) & 1).all(axis=1)
        return pd.Series(hit)

    confirm = spark.createDataFrame(
        pd.DataFrame({"__ha": pairs[:, 0], "__hb": pairs[:, 1]}),
        schema="__ha long, __hb long",
    )
    # the NULL guard keeps explode_outer's gram-less rows out of the
    # Python kernel (the confirm join would drop them anyway)
    return (
        grams.filter(
            F.col("__ha").isNotNull()
            & _might_contain(F.col("__ha"), F.col("__hb"))
        )
        .join(F.broadcast(confirm), ["__ha", "__hb"])
        .groupBy(id_col)
        .agg(F.count("*").alias("__hits"))
    )


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination with a Bloom-filter PREFILTER and a
    confirm join on the gram's 128-bit xxhash64 pair — same output as
    decontaminate_ngrams (the confirm join makes bloom_screen exact),
    so the exact-SQL oracle still applies.

    Why a bloom when the broadcast semi-join already works: the
    broadcast side is the full gram set (~GBs for a large eval suite);
    the bloom is BLOOM_BITS/8 bytes regardless (128 KiB) and the
    prefilter drops the overwhelmingly-clean corpus grams BEFORE the
    join, so the shuffle/probe volume collapses from |train grams| to
    |bloom hits|. One suite collect, one persisted
    corpus gram projection (serving the screen and the per-doc
    totals), one screen.
    """
    pairs = suite_gram_pairs(benchmark, text_col, n, F.lit(0))
    ex = corpus_gram_rows(
        fan_out_scan(train.select(id_col, text_col)), text_col, id_col, n
    )
    hits = bloom_screen(ex, pairs[0], id_col)
    totals = ex.groupBy(id_col).agg(
        F.count("__ha").cast("long").alias("n_shingles")
    )
    n_cont = F.coalesce(F.col("__hits"), F.lit(0)).cast("long")
    # no broadcast hint on hits: usually tiny (contaminated docs) but
    # unbounded at scale -- let AQE pick broadcast when it measures small
    return totals.join(hits, id_col, "left").select(
        F.col(id_col),
        "n_shingles",
        n_cont.alias("n_contaminated"),
        (n_cont > 0).alias("contaminated"),
    )


def bloom_decontaminate_incremental(
    train: DataFrame,
    bench_base: DataFrame,
    bench_delta: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 4,
) -> DataFrame:
    """Incremental decontamination refresh: the benchmark suite arrives
    in batches, and re-screening the corpus against a NEW batch must
    cost O(|delta suite| + |base-clean corpus|), never a from-scratch
    rebuild.

    Mechanics: per-batch Bloom filters are MERGEABLE (OR == the bloom
    of the union set, see _bloom_build), so the standing corpus-screen
    artifact is `bloom_base | bloom_delta` while the incremental pass
    itself screens ONLY the docs that cleared the base screen against
    ONLY the delta pairs: a doc already quarantined by the base suite
    is never re-read.

    Output: one row per train doc -- (id, status, n_hits) with status
    'base' (hit the base suite), 'delta' (cleared base, hit the new
    batch -- the rows the refresh exists to find), or 'clean'. The
    screens are exact, so the SQL twin is the plain two-batch
    intersection with CASE priority base > delta.

    100 TB shape: one tagged suite collect for both batches; one corpus
    text scan (the persisted gram rows serve the base screen, the delta
    screen and the per-doc spine); the delta screen's input is the
    base-clean subset via a broadcast-able anti-join on doc id.
    """
    suite = bench_base.select(text_col, F.lit(0).alias("__b")).unionByName(
        bench_delta.select(text_col, F.lit(1).alias("__b"))
    )
    pairs = suite_gram_pairs(suite, text_col, n, F.col("__b"))
    ex = corpus_gram_rows(
        fan_out_scan(train.select(id_col, text_col)), text_col, id_col, n
    )
    base_hits = track_persist(bloom_screen(ex, pairs[0], id_col))
    # the anti side is the contaminated id set, small in practice; at
    # cluster scale AQE measures it
    clean_ex = ex.join(F.broadcast(base_hits.select(id_col)), id_col, "left_anti")
    delta_hits = bloom_screen(clean_ex, pairs[1], id_col)

    spine = ex.groupBy(id_col).agg(
        F.count("__ha").cast("long").alias("__n_shingles")
    )
    bh = F.coalesce(F.col("__bh"), F.lit(0)).cast("long")
    dh = F.coalesce(F.col("__dh"), F.lit(0)).cast("long")
    return (
        spine.join(base_hits.withColumnRenamed("__hits", "__bh"), id_col, "left")
        .join(delta_hits.withColumnRenamed("__hits", "__dh"), id_col, "left")
        .select(
            F.col(id_col),
            F.when(bh > 0, F.lit("base"))
            .when(dh > 0, F.lit("delta"))
            .otherwise(F.lit("clean"))
            .alias("status"),
            F.when(bh > 0, bh).when(dh > 0, dh).otherwise(F.lit(0))
            .cast("long")
            .alias("n_hits"),
        )
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    cap: int,
    salt: str = "cap",
) -> DataFrame:
    """Per-domain document cap: deterministically rank each domain's
    docs by (md5(salt:id), id) and flag rank <= cap. The md5 orders
    docs pseudo-randomly WITHIN a domain, so the cap keeps an unbiased
    sample rather than the lowest ids; the id tiebreak makes it total.

    The workhorse of domain balancing (a handful of template-heavy
    hosts otherwise dominate a web corpus). One hash-partitioned
    window per domain; skew note: a pathological mega-domain serializes
    its own rank() — cap it upstream with a cheap groupBy count filter
    if a single domain exceeds task-memory row counts.
    """
    rk = F.row_number().over(
        Window.partitionBy(domain_col).orderBy(*sample_order(id_col, salt))
    )
    return df.select(
        F.col(id_col),
        F.col(domain_col),
        rk.cast("long").alias("cap_rank"),
        (rk <= cap).alias("kept"),
    )


def collocation_pmi(
    docs: DataFrame, text_col: str, min_count: int = 5, k: int = 100
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information over
    the whole corpus: which adjacent word pairs co-occur far more
    often than their unigram frequencies predict (the classic
    collocation-extraction signal; PMI = log N·c(xy)/(c(x)·c(y))).

    Bit-portability: the score is the INTEGER ppm-scaled lift
    ``c_xy * N * 1e6 div (c_x * c_y)`` computed in DECIMAL(20,0)
    arithmetic -- monotone in PMI (log is monotone), exact in both
    engines (the DuckDB twin uses HUGEINT ``//``), and overflow-safe
    to beyond 10^13 corpus tokens (~100 TB of text), verified against
    Python big-int floor division. Ties break on (w1, w2), which is
    unique after the group-by, so the top-k is a total order.

    Scale shape: two map-side-combinable aggregates (unigram counts =
    the vocabulary table, bigram counts via a transform/explode that
    never materializes more than the token stream), the 1-row corpus
    total broadcast, and two vocab joins the optimizer is free to
    broadcast when the vocabulary is small (it grows with content,
    not corpus size, so it is NOT hand-broadcast). The min-count
    filter runs BEFORE the vocab joins, so the scored set is the rare
    tail's complement, and the global top-k is Spark's
    TakeOrderedAndProject -- per-partition top-k, k-row merge, no
    full sort.
    """
    toks = track_persist(docs.select(tokens(text_col).alias("__toks")))
    uni = track_persist(
        toks.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n_tok = uni.agg(F.sum("c").cast("long").alias("n_tok"))
    bi = (
        toks.filter(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__toks) - 1),"
                    " i -> struct(__toks[i-1] AS w1, __toks[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_w2"))
    scored = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .withColumn(
            "pmi_ratio_ppm",
            F.expr(
                "CAST(CAST(c_xy AS DECIMAL(20,0)) * n_tok * 1000000"
                " div (CAST(c_w1 AS DECIMAL(20,0)) * c_w2) AS BIGINT)"
            ),
        )
    )
    top = scored.orderBy(F.desc("pmi_ratio_ppm"), "w1", "w2").limit(k)
    w = Window.orderBy(F.desc("pmi_ratio_ppm"), "w1", "w2")
    return top.select(
        "w1",
        "w2",
        "c_xy",
        "c_w1",
        "c_w2",
        "pmi_ratio_ppm",
        F.row_number().over(w).cast("int").alias("rk"),
    )
