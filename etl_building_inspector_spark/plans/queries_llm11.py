"""Eleventh LLM-pipeline batch: data-governance and lossless
set-similarity — the compliance/scale-path operators a 100 TB curation
pipeline runs before anything ships to training.

- privacy_k_anonymity: quasi-identifier group-size audit (Sweeney,
  IJUFKS 2002) — the re-identification risk report.
- privacy_contribution_cap: per-user contribution bounding, the
  sensitivity-control step every user-level DP aggregate needs
  BEFORE noise (the deterministic part, which is what an engine owns).
- dedup_jaccard_prefix_filter: COMPLETE threshold self-join via
  AllPairs prefix filtering (Bayardo et al., WWW'07) — the lossless
  alternative to the df-capped jaccard join.
- sketch_bloom_fpr_eval: realized Bloom false-positive rate against
  the exact anti-join truth (eval-as-data, like the CM/HLL evals).
- schema_evolution_union: union-by-name over two parquet schema
  versions with per-version null accounting (the ingest reality:
  yesterday's files lack today's columns).

Discipline as everywhere: oracles generated from the same constants,
integer domains (cents, ppm, cross-multiplied thresholds),
deterministic tiebreaks, no libm transcendentals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .queries_llm import (
    SHINGLE_N,
    _DOCS_WITH_DUPS_SQL,
    _NORM,
    _TOKS,
    _docs_with_dups,
    _shingles_sql,
)
from .registry import query


# shared constants
KANON_K = 4  # groups smaller than this violate k-anonymity
CONTRIB_CAP = 3  # max orders any one customer contributes
PREFIX_T_PCT = 60  # Jaccard threshold as integer percent
BLOOM_BITS = 1024
BLOOM_K = 3


# ---------------------------------------------------------------------------
# k-anonymity audit: group the table by its quasi-identifier tuple
# (nation, market segment, account-balance band) and report every
# group smaller than K — the rows a release would re-identify.
# Balance bands in integer cents, shifted positive so truncating DIV
# (Spark) and flooring // (DuckDB) agree on negative balances.
# ---------------------------------------------------------------------------

# c_acctbal >= -999.99 → cents >= -99999; +100000 keeps DIV == floor
_BAND = "(({cents}) + 100000) {div} 100000"


def _kanon_sql() -> str:
    cents = "CAST(round(c_acctbal * 100, 0) AS BIGINT)"
    band = _BAND.format(cents=cents, div="//")
    return f"""
SELECT CAST(c_nationkey AS INT) AS c_nationkey,
       c_mktsegment,
       CAST({band} AS BIGINT) AS bal_band,
       CAST(count(*) AS BIGINT) AS group_size
FROM customer
GROUP BY 1, 2, 3
HAVING count(*) < {KANON_K}
ORDER BY c_nationkey, c_mktsegment, bal_band
"""


@query("privacy_k_anonymity", _kanon_sql())
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier group-size audit: every (nation, segment,
    balance-band) cell with fewer than K members — the k-anonymity
    violation report (Sweeney 2002) a release gate reads. 100 TB
    shape: ONE map-side-combined groupBy on the QI tuple; output is
    bounded by the QI-cell count, not the row count."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.expr(
        _BAND.format(cents="CAST(round(c_acctbal * 100, 0) AS BIGINT)", div="DIV")
    ).cast("long")
    return (
        cust.groupBy(
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            "c_mktsegment",
            band.alias("bal_band"),
        )
        .agg(F.count("*").cast("long").alias("group_size"))
        .filter(F.col("group_size") < KANON_K)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


# ---------------------------------------------------------------------------
# Contribution capping: keep each customer's CONTRIB_CAP earliest
# orders (deterministic tiebreak on orderkey), then the monthly
# revenue aggregate alongside the uncapped total — the
# sensitivity-bounding transform user-level DP requires, and the
# capped-vs-total delta is the utility cost made visible.
# ---------------------------------------------------------------------------


def _contrib_sql() -> str:
    return f"""
WITH ranked AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders),
capped AS (
  SELECT month, count(*) AS n_orders_capped,
         sum(cents) AS rev_capped_cents
  FROM ranked WHERE rn <= {CONTRIB_CAP} GROUP BY month),
total AS (
  SELECT month, count(*) AS n_orders_total,
         sum(cents) AS rev_total_cents
  FROM ranked GROUP BY month)
SELECT t.month,
       CAST(coalesce(c.n_orders_capped, 0) AS BIGINT) AS n_orders_capped,
       CAST(t.n_orders_total AS BIGINT) AS n_orders_total,
       CAST(coalesce(c.rev_capped_cents, 0) AS BIGINT) AS rev_capped_cents,
       CAST(t.rev_total_cents AS BIGINT) AS rev_total_cents
FROM total t LEFT JOIN capped c ON c.month = t.month
ORDER BY t.month
"""


@query("privacy_contribution_cap", _contrib_sql())
def privacy_contribution_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user contribution bounding: each customer keeps only their
    CONTRIB_CAP earliest orders (orderdate, orderkey tiebreak), then
    monthly revenue is aggregated from the capped set next to the
    uncapped total. Bounding per-user contribution is the sensitivity
    prerequisite of every user-level DP release; the engine's job is
    the deterministic cap, and the capped/total gap reports the
    utility cost. 100 TB shape: one shuffle on o_custkey for the
    window, then map-side-combined month aggregates (bounded keys);
    no joins against raw rows."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    capped = (
        ranked.filter(F.col("rn") <= CONTRIB_CAP)
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders_capped"),
            F.sum("cents").alias("rev_capped_cents"),
        )
    )
    total = ranked.groupBy("month").agg(
        F.count("*").alias("n_orders_total"),
        F.sum("cents").alias("rev_total_cents"),
    )
    return (
        total.join(capped, "month", "left")
        .select(
            "month",
            F.coalesce("n_orders_capped", F.lit(0)).cast("long").alias("n_orders_capped"),
            F.col("n_orders_total").cast("long").alias("n_orders_total"),
            F.coalesce("rev_capped_cents", F.lit(0)).cast("long").alias("rev_capped_cents"),
            F.col("rev_total_cents").cast("long").alias("rev_total_cents"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Lossless threshold self-join: AllPairs prefix filtering over
# distinct 3-shingle sets (operators/dedup.jaccard_prefix_filter_pairs
# documents the theorem and the 100 TB shape). The oracle replicates
# the SAME pipeline; the completeness guarantee itself is pinned by a
# brute-force property test (test_llm11.py), which the shared-steps
# oracle cannot check.
# ---------------------------------------------------------------------------


def _prefix_filter_sql() -> str:
    return f"""
WITH {_DOCS_WITH_DUPS_SQL.strip()},
tk AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
sh0 AS (SELECT doc_id, unnest(list_distinct({_shingles_sql("toks", SHINGLE_N)})) AS sh0 FROM tk),
sh AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(sh0), 1, 15)) AS BIGINT) AS sh
       FROM sh0),
dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
ordered AS (
  SELECT x.doc_id, x.sh,
         count(*) OVER (PARTITION BY x.doc_id) AS s,
         row_number() OVER (PARTITION BY x.doc_id ORDER BY d.df, x.sh) AS rn
  FROM sh x JOIN dfreq d ON d.sh = x.sh),
pref AS (
  SELECT doc_id, sh, s FROM ordered
  WHERE rn <= s - (s * {PREFIX_T_PCT} + 99) // 100 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS s_a, b.s AS s_b
  FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id
  WHERE 100 * least(a.s, b.s) >= {PREFIX_T_PCT} * greatest(a.s, b.s)),
inter AS (
  SELECT c.id_a, c.id_b, c.s_a, c.s_b, count(*) AS inter_sh
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
  GROUP BY 1, 2, 3, 4)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(inter_sh AS BIGINT) AS inter_sh,
       CAST(s_a + s_b - inter_sh AS BIGINT) AS union_sh,
       CAST(inter_sh AS DOUBLE) / (s_a + s_b - inter_sh) AS jaccard
FROM inter
WHERE 100 * inter_sh >= {PREFIX_T_PCT} * (s_a + s_b - inter_sh)
"""


@query("dedup_jaccard_prefix_filter", _prefix_filter_sql())
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with shingle-set Jaccard >= 0.6, found WITHOUT a
    doc-frequency cap and WITHOUT all-pairs: AllPairs prefix filtering
    (Bayardo et al. WWW'07). Candidates join only on each doc's
    rarest  s - ceil(0.6 s) + 1  shingles, so boilerplate hot keys
    never enter the join, and the result is provably complete at the
    threshold — the lossless sibling of dedup_ngram_jaccard's capped
    join."""
    from ..operators.dedup import jaccard_prefix_filter_pairs

    docs = _docs_with_dups(spark, sf_dir)
    return jaccard_prefix_filter_pairs(
        docs, "text", "doc_id", shingle_n=SHINGLE_N, threshold_pct=PREFIX_T_PCT
    )


# ---------------------------------------------------------------------------
# Bloom false-positive-rate eval: build a deterministic Bloom filter
# (BLOOM_K md5-slice hashes into BLOOM_BITS bits) over the even-doc
# fingerprints, probe it with odd-doc fingerprints that are TRUE
# non-members (anti-join truth), and report the realized FPR in ppm.
# Like the CM/HLL evals, the sketch's error is itself oracle-checked.
# ---------------------------------------------------------------------------

_FP = f"md5({_NORM})"


def _bloom_pos_sql(h: str, j: int) -> str:
    # j-th 32-bit slice of md5(fingerprint) mod BLOOM_BITS
    return (
        f"CAST(concat('0x', substr({h}, {1 + 8 * j}, 8)) AS BIGINT) % {BLOOM_BITS}"
    )


def _bloom_sql() -> str:
    uni = " UNION ALL ".join(
        f"SELECT fp, ({_bloom_pos_sql('h', j)}) AS pos FROM hpos"
        for j in range(BLOOM_K)
    )
    return f"""
WITH fps AS (SELECT doc_id, {_FP} AS fp FROM documents),
members AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
probes0 AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 1),
probes AS (
  -- NOT EXISTS, not NOT IN: anti-join semantics (a NULL member fp
  -- must not veto every probe), matching the Spark left_anti twin
  SELECT fp FROM probes0 p
  WHERE NOT EXISTS (SELECT 1 FROM members m WHERE m.fp = p.fp)),
hpos_m AS (SELECT fp, md5(fp) AS h FROM members),
bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT ({_bloom_pos_sql('h', j)}) AS pos FROM hpos_m" for j in range(BLOOM_K))})),
hpos AS (SELECT fp, md5(fp) AS h FROM probes),
ppos AS ({uni}),
hits AS (
  SELECT p.fp, count(*) AS n_hit
  FROM ppos p JOIN bits ON bits.pos = p.pos
  GROUP BY p.fp)
SELECT CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
       CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
       CAST((SELECT count(*) FROM probes) AS BIGINT) AS n_probes,
       CAST(count(*) AS BIGINT) AS n_false_pos,
       CAST(1000000 * count(*) // (SELECT count(*) FROM probes) AS BIGINT) AS fpr_ppm
FROM hits WHERE n_hit = {BLOOM_K}
"""


@query("sketch_bloom_fpr_eval", _bloom_sql())
def sketch_bloom_fpr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized Bloom-filter false-positive rate: members = even-doc
    fingerprints hashed into BLOOM_BITS bits by BLOOM_K md5 slices;
    probes = odd-doc fingerprints that are exactly NOT members
    (anti-join ground truth); a probe whose K positions are all set is
    a false positive. 100 TB shape: the filter state aggregates to at
    most BLOOM_BITS rows — broadcastable no matter the member count —
    so probing is a broadcast semi-join, and building it is one
    map + distinct. What it shares with decontaminate_bloom's filter
    (operators/textops.py::bloom_screen) is the Bloom rule only: k
    positions per member, and a probe hits when all k bits are set.
    The construction differs: here the positions are k 32-bit md5
    slices mod BLOOM_BITS and the bit set is a table of set positions;
    the operator derives its positions from two xxhash64 columns by
    Kirsch-Mitzenmacher double hashing into a numpy bit array. So this
    realized rate is this filter's, not a measurement of the
    operator's."""
    from ..functions.text import fingerprint

    from ..operators._cache import track_persist

    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select("doc_id", fingerprint("text").alias("fp"))
    members = track_persist(
        fps.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
    )
    probes = track_persist(
        fps.filter(F.col("doc_id") % 2 == 1)
        .select("fp")
        .distinct()
        .join(members, "fp", "left_anti")
    )

    def positions(df: DataFrame) -> DataFrame:
        h = df.withColumn("h", F.md5("fp"))
        pos = F.explode(
            F.array(
                *[
                    (
                        F.conv(F.substring("h", 1 + 8 * j, 8), 16, 10).cast("long")
                        % BLOOM_BITS
                    )
                    for j in range(BLOOM_K)
                ]
            )
        )
        return h.select("fp", pos.alias("pos"))

    bits = track_persist(positions(members).select("pos").distinct())
    ppos = positions(probes)
    hits = (
        ppos.join(F.broadcast(bits), "pos")
        .groupBy("fp")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == BLOOM_K)
    )
    # every side aggregates to ONE row before the crossJoins — the
    # plan stays lazy (no driver-side .count() jobs) and each join is
    # a broadcast of a single row
    f_cnt = hits.agg(F.count("*").cast("long").alias("n_false_pos"))
    m_cnt = members.agg(F.count("*").cast("long").alias("n_members"))
    b_cnt = bits.agg(F.count("*").cast("long").alias("n_bits_set"))
    p_cnt = probes.agg(F.count("*").cast("long").alias("n_probes"))
    return (
        f_cnt.crossJoin(F.broadcast(m_cnt))
        .crossJoin(F.broadcast(b_cnt))
        .crossJoin(F.broadcast(p_cnt))
        .select(
            "n_members",
            "n_bits_set",
            "n_probes",
            "n_false_pos",
            F.expr("1000000 * n_false_pos DIV n_probes").cast("long").alias("fpr_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Schema-evolution union: two projected "file versions" of orders
# (v1 lacks status/date, v2 lacks totalprice), unioned BY NAME with
# missing columns as NULL, then per-version row/null accounting —
# the ingest-time reality check that older files still read correctly
# after a column is added.
# ---------------------------------------------------------------------------


def _schema_union_sql() -> str:
    return """
WITH unioned AS (
  SELECT 'v1' AS src_version, o_orderkey, o_custkey,
         o_totalprice, NULL AS o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL BY NAME
  SELECT 'v2' AS src_version, o_orderkey, o_custkey,
         CAST(NULL AS DOUBLE) AS o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 1)
SELECT src_version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_price,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_status,
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 0
                ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT)
         AS price_cents_sum
FROM unioned
GROUP BY src_version
ORDER BY src_version
"""


@query("schema_evolution_union", _schema_union_sql())
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True) over two schema versions
    of the same table — v1 files predate the status column, v2 files
    dropped the price — with per-version null accounting proving the
    missing columns surfaced as NULLs (not misaligned positions, the
    classic UNION ALL bug). 100 TB shape: map-only union of scans +
    one bounded-key aggregate; the by-name alignment is resolved at
    plan time, costing nothing at run time."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.lit("v1").alias("src_version"), "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.lit("v2").alias("src_version"),
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return (
        unioned.groupBy("src_version")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_price"),
            F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_status"),
            F.sum(
                F.when(F.col("o_totalprice").isNull(), F.lit(0)).otherwise(
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                )
            )
            .cast("long")
            .alias("price_cents_sum"),
        )
        .orderBy("src_version")
    )
