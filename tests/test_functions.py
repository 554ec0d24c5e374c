"""Kernel unit tests + property-based invariants (hypothesis)."""

from __future__ import annotations

import hashlib
import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.dedup import keep_first


def _py_b62(n: int) -> str:
    chars = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    if n == 0:
        return "0"
    out = []
    while n:
        n, r = divmod(n, 62)
        out.append(chars[r])
    return "".join(reversed(out))


def _decode_b62(s: str) -> int:
    chars = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    back = 0
    for ch in s:
        back = back * 62 + chars.index(ch)
    return back


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**128 - 1), min_size=1, max_size=50
    )
)
def test_b62_roundtrip_decodable(spark, ns):
    """Every base62_of_md5 output decodes back to the 128-bit integer
    whose 32-digit hex went in."""
    from etl_building_inspector_spark.functions.ids import base62_of_md5

    df = spark.createDataFrame([(f"{n:032x}",) for n in ns], "h string")
    for r in df.select("h", base62_of_md5(F.col("h")).alias("b62")).collect():
        assert _decode_b62(r.b62) == int(r.h, 16)


def test_b62_udf_matches_reference_semantics(spark):
    """base62(md5 hex) matches a hand computation (the base-62.js
    encodeHex contract used at building-inspector.js:209)."""
    from etl_building_inspector_spark.functions.ids import base62_of_md5

    samples = ["2.0,2.0", "0.5,0.5", "-73.98,40.75"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    rows = df.select(
        "s", base62_of_md5(F.md5("s")).alias("b62")
    ).collect()
    for r in rows:
        h = hashlib.md5(r.s.encode()).hexdigest()
        assert r.b62 == _py_b62(int(h, 16))


def test_base62_of_md5_matches_python_bigint(spark):
    """base62_of_md5 equals Python's whole-integer divmod (the
    base-62.js encodeHex contract used at building-inspector.js:209) on
    2,000 seeded md5s and on the hex values at the edges of its
    32-bit limbs: zero, one, all ones, a lone limb set or clear, and a
    NULL, which stays NULL."""
    from etl_building_inspector_spark.functions.ids import base62_of_md5

    rng = random.Random(7)
    hexes = [hashlib.md5(str(rng.random()).encode()).hexdigest() for _ in range(2000)]
    hexes += [
        "0" * 32,
        "0" * 31 + "1",
        "f" * 32,
        "00000000ffffffff00000000ffffffff",
        "ffffffff00000000ffffffff00000000",
        "00000001" + "0" * 24,
        "0" * 24 + "0000003e",
        None,
    ]
    df = spark.createDataFrame([(h,) for h in hexes], "h string")
    got = dict(df.select("h", base62_of_md5(F.col("h")).alias("b62")).collect())
    assert got == {h: None if h is None else _py_b62(int(h, 16)) for h in hexes}


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=30,
    )
)
def test_keep_first_properties(spark, rows):
    """keep_first is (a) idempotent, (b) returns one row per key,
    (c) returns the minimal order value per key."""
    df = spark.createDataFrame(rows, "k int, seq int")
    out = keep_first(df, ["k"], ["seq"]).collect()
    keys = [r.k for r in out]
    assert len(keys) == len(set(keys)) == len({k for k, _ in rows})
    expected_min = {}
    for k, seq in rows:
        expected_min[k] = min(expected_min.get(k, seq), seq)
    assert {r.k: r.seq for r in out} == expected_min
    # idempotence
    again = keep_first(
        spark.createDataFrame(out), ["k"], ["seq"]
    ).collect()
    assert sorted((r.k, r.seq) for r in again) == sorted(
        (r.k, r.seq) for r in out
    )


def test_fanout_invariants(spark, sf_dir):
    """E2: every order emits exactly 2 relations (the reference's
    mapwarperRelations contract, building-inspector.js:183-202)."""
    from etl_building_inspector_spark.plans.queries_core import e2_relation_fanout
    from etl_building_inspector_spark.sources.tables import load_table

    n_orders = load_table(spark, sf_dir, "orders").count()
    fanned = e2_relation_fanout(spark, sf_dir)
    assert fanned.count() == 2 * n_orders
    per_source = fanned.groupBy("rel_from").count().select("count").distinct()
    assert [r["count"] for r in per_source.collect()] == [2]


def test_minhash_jaccard_correlation(spark):
    """MinHash property: identical docs collide on every hash; disjoint
    docs collide on (practically) none."""
    from etl_building_inspector_spark.operators.dedup import minhash_signature

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
        ],
        "doc_id int, text string",
    )
    sig = minhash_signature(docs, "text", k=8).collect()
    by_id = {r.doc_id: [r[f"minhash_{i}"] for i in range(8)] for r in sig}
    assert by_id[1] == by_id[2]
    agree_13 = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert agree_13 == 0


def test_approx_error_bounds(spark, sf_dir):
    """Sketch aggregates have no portable oracle; pin their error
    against exact answers instead (HLL rsd default 5%; KLL median
    within the p40-p60 band)."""
    from etl_building_inspector_spark.plans.queries_surface import (
        agg_approx_sketches,
    )
    from etl_building_inspector_spark.sources.tables import load_table

    approx = {r.l_returnflag: r for r in agg_approx_sketches(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n"),
            F.expr("percentile(l_extendedprice, 0.4)").alias("p40"),
            F.expr("percentile(l_extendedprice, 0.6)").alias("p60"),
        )
        .collect()
    }
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a.approx_orders - e.n) / e.n < 0.10
        assert e.p40 <= a.approx_median_price <= e.p60
        assert a.qty_p25 <= a.qty_p75


def test_hypertable_rollup_levels_lossless(spark, sf_dir):
    """Every derived level must equal the same aggregation computed
    directly from raw events (re-aggregation of algebraic partials)."""
    from etl_building_inspector_spark.operators.rollup import (
        hypertable_rollup,
        rollup_base,
    )
    from etl_building_inspector_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    levels = hypertable_rollup(ev, ("1 minute", "1 hour", "1 day"))
    for res in ("1 hour", "1 day"):
        derived = {
            (r.bucket_start, r.event_type): (r.n_events, round(r.sum_value, 6))
            for r in levels[res].collect()
        }
        direct = {
            (r.bucket_start, r.event_type): (r.n_events, round(r.sum_value, 6))
            for r in rollup_base(ev, res).collect()
        }
        assert derived == direct, res


def test_winnow_guarantee_shared_run_yields_shared_fp(spark):
    """The winnowing GUARANTEE (MOSS): any shared token run of length
    >= k + w - 1 produces at least one common fingerprint. Randomized
    batch: 30 doc pairs, each sharing a planted run inside otherwise
    unrelated noise; all pairs checked in one Spark job."""
    import random

    from etl_building_inspector_spark.functions.text import (
        _u32_of,
        shingles,
        winnow_fingerprints,
    )
    from etl_building_inspector_spark.plans.queries_llm3 import (
        WINNOW_K,
        WINNOW_W,
    )

    rng = random.Random(42)
    run_len = WINNOW_K + WINNOW_W - 1

    def words(n, tag):
        return [f"{tag}{rng.randrange(10**6)}" for _ in range(n)]

    rows = []
    for pair in range(30):
        shared = [f"shared{pair}x{i}" for i in range(run_len + rng.randrange(4))]
        a = words(rng.randrange(0, 30), "a")
        b = words(rng.randrange(0, 30), "b")
        ia = rng.randrange(len(a) + 1)
        ib = rng.randrange(len(b) + 1)
        doc_a = " ".join(a[:ia] + shared + a[ia:])
        doc_b = " ".join(b[:ib] + shared + b[ib:])
        rows.append((pair, 0, doc_a))
        rows.append((pair, 1, doc_b))
    df = spark.createDataFrame(rows, "pair int, side int, text string")
    staged = df.withColumn(
        "__h", F.transform(shingles("text", WINNOW_K), _u32_of)
    )
    fps = staged.select(
        "pair",
        "side",
        winnow_fingerprints(
            "text", WINNOW_K, WINNOW_W, hashes=F.col("__h")
        ).alias("fps"),
    ).collect()
    by_key = {(r["pair"], r["side"]): set(r["fps"]) for r in fps}
    for pair in range(30):
        common = by_key[(pair, 0)] & by_key[(pair, 1)]
        assert common, f"pair {pair}: shared run produced no common fp"


def _py_convex_intersects(ra, rb):
    """Reference SAT in plain python (closed CCW integer rings)."""
    def separates(p, q):
        for i in range(len(p) - 1):
            (ax, ay), (bx, by) = p[i], p[i + 1]
            if all((bx - ax) * (vy - ay) - (by - ay) * (vx - ax) < 0 for vx, vy in q):
                return True
        return False

    return not separates(ra, rb) and not separates(rb, ra)


def _rand_convex(rng, cx, cy, r):
    """Random convex CCW integer polygon: convex hull (monotone chain)
    of random integer points in a disc -- hull of any point set is
    convex and CCW by construction, surviving integer coordinates."""
    pts = {
        (cx + rng.randint(-r, r), cy + rng.randint(-r, r)) for _ in range(12)
    }
    pts = sorted(pts)
    if len(pts) < 3:
        pts = [(cx - r, cy - r), (cx + r, cy - r), (cx, cy + r)]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(list(reversed(pts)))
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        hull = [(cx - r, cy - r), (cx + r, cy - r), (cx, cy + r)]
    return [list(p) for p in hull + [hull[0]]]


def test_convex_sat_matches_python_reference(spark):
    """convex_intersects (Spark column expression) vs the plain-python
    SAT on 60 random convex-polygon pairs spanning overlapping,
    touching-ish, and disjoint placements -- one Spark job."""
    import random

    from etl_building_inspector_spark.operators.spatial import (
        convex_intersects,
    )

    rng = random.Random(7)
    cases = []
    for i in range(60):
        ra = _rand_convex(rng, 0, 0, rng.randint(2, 8))
        # offsets chosen to mix definite hits, near misses, and far misses
        dx, dy = rng.randint(-12, 12), rng.randint(-12, 12)
        rb = _rand_convex(rng, dx, dy, rng.randint(2, 8))
        cases.append((i, ra, rb, _py_convex_intersects(ra, rb)))
    df = spark.createDataFrame(
        [(i, a, b) for i, a, b, _ in cases],
        "i int, ra array<array<bigint>>, rb array<array<bigint>>",
    )
    got = {
        r["i"]: r["hit"]
        for r in df.select(
            "i", convex_intersects(F.col("ra"), F.col("rb")).alias("hit")
        ).collect()
    }
    hits = sum(1 for _, _, _, w in cases if w)
    assert 5 <= hits <= 55  # the batch genuinely mixes both outcomes
    for i, _, _, want in cases:
        assert got[i] == want, f"case {i}"
