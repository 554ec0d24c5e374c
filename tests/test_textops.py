"""Unit tests for the corpus-curation operators (operators/textops.py,
connected_components, quantize_int8_stats): hand-computed values,
determinism properties, and plan-shape assertions. The end-to-end
DuckDB oracle conformance for the registered queries lives in
test_queries_oracle.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.graph import connected_components
from etl_building_inspector_spark.operators.similarity import quantize_int8_stats
from etl_building_inspector_spark.operators.textops import (
    decontaminate_ngrams,
    pii_counts,
    redact_pii,
    repetition_stats,
    stratified_sample,
    tfidf_topk_terms,
)


# --- connected components -------------------------------------------------


def test_cc_chain_collapses_to_one_component(spark):
    """A path graph 1-2-3-4-5 needs label propagation across multiple
    hops (diameter 4) — exactly what a naive one-round min-join gets
    wrong."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["id_a", "id_b"]
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cc_two_components_and_isolated_pair(spark):
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (30, 31)], ["id_a", "id_b"]
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert out == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_cc_alternating_matches_min_label(spark):
    """large-star/small-star must agree with min-label propagation on
    adversarial shapes: a LONG PATH (diameter 19 — where min-label
    needs ~19 rounds and alternating needs O(log n)), a high-degree
    HUB, a clique, random unions, an isolated self-loop node, and
    reversed/duplicated edges."""
    import random

    from etl_building_inspector_spark.operators.graph import (
        connected_components_alternating,
    )

    rng = random.Random(7)
    path = [(i, i + 1) for i in range(100, 119)]
    hub = [(200, 200 + i) for i in range(1, 30)]
    clique = [(300 + a, 300 + b) for a in range(5) for b in range(a + 1, 5)]
    rand = [
        (400 + rng.randrange(40), 400 + rng.randrange(40)) for _ in range(60)
    ]
    edges = path + hub + clique + rand + [(999, 999), (119, 100), (1, 2), (1, 2)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    base = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    alt = {
        r["node"]: r["component"]
        for r in connected_components_alternating(df).collect()
    }
    assert alt == base
    assert alt[119] == 100 and alt[229] == 200 and alt[999] == 999


def test_bfs_hops_hand_graph(spark):
    """Path 1-2-3-4-5 with seed {1}: hops bounded at 3 (node 5 absent);
    seed isolated node 99 gets 0; unreachable component {10,11} absent."""
    from etl_building_inspector_spark.operators.graph import sssp_bounded

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    seeds = spark.createDataFrame([(1,), (99,)], ["doc_id"])
    out = {
        r.node: r.dist
        for r in sssp_bounded(edges, seeds, weight=F.lit(1), max_hops=3).collect()
    }
    assert out == {1: 0, 99: 0, 2: 1, 3: 2, 4: 3}


# --- PII ------------------------------------------------------------------


def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or box 10.1.2.3 call 555-0199"),
            (2, "nothing sensitive here"),
        ],
        ["id", "text"],
    )
    counts = pii_counts("text")
    row = (
        df.select(
            "id",
            counts["n_email"].alias("e"),
            counts["n_ip"].alias("i"),
            counts["n_phone"].alias("p"),
            redact_pii("text").alias("red"),
        )
        .orderBy("id")
        .collect()
    )
    assert (row[0]["e"], row[0]["i"], row[0]["p"]) == (1, 1, 1)
    assert row[0]["red"] == "mail me at [EMAIL] or box [IP] call [PHONE]"
    assert (row[1]["e"], row[1]["i"], row[1]["p"]) == (0, 0, 0)
    assert row[1]["red"] == "nothing sensitive here"


def test_pii_redacted_text_is_clean(spark):
    """Redaction is idempotent: a second pass finds nothing."""
    df = spark.createDataFrame(
        [(1, "a@b.io and 1.2.3.4 and 555-1234")], ["id", "text"]
    )
    once = df.select(redact_pii("text").alias("text"))
    counts = pii_counts("text")
    r = once.select(
        (counts["n_email"] + counts["n_ip"] + counts["n_phone"]).alias("n")
    ).collect()[0]
    assert r["n"] == 0


# --- repetition -----------------------------------------------------------


def test_repetition_stats_hand_computed(spark):
    # "a b a b a" -> 2-grams: [a b, b a, a b, b a] : n=4, distinct=2,
    # top=2, dup_frac=0.5, top_frac=0.5
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_stats(df, "text", "doc_id", n=2).collect()
    }
    r1 = rows[1]
    assert (r1["n_grams"], r1["n_distinct_grams"], r1["top_gram_count"]) == (4, 2, 2)
    assert r1["dup_gram_frac"] == 0.5 and r1["top_gram_frac"] == 0.5
    r2 = rows[2]  # single token: no 2-grams, fractions null
    assert r2["n_grams"] == 0 and r2["dup_gram_frac"] is None


# --- decontamination ------------------------------------------------------


def test_decontaminate_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "i saw the quick brown fox jumps away"),  # shares a 4-gram
            (2, "completely unrelated sentence with other words"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in decontaminate_ngrams(train, bench, "text", "doc_id", n=4).collect()
    }
    assert rows[1]["contaminated"] and rows[1]["n_contaminated"] == 2
    assert not rows[2]["contaminated"] and rows[2]["n_contaminated"] == 0


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must hit the probe as a broadcast join —
    at 100 TB the train corpus must not shuffle for this."""
    bench = spark.createDataFrame([(100, "a b c d e")], ["doc_id", "text"])
    train = spark.createDataFrame([(1, "a b c d f")], ["doc_id", "text"])
    plan = decontaminate_ngrams(train, bench, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --- tf-idf ---------------------------------------------------------------


def test_tfidf_topk_deterministic_and_ranked(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana cherry"),
            (2, "banana cherry cherry date"),
            (3, "apple banana cherry date"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_topk_terms(df, "text", "doc_id", k=2)
    rows = [(r["doc_id"], r["rk"], r["term"]) for r in out.orderBy("doc_id", "rk").collect()]
    # N=3. df: apple 2, banana 3, cherry 3, date 2.
    # idf_milli: apple/date floor(3000/2)=1500, banana/cherry 1000.
    # doc1: apple tf2*1500=3000 > banana 1000 = cherry 1000 (tie->banana)
    assert rows[0] == (1, 1, "apple") and rows[1] == (1, 2, "banana")
    # doc2: cherry tf2*1000=2000 > date 1500 > banana 1000
    assert rows[2] == (2, 1, "cherry") and rows[3] == (2, 2, "date")
    # doc3: apple 1500 = date 1500 -> tie broken by term asc: apple first
    assert rows[4] == (3, 1, "apple") and rows[5] == (3, 2, "date")


# --- stratified sampling --------------------------------------------------


def test_stratified_sample_deterministic_under_repartition(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        ["doc_id", "lang"],
    )
    rates = {"en": 0.5, "de": 0.2}
    a = sorted(
        r["doc_id"]
        for r in stratified_sample(df, "lang", "doc_id", rates).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(
            df.repartition(13), "lang", "doc_id", rates
        ).collect()
    )
    assert a == b and len(a) > 0


def test_stratified_sample_rates_approx(spark):
    df = spark.createDataFrame(
        [(i, "en" if i < 1000 else "zh") for i in range(2000)],
        ["doc_id", "lang"],
    )
    out = (
        stratified_sample(df, "lang", "doc_id", {"en": 0.5, "zh": 0.1})
        .groupBy("lang")
        .count()
        .collect()
    )
    counts = {r["lang"]: r["count"] for r in out}
    assert 400 <= counts["en"] <= 600  # ~500
    assert 50 <= counts.get("zh", 0) <= 160  # ~100


def test_stratified_sample_salt_changes_sample(spark):
    df = spark.createDataFrame([(i, "en") for i in range(300)], ["doc_id", "lang"])
    a = {r["doc_id"] for r in stratified_sample(df, "lang", "doc_id", {"en": 0.5}, salt="s1").collect()}
    b = {r["doc_id"] for r in stratified_sample(df, "lang", "doc_id", {"en": 0.5}, salt="s2").collect()}
    assert a != b


# --- int8 quantization ----------------------------------------------------


def test_quantize_int8_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.0]), (2, [0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    rows = {r["vec_id"]: r for r in quantize_int8_stats(df).collect()}
    r1 = rows[1]
    # maxabs=1.0: q = [127, -floor(0.5*127)=-63, 0]
    assert (r1["q_sum"], r1["q_min"], r1["q_max"]) == (64, -63, 127)
    assert r1["scale"] == pytest.approx(1.0 / 127)
    r2 = rows[2]  # zero vector guard
    assert (r2["scale"], r2["q_sum"], r2["q_min"], r2["q_max"]) == (0.0, 0, 0, 0)


def test_quantize_int8_bounds(spark):
    import random

    rng = random.Random(7)
    data = [(i, [rng.uniform(-3, 3) for _ in range(16)]) for i in range(50)]
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    out = quantize_int8_stats(df)
    bad = out.filter((F.col("q_min") < -127) | (F.col("q_max") > 127)).count()
    assert bad == 0
    # every nonzero vector lands within one ulp-floor of full scale at
    # its argmax-|x| coordinate: (|x|*127)/maxabs can round to
    # 126.999... when |x| == maxabs, so floor yields 126 or 127
    hits = out.filter(
        (F.col("q_max") >= 126) | (F.col("q_min") <= -126)
    ).count()
    assert hits == 50


def test_bpe_token_estimate_pinned(spark):
    """Hand-computed: 'Hello, world 42 foo-barbazqux!' ->
    pieces [hello , world 4 2 foo - barbazqux !] ->
    2 + 1 + 2 + 1 + 1 + 1 + 1 + 3 + 1 = 13."""
    from etl_building_inspector_spark.functions.text import (
        bpe_pieces,
        bpe_token_estimate,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Hello, world 42 foo-barbazqux!",), ("",)], ["text"]
    )
    rows = df.select(
        F.size(bpe_pieces("text")).alias("n"),
        bpe_token_estimate("text").alias("est"),
    ).collect()
    assert (rows[0].n, rows[0].est) == (9, 13)
    assert (rows[1].n, rows[1].est) == (0, 0)


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: two docs sharing a run of >= k+w-1 tokens
    (here 3+4-1=6) must share at least one fingerprint; disjoint-vocab
    docs share none."""
    from etl_building_inspector_spark.functions.text import (
        winnow_fingerprints,
    )
    from pyspark.sql import functions as F

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"six seven {shared} eight nine ten"),
        (3, "completely different words entirely unrelated here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = df.select(
        "doc_id", F.explode(winnow_fingerprints("text", 3, 4)).alias("fp")
    ).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
