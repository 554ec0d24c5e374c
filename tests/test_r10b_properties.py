"""Independent property tests for the round-10 SESSION additions
(same four-artifact discipline as test_r10_properties):

- dedup_cluster_incremental: merge == rebuild pinned two ways -- an
  adversarial hand graph exercising every merge case (bridge two base
  components via a delta edge, bridge via a chain through a NEW node,
  new-only component, intra-component no-op edge, untouched base
  component), and the full query against the plain union-find
  recompute the batch strategies are held to.
- text_collocations_pmi: Counter-based python recompute with big-int
  floor division (no Spark, no SQL on the expected side).
- streaming_minhash_refresh: the same dict-of-buckets probe recompute
  that pins dedup_minhash_index_refresh (identical contract, third
  strategy), plus the order-insensitivity pin the streaming fold
  rests on: merging per-tag batch indexes in a SHUFFLED order equals
  the from-scratch index.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

from etl_building_inspector_spark.plans.registry import QUERIES
from tests.recompute_util import SF, frames_equal, read
from tests.test_r7_dedup_properties import _toks
from tests.test_r7_dedup2_properties import _union_find_components
from tests.test_r10_properties import _band_keys


def _run(spark, name):
    return QUERIES[name](spark, SF).toPandas()


# ---------------------------------------------------------------------------
# merge_components: operator-level merge == rebuild on the adversarial
# hand graph (the r8 over-merge class, made explicit)
# ---------------------------------------------------------------------------


def test_merge_components_equals_rebuild_adversarial(spark):
    from etl_building_inspector_spark.operators.graph import (
        connected_components,
        merge_components,
    )

    # base components: {1,2,3} (label 1), {10,11} (label 10),
    # {20,21} (label 20), {30} has no base edges (appears only in delta)
    base_edges = [(1, 2), (2, 3), (10, 11), (20, 21), (40, 41)]
    # delta: bridge {1..} and {10,11} directly; bridge {20,21} to the
    # new node 30 and through it to brand-new 31; a new-only component
    # {50,51}; an intra-component no-op edge (2,3)
    delta_edges = [(3, 10), (21, 30), (30, 31), (50, 51), (2, 3)]

    base_df = spark.createDataFrame(base_edges, "id_a long, id_b long")
    delta_df = spark.createDataFrame(delta_edges, "id_a long, id_b long")
    full_df = spark.createDataFrame(
        base_edges + delta_edges, "id_a long, id_b long"
    )

    base = connected_components(base_df, "id_a", "id_b")
    got = (
        merge_components(base, delta_df, "id_a", "id_b")
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    want = (
        connected_components(full_df, "id_a", "id_b")
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    frames_equal(got, want)
    comp = dict(zip(got["node"], got["component"]))
    # the merges actually happened (not vacuous)
    assert comp[11] == 1 and comp[31] == 20 and comp[50] == 50
    assert comp[51] == 50 and comp[40] == 40 and comp[41] == 40


def test_dedup_cluster_incremental_matches_union_find(spark):
    """Query level: the incremental strategy is held to the same plain
    union-find recompute as the two batch strategies."""
    got = _run(spark, "dedup_cluster_incremental")
    comp = _union_find_components()
    want = pd.DataFrame(
        sorted(comp.items()), columns=["doc_id", "component"], dtype="int64"
    )
    frames_equal(got, want)
    assert len(set(comp.values())) < len(comp)


# ---------------------------------------------------------------------------
# PMI collocations: Counter recompute with big-int floor division
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_K = 100


def test_text_collocations_pmi_recompute(spark):
    got = _run(spark, "text_collocations_pmi")
    docs = read("documents")
    uni: Counter = Counter()
    big: Counter = Counter()
    for text in docs["text"]:
        toks = _toks(text)
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    n_tok = sum(uni.values())
    scored = [
        (w1, w2, c_xy, uni[w1], uni[w2], c_xy * n_tok * 1_000_000 // (uni[w1] * uni[w2]))
        for (w1, w2), c_xy in big.items()
        if c_xy >= PMI_MIN_COUNT
    ]
    scored.sort(key=lambda r: (-r[5], r[0], r[1]))
    want = pd.DataFrame(
        [
            {
                "w1": w1,
                "w2": w2,
                "c_xy": c_xy,
                "c_w1": c1,
                "c_w2": c2,
                "pmi_ratio_ppm": ppm,
                "rk": i + 1,
            }
            for i, (w1, w2, c_xy, c1, c2, ppm) in enumerate(scored[:PMI_K])
        ]
    )
    for c in ("c_xy", "c_w1", "c_w2", "pmi_ratio_ppm"):
        want[c] = want[c].astype("int64")
    want["rk"] = want["rk"].astype("int32")
    frames_equal(got, want)
    assert len(want) == PMI_K  # the corpus must actually fill the top-k


# ---------------------------------------------------------------------------
# Streaming MinHash refresh: probe recompute + order insensitivity
# ---------------------------------------------------------------------------


def test_streaming_minhash_refresh_recompute(spark):
    """Same dict-of-buckets recompute that pins
    dedup_minhash_index_refresh -- the streaming strategy must land on
    the identical probe output."""
    got = _run(spark, "streaming_minhash_refresh")
    docs = read("documents")[["doc_id", "text"]]
    idx: dict[tuple[int, str], list[int]] = {}
    for r in docs.itertuples(index=False):
        i = int(r.doc_id)
        if i % 10 == 7:
            continue
        for bk in _band_keys(r.text):
            cur = idx.setdefault(bk, [0, i])
            cur[0] += 1
            cur[1] = min(cur[1], i)
    rows = []
    for r in docs.itertuples(index=False):
        i = int(r.doc_id)
        if i % 10 != 7:
            continue
        hits = [idx[bk] for bk in _band_keys(r.text) if bk in idx]
        if hits:
            rows.append(
                {
                    "doc_id": i,
                    "hit_bands": len(hits),
                    "n_index_docs": sum(h[0] for h in hits),
                    "first_match_id": min(h[1] for h in hits),
                }
            )
    want = pd.DataFrame(rows)
    for c in want.columns:
        want[c] = want[c].astype("int64")
    frames_equal(got, want)
    assert len(want) > 0


def test_minhash_merge_fold_is_order_insensitive(spark):
    """The streaming fold's algebraic footing: merging per-tag batch
    indexes in an adversarially SHUFFLED arrival order must equal the
    from-scratch index over the union (commutative monoid law, n-ary
    case; the binary case is pinned in test_r10_properties)."""
    from pyspark.sql import functions as F

    from etl_building_inspector_spark.operators.dedup import (
        merge_minhash_band_indexes,
        minhash_band_index,
    )
    from etl_building_inspector_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    shuffled_tags = [8, 3, 0, 9, 5, 1, 7, 6, 2, 4]  # fixed adversarial order
    batches = [
        minhash_band_index(
            docs.filter(F.col("doc_id") % 10 == t), "text", "doc_id"
        )
        for t in shuffled_tags
    ]
    folded = batches[0]
    for b in batches[1:]:
        folded = merge_minhash_band_indexes(folded, b)
    got = folded.toPandas().sort_values(["band", "key"]).reset_index(drop=True)
    want = (
        minhash_band_index(docs, "text", "doc_id")
        .toPandas()
        .sort_values(["band", "key"])
        .reset_index(drop=True)
    )
    frames_equal(got, want)
    assert len(want) > 0
