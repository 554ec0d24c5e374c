"""Independent property tests for the embedding/ANN family: random-
hyperplane LSH (planes rebuilt from the md5 byte spec, not imported),
md5-sampled IVF, all-pairs cosine dedup and its LSH rewrite, int8
quantization, milli-integer centroids, nearest-prototype assignment,
and a full Lloyd round -- each recomputed with plain python loops.

Float cosines fold sequentially (same order as F.aggregate /
list_reduce) so comparisons are bit-exact. For the KMeans IVF variant
(rows-only by design) the test pins the verifiable half: returned
cosines are the true exact cosines, ranks are consistent, and recall
vs the brute-force top-5 clears the documented floor.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest

from etl_building_inspector_spark.plans.registry import QUERIES
from tests.recompute_util import SF, frames_equal, read


def _run(spark, name):
    return QUERIES[name](spark, SF).toPandas()


def _vecs() -> dict[int, list[float]]:
    emb = read("embeddings")
    return {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.itertuples(index=False)
    }


def _dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _cos(a, b) -> float:
    return _dot(a, b) / (math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b)))


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Pure-python twin of the md5-byte hyperplane spec
    (operators/similarity.py::_hyperplane) -- REIMPLEMENTED, not imported."""
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


def _buckets(vecs: dict[int, list[float]], n_tables: int, m: int):
    """(vid, tbl) -> bucket int via sign bits of the plane dots."""
    planes = {
        (t, p): _hyperplane(64, t * m + p)
        for t in range(n_tables)
        for p in range(m)
    }
    out = {}
    for vid, v in vecs.items():
        for t in range(n_tables):
            b = 0
            for p in range(m):
                if _dot(v, planes[(t, p)]) > 0:
                    b += 2**p
            out[(vid, t)] = b
    return out


# ---------------------------------------------------------------------------
# ann_cosine_lsh: 8 tables x 3 planes, exact rescoring of candidates
# ---------------------------------------------------------------------------


def test_ann_cosine_lsh_bucket_candidates_and_rescoring(spark):
    got = _run(spark, "ann_cosine_lsh")
    vecs = _vecs()
    buck = _buckets(vecs, 8, 3)
    cands: dict[int, set[int]] = {q: set() for q in vecs if q < 10}
    for q in cands:
        for t in range(8):
            bq = buck[(q, t)]
            for c in vecs:
                if c != q and buck[(c, t)] == bq:
                    cands[q].add(c)
    rows = []
    for q, cs in cands.items():
        scored = sorted(
            ((_cos(vecs[q], vecs[c]), c) for c in cs),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cos, c) in enumerate(scored[:5], start=1):
            rows.append(
                {"query_id": q, "neighbor_id": c, "cosine": cos, "rank": rank}
            )
    want = pd.DataFrame(rows)
    for c in ["query_id", "neighbor_id", "rank"]:
        want[c] = want[c].astype("int64")
    frames_equal(got, want)


# ---------------------------------------------------------------------------
# ann_cosine_ivf_sampled: md5 centroids, 6-probe inverted file
# ---------------------------------------------------------------------------


def test_ann_ivf_sampled_full_pipeline(spark):
    got = _run(spark, "ann_cosine_ivf_sampled")
    vecs = _vecs()
    pri = sorted(
        vecs, key=lambda i: (hashlib.md5(f"cent:{i}".encode()).hexdigest(), i)
    )
    cents = {c: vecs[c] for c in pri[:16]}
    # assignment: argmax cosine, tie on cent_id
    def rank_cents(v):
        return sorted(
            ((_cos(v, cv), cid) for cid, cv in cents.items()),
            key=lambda t: (-t[0], t[1]),
        )

    assign = {vid: rank_cents(v)[0][1] for vid, v in vecs.items()}
    rows = []
    for q in sorted(vecs):
        if q >= 10:
            continue
        probes = {cid for _, cid in rank_cents(vecs[q])[:6]}
        cs = {
            c
            for c, cell in assign.items()
            if cell in probes and c != q
        }
        scored = sorted(
            ((_cos(vecs[q], vecs[c]), c) for c in cs),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cos, c) in enumerate(scored[:5], start=1):
            rows.append(
                {"query_id": q, "neighbor_id": c, "cosine": cos, "rank": rank}
            )
    want = pd.DataFrame(rows)
    for c in ["query_id", "neighbor_id", "rank"]:
        want[c] = want[c].astype("int64")
    frames_equal(got, want)


# ---------------------------------------------------------------------------
# ann_cosine_ivf (KMeans, rows-only by design): verify the verifiable
# ---------------------------------------------------------------------------


def test_ann_ivf_kmeans_cosines_exact_and_recall_floor(spark):
    got = _run(spark, "ann_cosine_ivf")
    vecs = _vecs()
    # 1. every reported cosine is the TRUE cosine of that pair
    for r in got.itertuples(index=False):
        assert r.cosine == _cos(vecs[int(r.query_id)], vecs[int(r.neighbor_id)])
    # 2. ranks are dense, start at 1, ordered by (cosine desc, id)
    for q, grp in got.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        keys = [(-r.cosine, r.neighbor_id) for r in grp.itertuples(index=False)]
        assert keys == sorted(keys)
    # 3. recall vs brute-force top-5 over all 10 queries >= 0.4
    # (documented band ~0.56 for 16 cells / 4 probes on random vectors)
    hits = total = 0
    for q in range(10):
        truth = sorted(
            ((_cos(vecs[q], vecs[c]), c) for c in vecs if c != q),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        truth_ids = {c for _, c in truth}
        got_ids = set(got.loc[got["query_id"] == q, "neighbor_id"].astype(int))
        hits += len(truth_ids & got_ids)
        total += 5
    assert hits / total >= 0.4


# ---------------------------------------------------------------------------
# dedup_embedding_cosine: all-pairs threshold join
# ---------------------------------------------------------------------------


def test_embedding_cosine_pairs_quadratic(spark):
    got = _run(spark, "dedup_embedding_cosine")
    vecs = _vecs()
    ids = sorted(vecs)
    rows = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            cos = _cos(vecs[a], vecs[b])
            if cos >= 0.35:
                rows.append({"id_a": a, "id_b": b, "cosine": cos})
    want = pd.DataFrame(rows, columns=["id_a", "id_b", "cosine"])
    want["id_a"] = want["id_a"].astype("int64")
    want["id_b"] = want["id_b"].astype("int64")
    frames_equal(got, want)


# ---------------------------------------------------------------------------
# dedup_embedding_cosine_lsh: perturbation fixture + 6x8 LSH + cap
# ---------------------------------------------------------------------------


def _vecs_with_dups() -> dict[int, list[float]]:
    vecs = _vecs()
    out = dict(vecs)
    for vid, v in vecs.items():
        if vid % 5 == 0:
            out[vid + 100000] = [
                x * (1 + 0.01 * ((j % 7) - 3)) for j, x in enumerate(v)
            ]
    return out


def test_embedding_neardup_lsh_pipeline(spark):
    got = _run(spark, "dedup_embedding_cosine_lsh")
    vecs = _vecs_with_dups()
    buck = _buckets(vecs, 6, 8)
    # bucket width cap 32
    width: dict[tuple[int, int], list[int]] = {}
    for (vid, t), b in buck.items():
        width.setdefault((t, b), []).append(vid)
    pairs = set()
    for ids in width.values():
        if len(ids) > 32:
            continue
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                pairs.add((a, b))
    rows = []
    for a, b in sorted(pairs):
        cos = _cos(vecs[a], vecs[b])
        if cos >= 0.9:
            rows.append({"id_a": a, "id_b": b, "cosine": cos})
    want = pd.DataFrame(rows, columns=["id_a", "id_b", "cosine"])
    want["id_a"] = want["id_a"].astype("int64")
    want["id_b"] = want["id_b"].astype("int64")
    frames_equal(got, want)
    # the planted (v, v+100000) twins must dominate the result
    planted = {(a, b) for a, b in pairs if b == a + 100000}
    found = {(int(r.id_a), int(r.id_b)) for r in want.itertuples(index=False)}
    assert planted & found, "no planted twin survived -- fixture broken"


# ---------------------------------------------------------------------------
# Quantization / centroids / prototype assignment / Lloyd round
# ---------------------------------------------------------------------------


def _milli(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) * 1000), x)) if x else 0


def test_emb_quantize_int8_stats(spark):
    got = _run(spark, "emb_quantize_int8").sort_values("vec_id")
    vecs = _vecs()
    rows = []
    for vid in sorted(vecs):
        v = vecs[vid]
        maxabs = max(abs(x) for x in v)
        if maxabs == 0:
            ql = [0] * len(v)
            scale = 0.0
        else:
            ql = [
                int(math.copysign(math.floor(abs(x) * 127 / maxabs), x))
                for x in v
            ]
            scale = maxabs / 127
        rows.append(
            {
                "vec_id": vid,
                "scale": scale,
                "q_sum": sum(ql),
                "q_min": min(ql),
                "q_max": max(ql),
            }
        )
    want = pd.DataFrame(rows)
    for c in ["vec_id", "q_sum", "q_min", "q_max"]:
        want[c] = want[c].astype("int64")
    frames_equal(got, want)
    # int8 law: quantized values live in [-127, 127]
    assert (want["q_min"] >= -127).all() and (want["q_max"] <= 127).all()


def _milli_vec(v):
    return [_milli(x) for x in v]


def test_emb_label_centroids_milli_sums(spark):
    got = _run(spark, "emb_label_centroids")
    emb = read("embeddings")
    sums: dict[tuple[int, int], int] = {}
    counts: dict[tuple[int, int], int] = {}
    for r in emb.itertuples(index=False):
        mv = _milli_vec([float(x) for x in r.embedding])
        for d, m in enumerate(mv, start=1):
            key = (int(r.label), d)
            sums[key] = sums.get(key, 0) + m
            counts[key] = counts.get(key, 0) + 1
    rows = [
        {"label": l, "dim": d, "sum_milli": s, "n": counts[(l, d)]}
        for (l, d), s in sorted(sums.items())
    ]
    want = pd.DataFrame(rows)
    want["label"] = want["label"].astype("int32")
    want["dim"] = want["dim"].astype("int32")
    want["sum_milli"] = want["sum_milli"].astype("int64")
    want["n"] = want["n"].astype("int64")
    got = got.copy()
    got["label"] = got["label"].astype("int32")
    got["dim"] = got["dim"].astype("int32")
    frames_equal(got, want)


def _prototypes():
    emb = read("embeddings")
    mv = {
        int(r.vec_id): (_milli_vec([float(x) for x in r.embedding]), int(r.label))
        for r in emb.itertuples(index=False)
    }
    proto_id = {}
    for vid, (_, lab) in mv.items():
        if lab not in proto_id or vid < proto_id[lab]:
            proto_id[lab] = vid
    protos = {lab: mv[pid][0] for lab, pid in proto_id.items()}
    return mv, protos


def test_nearest_prototype_assignment(spark):
    got = _run(spark, "emb_assign_nearest_prototype")
    mv, protos = _prototypes()
    rows = []
    for vid, (v, _) in mv.items():
        best = min(
            (
                (sum((a - b) ** 2 for a, b in zip(v, pv)), lab)
                for lab, pv in protos.items()
            )
        )
        rows.append(
            {"vec_id": vid, "assigned_label": best[1], "dist2_milli": best[0]}
        )
    want = pd.DataFrame(rows)
    want["vec_id"] = want["vec_id"].astype("int64")
    want["assigned_label"] = want["assigned_label"].astype("int32")
    want["dist2_milli"] = want["dist2_milli"].astype("int64")
    got = got.copy()
    got["assigned_label"] = got["assigned_label"].astype("int32")
    frames_equal(got, want)
    # each label's own prototype vector is assigned to itself at d2=0
    proto_rows = want[want["dist2_milli"] == 0]
    assert len(proto_rows) >= len(protos)


def test_kmeans_lloyd_round_cluster_sums(spark):
    got = _run(spark, "kmeans_lloyd_round")
    mv, protos = _prototypes()
    sums: dict[tuple[int, int], int] = {}
    counts: dict[tuple[int, int], int] = {}
    for vid, (v, _) in mv.items():
        best = min(
            (
                (sum((a - b) ** 2 for a, b in zip(v, pv)), lab)
                for lab, pv in protos.items()
            )
        )
        cluster = best[1]
        for d, m in enumerate(v, start=1):
            key = (cluster, d)
            sums[key] = sums.get(key, 0) + m
            counts[key] = counts.get(key, 0) + 1
    rows = [
        {"cluster": c, "dim": d, "sum_milli": s, "n": counts[(c, d)]}
        for (c, d), s in sorted(sums.items())
    ]
    want = pd.DataFrame(rows)
    want["cluster"] = want["cluster"].astype("int32")
    want["dim"] = want["dim"].astype("int32")
    want["sum_milli"] = want["sum_milli"].astype("int64")
    want["n"] = want["n"].astype("int64")
    got = got.copy()
    got["cluster"] = got["cluster"].astype("int32")
    got["dim"] = got["dim"].astype("int32")
    frames_equal(got, want)
    # conservation: every vector lands in exactly one cluster
    per_dim_total = sum(n for (c, d), n in counts.items() if d == 1)
    assert per_dim_total == len(mv)
