"""Unit tests for the event-analytics / graph batch beyond the oracle
conformance suite: hand-built fixtures pin the SEMANTICS (ordering
constraints, dominance, bin invariants, relaxation correctness) that a
value-hash against DuckDB can't localize when it breaks."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_building_inspector_spark.operators.graph import (
    connected_components,
    connected_components_alternating,
    merge_components,
    pagerank_integer,
    sssp_bounded,
)
from etl_building_inspector_spark.plans.queries_surface5 import (
    compaction_bin_plan,
    funnel_stages,
    skyline_price_size,
)

SF = "/root/testdata/sf0.001"


# --- sssp_bounded -----------------------------------------------------------


def _edges(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long, w long")


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


def test_sssp_prefers_cheaper_two_hop_path(spark):
    # direct edge 0-2 costs 10; path 0-1-2 costs 2+3=5
    edges = _edges(spark, [(0, 2, 10), (0, 1, 2), (1, 2, 3)])
    out = {
        r["node"]: r["dist"]
        for r in sssp_bounded(edges, _seeds(spark, [0]), max_hops=3).collect()
    }
    assert out == {0: 0, 1: 2, 2: 5}


def test_sssp_hop_bound_limits_relaxation(spark):
    # chain 0-1-2-3, all weight 1; max_hops=2 must not reach node 3
    edges = _edges(spark, [(0, 1, 1), (1, 2, 1), (2, 3, 1)])
    out = {
        r["node"]: r["dist"]
        for r in sssp_bounded(edges, _seeds(spark, [0]), max_hops=2).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2}


def test_sssp_unreachable_absent_and_multi_seed_min(spark):
    # two components; node 9 is isolated from seed 0 but seed 8 covers it
    edges = _edges(spark, [(0, 1, 4), (8, 9, 1)])
    out = {
        r["node"]: r["dist"]
        for r in sssp_bounded(edges, _seeds(spark, [0, 8]), max_hops=3).collect()
    }
    assert out == {0: 0, 1: 4, 8: 0, 9: 1}


def test_sssp_undirected_and_early_stop(spark):
    # early convergence (no improvement after round 1) must still
    # return settled distances; edges are relaxed in both directions
    edges = _edges(spark, [(5, 4, 7)])
    out = {
        r["node"]: r["dist"]
        for r in sssp_bounded(edges, _seeds(spark, [4]), max_hops=5).collect()
    }
    assert out == {4: 0, 5: 7}


@pytest.mark.parametrize(
    "case", [2, 4, 6, "cc", "cc_alternating", "merge_components", "pagerank"]
)
def test_sssp_frees_each_superseded_round(spark, case):
    """Every round of every iterative graph operator frees the
    checkpoint it supersedes, so only the returned frame's blocks stay
    live however many rounds ran (an int case is sssp_bounded with
    that max_hops). Alternating CC also keeps its edge-input and
    node-set checkpoints until release_persisted(). Reading the result
    afterwards proves the live checkpoint is the one it reads."""
    from etl_building_inspector_spark.operators import _cache

    _cache.release_persisted()
    # a 7-node path: each of the first 6 rounds settles one more node
    edges = _edges(spark, [(i, i + 1, 1) for i in range(6)])
    if isinstance(case, int):
        out, live = sssp_bounded(edges, _seeds(spark, [0]), max_hops=case), 1
    elif case == "cc":
        out, live = connected_components(edges), 1
    elif case == "cc_alternating":
        out, live = connected_components_alternating(edges), 3
    elif case == "merge_components":
        base = spark.createDataFrame(
            [(i, 0) for i in range(4)], "node long, component long"
        )
        out, live = merge_components(base, edges.filter("id_a >= 3")), 1
    else:
        out, live = pagerank_integer(edges, "id_a", "id_b", iterations=3), 1
    assert len(_cache._CHECKPOINTED) == live
    assert out.count() > 0
    _cache.release_persisted()


def test_free_local_checkpoint_rejects_views_and_second_free(spark):
    """Only a live tracked handle can be freed: a view derived from it
    has no blocks of its own, and a second free is a lifecycle bug."""
    from etl_building_inspector_spark.operators import _cache

    _cache.release_persisted()
    held = _cache.track_local_checkpoint(spark.range(5))
    with pytest.raises(ValueError):
        _cache.free_local_checkpoint(held.select("id"))
    assert len(_cache._CHECKPOINTED) == 1 and _cache._CHECKPOINTED[0] is held
    _cache.free_local_checkpoint(held)
    with pytest.raises(ValueError):
        _cache.free_local_checkpoint(held)


# --- skyline ----------------------------------------------------------------


def test_skyline_matches_bruteforce(spark):
    rows = skyline_price_size(spark, SF).collect()
    pts = [
        (r["p_partkey"], r["price_cents"], r["size"])
        for r in spark.read.parquet(f"{SF}/part.parquet")
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100, 0)
            .cast("long")
            .alias("price_cents"),
            F.col("p_size").cast("int").alias("size"),
        )
        .collect()
    ]

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in pts
        )

    expect = {p[0] for p in pts if not dominated(p)}
    assert {r["p_partkey"] for r in rows} == expect


def test_skyline_plan_has_no_nested_loop(spark):
    plan = skyline_price_size(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- funnel ordering semantics ---------------------------------------------


def test_funnel_requires_stage_order(spark, tmp_path):
    # user 1: full ordered funnel; user 2: purchase BEFORE click (the
    # click stage is reached, purchase must not count); user 3: never
    # signs up -> appears in no stage.
    t0 = dt.datetime(2024, 1, 1)

    def ev(i, uid, etype, minutes):
        return (i, t0 + dt.timedelta(minutes=minutes), uid, etype, 1.0, "{}")

    rows = [
        ev(1, 1, "signup", 0),
        ev(2, 1, "view", 1),
        ev(3, 1, "click", 2),
        ev(4, 1, "purchase", 3),
        ev(5, 2, "signup", 0),
        ev(6, 2, "view", 1),
        ev(7, 2, "purchase", 2),
        ev(8, 2, "click", 3),
        ev(9, 3, "view", 0),
        ev(10, 3, "purchase", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    p = str(tmp_path / "fixture")
    df.write.parquet(f"{p}/events.parquet")
    out = {
        r["stage"]: r["users"] for r in funnel_stages(spark, p).collect()
    }
    assert out == {"signup": 2, "view": 2, "click": 2, "purchase": 1}


# --- sessionize sub-second precision ----------------------------------------


def test_sessionize_subsecond_gap_precision(spark, tmp_path):
    """The 30-min session gap must compare at MICROSECOND precision on
    both engines (VERDICT r2 item 6): a gap of 30:00.000001 starting
    at a .9 s offset opens a new session, while a second-truncated
    comparison (cast ts to long) would see exactly 1800 s and miss it.
    The exact-boundary gap (30:00.000000) stays one session (strictly
    greater-than semantics)."""
    import duckdb

    from etl_building_inspector_spark.plans.registry import ORACLES, QUERIES

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 900000)

    def ev(i, uid, ts):
        return (i, ts, uid, "view", 1.0, "{}")

    rows = [
        # user 1: gap is 1800.000001 s -> TWO sessions at micro
        # precision, one under second truncation.
        ev(1, 1, t0),
        ev(2, 1, t0 + dt.timedelta(seconds=1800, microseconds=1)),
        # user 2: gap is exactly 1800.000000 s -> ONE session (gap must
        # be STRICTLY greater to split).
        ev(3, 2, t0),
        ev(4, 2, t0 + dt.timedelta(seconds=1800)),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    p = str(tmp_path / "fixture")
    df.write.parquet(f"{p}/events.parquet")

    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in QUERIES["events_sessionize"](spark, p).collect()
    }
    assert got == {1: (2, 2), 2: (1, 2)}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{p}/events.parquet/*.parquet')"
    )
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(ORACLES["events_sessionize"]).fetchall()
    }
    assert oracle == got


# --- compaction plan invariants ---------------------------------------------


def test_compaction_bins_capped_and_contiguous(spark):
    rows = compaction_bin_plan(spark, SF).collect()
    by_month: dict[str, list] = {}
    for r in rows:
        by_month.setdefault(r["part_month"], []).append(r)
    for month, bins in by_month.items():
        ids = sorted(b["bin"] for b in bins)
        # bins are dense 0..k (the running-sum rule can't skip a bin)
        assert ids == list(range(len(ids))), month
        for b in bins:
            # a bin only exceeds the target when a single file does, in
            # which case it must hold exactly that one oversized file --
            # otherwise the cumsum rule would have split it
            if b["bin_bytes"] > 65536:
                assert b["files_merged"] == 1 or b["bin_bytes"] - 65536 < 65536


# --- nearest-prototype assignment ------------------------------------------


def test_prototype_assignment_is_true_argmin(spark):
    from etl_building_inspector_spark.plans.queries_llm4 import (
        emb_assign_nearest_prototype,
    )

    out = {
        r["vec_id"]: (r["assigned_label"], r["dist2_milli"])
        for r in emb_assign_nearest_prototype(spark, SF).collect()
    }
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()

    def milli(v):
        import math

        return [
            int(math.copysign(math.floor(abs(float(x)) * 1000), float(x)))
            for x in v
        ]

    vecs = {r["vec_id"]: (r["label"], milli(r["embedding"])) for r in emb}
    protos = {}
    for vid in sorted(vecs):
        lab, mv = vecs[vid]
        protos.setdefault(lab, mv)  # min vec_id wins: sorted iteration
    for vid, (lab, d2) in out.items():
        mv = vecs[vid][1]
        dists = {
            pl: sum((a - b) ** 2 for a, b in zip(mv, pv))
            for pl, pv in protos.items()
        }
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))
        assert (lab, d2) == (best[0], best[1]), vid


def test_prototype_assignment_broadcasts_protos(spark):
    from etl_building_inspector_spark.plans.queries_llm4 import (
        emb_assign_nearest_prototype,
    )

    plan = (
        emb_assign_nearest_prototype(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the 10-row prototype side must be the broadcast build side; the
    # corpus side must stream (no shuffle of the big table for a
    # cross join against a tiny dim)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# --- date spine -------------------------------------------------------------


def test_date_spine_dense_and_zero_filled(spark):
    from etl_building_inspector_spark.plans.queries_surface6 import (
        densify_date_spine,
    )

    rows = densify_date_spine(spark, SF).collect()
    n_nations = spark.read.parquet(f"{SF}/nation.parquet").count()
    assert len(rows) == n_nations * 31
    # spine must contain zero-revenue days (the whole point)
    assert any(r["revenue_cents"] == 0 for r in rows)
    per_nation = {}
    for r in rows:
        per_nation.setdefault(r["nationkey"], set()).add(r["day"])
    assert all(len(days) == 31 for days in per_nation.values())


# --- empty-input edges ------------------------------------------------------


def _empty_events_dir(spark, tmp_path) -> str:
    p = str(tmp_path / "empty_fixture")
    spark.createDataFrame(
        [],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{p}/events.parquet")
    return p


def test_funnel_empty_events_reports_zero_stages(spark, tmp_path):
    p = _empty_events_dir(spark, tmp_path)
    out = {r["stage"]: r["users"] for r in funnel_stages(spark, p).collect()}
    # the report must still carry all four stages (0s), not vanish
    assert out == {"signup": 0, "view": 0, "click": 0, "purchase": 0}


def test_sssp_empty_edges_returns_seeds_only(spark):
    edges = _edges(spark, [])
    out = {
        r["node"]: r["dist"]
        for r in sssp_bounded(edges, _seeds(spark, [7]), max_hops=3).collect()
    }
    assert out == {7: 0}


def test_attribution_empty_events_yields_no_rows(spark, tmp_path):
    from etl_building_inspector_spark.plans.queries_surface5 import (
        attribution_last_touch,
    )

    p = _empty_events_dir(spark, tmp_path)
    assert attribution_last_touch(spark, p).count() == 0


def test_incremental_agg_retract_equals_recompute(spark, sf_dir):
    """The retraction-merged aggregate must equal a direct recompute
    over the patched table (the IVM identity for weighted deltas)."""
    from pyspark.sql import functions as F

    from etl_building_inspector_spark.plans.queries_surface8 import (
        RETRACT_MOD,
        incremental_agg_retract,
    )
    from etl_building_inspector_spark.sources.tables import load_table

    merged = {
        r.event_type: (r.n_rows, r.total_cents)
        for r in incremental_agg_retract(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    patched = ev.select(
        "event_type",
        F.when(F.col("event_id") % RETRACT_MOD == 0, cents + 500)
        .otherwise(cents)
        .alias("cents"),
    )
    recomputed = {
        r.event_type: (r.n, r.total)
        for r in patched.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("total"))
        .collect()
    }
    assert merged == recomputed
