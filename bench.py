"""Benchmark runner (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...}.

The printed line is COMPACT (<1900 chars): the driver records only a
2000-char tail of stdout, which the full per-query map outgrows. The
line carries the headline totals, the slowest-10 cold map (under
"queries", the same quantity as BENCH_DETAIL.json's "queries"), the
slowest-10 isolated warm-best map (under "queries_warm_best_top10"),
and the wedge-family extra costs; the complete per-query
cold/warm/warm_best maps are written to BENCH_DETAIL.json at the repo
root for diffing one run against another.

``session`` and ``run`` are the run harness the tools share: each
query is materialized with the `noop` sink, an end-to-end measure of
the physical plan without write cost or driver collect.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_building_inspector_spark.operators._cache import (  # noqa: E402
    release_persisted,
)
from etl_building_inspector_spark.plans.registry import QUERIES  # noqa: E402
from etl_building_inspector_spark.session import get_spark  # noqa: E402
from perfbench import headline  # noqa: E402

# The 231-query headline, one per operator family, weighted toward the
# plans whose shape matters at 100 TB (joins, aggs, windows, dedup,
# ANN). It is the list ``perfbench`` pins, so the driver's headline and
# the benchmark's query pool are one list.
HEADLINE = list(headline.HEADLINE)

# The N slowest warm queries get best-of-K isolated reruns (fresh GC
# before each), reported as queries_warm_best: a per-query time the
# session's accumulated state can't inflate, so a drift on the
# session-warm number is attributable (plan regression moves BOTH;
# host contention or GC pressure moves only the session number).
WARM_BEST_TOPN = 10
WARM_BEST_RUNS = 3

# Left out of the headline on purpose:
# * the wedge-join family below: their cost is the capped wedge
#   enumeration itself (bounded at cap x |edges|, ~10-17 s at sf0.1),
#   which drowns the per-query signal the headline tracks. They run
#   after the headline, each from a settled heap, and are reported
#   under "extra" so the exclusion stays data-backed without moving
#   "value". Their plan shape is guarded in tests/test_tpch.py.
# * dedup_pair_agreement_eval composes the pair pipelines benched as
#   dedup_minhash_lsh_pairs and dedup_ngram_jaccard, and
#   dedup_threshold_sensitivity re-runs the first of them, so their
#   time would count those pipelines twice.
EXTRA = [
    "graph_common_neighbors_topk",
    "graph_neighbor_jaccard_topk",
    "graph_local_clustering",
]


def session(sf_dir: str):
    """The package session, warmed once (codegen compiler, parquet
    reader, noop sink) so per-query timings measure the queries, not
    JVM start-up."""
    spark = get_spark("bench")
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    return spark


def run(spark, name: str, sf_dir: str) -> float:
    """Build query ``name`` and run it into the ``noop`` sink (full
    computation, no write cost, no driver collect); wall seconds.
    Afterwards its tracked persists are released and the py4j refs it
    left are collected, so the ContextCleaner can unregister its dead
    broadcasts before the next query."""
    t0 = time.time()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    release_persisted()
    gc.collect()
    return dt


def _settled_run(spark, name: str, sf_dir: str) -> float:
    """``run`` after a full Python and JVM GC, so each measurement
    starts from the same heap state; rounded seconds."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return round(run(spark, name, sf_dir), 3)


def require_registered(names) -> None:
    """Exit 1, before any SparkSession starts, if a name in ``names``
    is not a registered query."""
    unknown = sorted(set(names) - set(QUERIES))
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}")
        raise SystemExit(1)


def _steal_jiffies() -> int:
    """Cumulative hypervisor steal time (jiffies) across all CPUs.
    Steal on a busy shared VM has been measured in ~25% bursts, so
    per-run steal is the first thing to read when a bench drifts."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def _psi_cpu_some_us() -> int:
    """Cumulative CPU pressure-stall time (us, PSI 'some' line): time
    at least one runnable task was waiting for a CPU. Co-tenant CPU
    load shows here and not in steal: a 32-core run once read unchanged
    code 3.4x slower with steal at only 2.66%. The delta over the run /
    elapsed is the fraction of the run spent CPU-starved."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        pass
    return -1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    steal0, psi0, t_start = _steal_jiffies(), _psi_cpu_some_us(), time.time()
    spark = session(sf_dir)

    # Cold and warm are measured back-to-back PER QUERY: the cold run
    # includes the plan's whole-stage-codegen compile, a fixed
    # data-independent cost, and the immediate rerun reuses the
    # compiled classes (the steady-state time, SCALING.md). A separate
    # warm pass would run every query into a session aged by the whole
    # cold pass, and that drift (code cache, JIT state -- not
    # collectable garbage) made warm > cold at sf0.1 even with a full
    # GC before every measurement. "value" is the sum of first runs.
    # The JVM is nudged every 15 runs: without it a long session
    # accumulates broadcast blocks and the warm runs measure GC
    # pressure instead of the plans (2-4x spikes on single queries).
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    n_runs = 0
    for name in HEADLINE:
        for times in (timings, warm):
            times[name] = round(run(spark, name, sf_dir), 3)
            n_runs += 1
            if n_runs % 15 == 0:
                spark.sparkContext._jvm.System.gc()

    # isolated best-of-K for the slowest warm queries, each run from a
    # settled heap -- the closest a long-lived session gets to a
    # fresh-session per-query time. The raw runs are kept: a wide
    # spread says host or GC, a tight spread that moved says plan.
    warm_best: dict[str, float] = {}
    warm_best_runs: dict[str, list[float]] = {}
    top = sorted(warm, key=warm.get, reverse=True)[:WARM_BEST_TOPN]
    for name in top:
        runs = [_settled_run(spark, name, sf_dir) for _ in range(WARM_BEST_RUNS)]
        warm_best[name] = round(min(warm[name], *runs), 3)
        warm_best_runs[name] = runs

    total = round(sum(timings.values()), 3)
    # environment stanza: host load + uptime recorded
    # WITH the numbers, so ambient contention is visible in the
    # artifact instead of needing bracketing runs to adjudicate
    try:
        with open("/proc/uptime") as f:
            uptime_s = float(f.read().split()[0])
    except OSError:
        uptime_s = -1.0
    # steal% of total CPU capacity over the whole bench run: >2-3%
    # means the hypervisor was taking real cycles and cross-round
    # per-query deltas should be read with that in mind
    steal1 = _steal_jiffies()
    elapsed = max(time.time() - t_start, 1e-9)
    steal_pct = (
        round(100.0 * (steal1 - steal0) / os.sysconf("SC_CLK_TCK") / (os.cpu_count() * elapsed), 2)
        if steal0 >= 0 and steal1 >= 0
        else -1.0
    )
    # PSI cpu some: % of the run's wall-clock during which at least one
    # runnable task waited for a CPU -- catches co-tenant load that
    # steal_pct misses. On a saturated 32-thread bench a modest value
    # is normal; deltas between runs are the signal.
    psi1 = _psi_cpu_some_us()
    psi_pct = (
        round(100.0 * (psi1 - psi0) / 1e6 / elapsed, 2)
        if psi0 >= 0 and psi1 >= 0
        else -1.0
    )
    env = {
        "load1": round(os.getloadavg()[0], 2),
        "load5": round(os.getloadavg()[1], 2),
        "uptime_sec": round(uptime_s, 0),
        "steal_pct": steal_pct,
        "psi_cpu_pct": psi_pct,
        "cpus": os.cpu_count(),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "value_warm": round(sum(warm.values()), 3),
        "queries_warm_best": warm_best,
        "queries_warm_best_runs": warm_best_runs,
        "env": env,
        "sf": float(sf),
        "n_queries": len(HEADLINE),
        "extra": {n: _settled_run(spark, n, sf_dir) for n in EXTRA},
    }

    # full per-query maps -> repo file (the driver's stdout tail
    # can't hold them)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # the ONE stdout line, kept comfortably under the driver's
    # 2000-char tail: totals + slowest-10 maps + wedge extras.
    # "queries" carries the slowest-10 SUBSET OF THE COLD MAP -- the
    # same quantity BENCH_DETAIL.json's "queries" holds, so a consumer
    # diffing stdout against the detail file compares like with like.
    # The isolated best-of-K numbers live under their own key.
    slowest_cold = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[
            :WARM_BEST_TOPN
        ]
    )
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(HEADLINE),
        "value_warm": detail["value_warm"],
        "queries": slowest_cold,
        "queries_warm_best_top10": warm_best,
        # compact env stanza: host load and contention travel in the
        # recorded line itself, so ambient load is readable without
        # bracketing runs. The 1900-char guard below is the budget.
        "env": {
            "load1": env["load1"],
            "load5": env["load5"],
            "uptime_sec": env["uptime_sec"],
            "steal_pct": env["steal_pct"],
            "psi_cpu_pct": env["psi_cpu_pct"],
        },
        "detail": "BENCH_DETAIL.json",
        "extra": detail["extra"],
    }
    line = json.dumps(compact)
    # hard guard on the contract: if this ever outgrows the driver's
    # tail, fail the run loudly instead of going parse-dead. An
    # explicit raise, not assert: assert is stripped under python -O.
    if len(line) >= 1900:
        raise RuntimeError(f"compact bench line too long ({len(line)})")
    print(line)


if __name__ == "__main__":
    main()
