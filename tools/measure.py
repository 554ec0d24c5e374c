"""Measure registered queries in one session: timings, interleaved
A/Bs, physical plans and per-job/per-stage profiles.

Usage:
  python tools/measure.py [--sf SF_DIR] [--n N] time q [q ...]
  python tools/measure.py [--sf SF_DIR] [--n N] ab-conf --key K --a V1 --b V2 q [q ...]
  python tools/measure.py [--sf SF_DIR] [--n N] ab-fanout q [q ...]
  python tools/measure.py [--sf SF_DIR] plans OUT_DIR [q ...]
  python tools/measure.py [--sf SF_DIR] [--n N] profile q [q ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``. The session and every
timed run are ``bench.py``'s own ``session`` and ``run``: build,
action into the ``noop`` sink, then ``release_persisted()`` and
``gc.collect()``. A query name that is not registered exits 1 before
any SparkSession starts.

* ``time``: each query cold, then ``--n`` warm reruns.
* ``ab-conf``: one warm-up, then ``--n`` rounds alternating the SQL
  conf ``--key`` between ``--a`` (baseline) and ``--b`` (candidate);
  best-of-N each (interleaving cancels host drift).
* ``ab-fanout``: the same A/B with ``operators._parallel.fan_out_scan``
  disabled (baseline) and enabled.
* ``plans``: ``explain("formatted")`` of each query (default: the
  ``bench.py`` headline list) into ``OUT_DIR/<query>.txt``, with the
  numbers that vary from run to run (expression ids, lambda-variable
  suffixes, plan ids, codegen and query-stage ids) written as ``n``.
  For before/after evidence, dump into ``.../before`` and
  ``.../after`` and diff.
* ``profile``: ``--n`` runs per query, each under its own job group;
  prints every job the run added to Spark's status store, streaming
  batches included (duration, tasks), and the stages it ran (task
  time, CPU time, tasks, shuffle write, spill).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE, require_registered, run, session  # noqa: E402
from etl_building_inspector_spark.operators import _parallel  # noqa: E402
from etl_building_inspector_spark.operators._cache import (  # noqa: E402
    release_persisted,
)
from etl_building_inspector_spark.plans.registry import QUERIES  # noqa: E402
from perfbench.probes import (  # noqa: E402
    drain_listener_bus,
    read_jobs,
    read_stages,
)


# Numbers a plan carries that depend on what ran before it in the
# session, not on the plan: expression ids, lambda-variable suffixes,
# exchange plan ids, codegen stage ids and AQE query-stage ids.
_RUN_VARYING = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"\blambda (\w+)_\d+\b"), r"lambda \1_n"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=n"),
    (re.compile(r"\bcodegen id : \d+"), "codegen id : n"),
    (re.compile(r"^(\(\d+\) \w*QueryStage\n(?:.+\n)*?Arguments: )\d+$", re.M), r"\1n"),
]


def normalise_plan(plan: str) -> str:
    """``plan`` with its run-varying numbers replaced by ``n``, so two
    runs of one commit write identical files."""
    for pattern, repl in _RUN_VARYING:
        plan = pattern.sub(repl, plan)
    return plan


def _fmt(xs: list[float]) -> str:
    return "/".join(f"{x:.2f}" for x in xs)


def time_queries(spark, sf_dir: str, names: list[str], n: int) -> None:
    for name in names:
        cold = run(spark, name, sf_dir)
        warm = [run(spark, name, sf_dir) for _ in range(n)]
        print(f"{name:44s} cold {cold:6.2f}  warm best {min(warm):6.2f} [{_fmt(warm)}]")


def ab(spark, sf_dir: str, names: list[str], n: int, set_a, set_b) -> None:
    """Interleaved A/B, best-of-``n`` each, after one warm-up run. The
    B setting is left in place."""
    tot_a = tot_b = 0.0
    for name in names:
        run(spark, name, sf_dir)
        a, b = [], []
        for _ in range(n):
            set_a()
            a.append(run(spark, name, sf_dir))
            set_b()
            b.append(run(spark, name, sf_dir))
        tot_a += min(a)
        tot_b += min(b)
        print(
            f"{name:42s} A min {min(a):6.3f} [{_fmt(a)}]  "
            f"B min {min(b):6.3f} [{_fmt(b)}]  B speedup {min(a) / min(b):5.2f}x"
        )
    print(f"TOTALS: A {tot_a:.2f}  B {tot_b:.2f}  ({tot_a / tot_b:.2f}x)")


_FAN_OUT = _parallel.fan_out_scan


def _no_fan_out(df):
    return df


def fanout_switch(on: bool) -> None:
    """Enable or disable fan_out_scan in every package module holding it
    by name (each caller imports it at module level)."""
    fn = _FAN_OUT if on else _no_fan_out
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("etl_building_inspector_spark"):
            if getattr(mod, "fan_out_scan", None) in (_FAN_OUT, _no_fan_out):
                mod.fan_out_scan = fn


def write_plans(spark, sf_dir: str, out_dir: str, names: list[str]) -> list[str]:
    """``explain("formatted")`` of each query into OUT_DIR/<query>.txt."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name in names:
        plan = normalise_plan(
            QUERIES[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        )
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        release_persisted()
        paths.append(path)
        print(f"wrote {path} ({len(plan)} chars)")
    return paths


def profile(spark, sf_dir: str, name: str, group: str) -> tuple[float, list[dict]]:
    """One ``run`` under job group ``group``: its wall seconds and its
    jobs in id order, each with ``stage_totals`` for the stages it ran.
    The jobs are every job the status store gained over the run, not
    only the group's: a streaming query's batches run on the stream's
    own thread, outside the caller's group, and must count too."""
    sc = spark.sparkContext
    drain_listener_bus(spark)
    before = max(read_jobs(spark), default=-1)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        wall = run(spark, name, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    drain_listener_bus(spark)
    stages = read_stages(spark)
    jobs = []
    for jid, job in sorted(read_jobs(spark).items()):
        if jid <= before:
            continue
        ran = {s: stages[s] for s in job["stages"] if stages.get(s, {}).get("ran")}
        jobs.append(dict(job, id=jid, stage_totals=ran))
    return wall, jobs


def print_profile(name: str, wall: float, jobs: list[dict]) -> None:
    print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs ===")
    for j in jobs:
        dur = j["completed"] - j["submitted"]
        print(f"job {j['id']:4d} {dur:7.3f}s  tasks={j['tasks']:4d}  failed={j['failed_tasks']}")
        for sid, s in sorted(j["stage_totals"].items()):
            print(
                f"   stage {sid:4d} taskTime={s['run_s']:7.2f}s cpu={s['cpu_s']:7.2f}s "
                f"n={s['tasks']:4d} sw={s['shuffle_write_b'] / 1e6:7.1f}MB "
                f"spill={s['spill_b'] / 1e6:7.1f}MB"
            )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--n", type=int, default=3, help="runs per query / A-B side")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in ("time", "ab-fanout", "profile"):
        sub.add_parser(cmd).add_argument("queries", nargs="+")
    p = sub.add_parser("ab-conf")
    p.add_argument("--key", required=True)
    p.add_argument("--a", required=True, help="baseline value")
    p.add_argument("--b", required=True, help="candidate value")
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("plans")
    p.add_argument("out_dir")
    p.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf or $SPARK_GRAFT_SF_DIR is required")
    require_registered(args.queries)

    spark = session(args.sf)
    if args.cmd == "time":
        time_queries(spark, args.sf, args.queries, args.n)
    elif args.cmd == "ab-conf":
        ab(
            spark, args.sf, args.queries, args.n,
            lambda: spark.conf.set(args.key, args.a),
            lambda: spark.conf.set(args.key, args.b),
        )
    elif args.cmd == "ab-fanout":
        ab(
            spark, args.sf, args.queries, args.n,
            lambda: fanout_switch(False),
            lambda: fanout_switch(True),
        )
    elif args.cmd == "plans":
        write_plans(spark, args.sf, args.out_dir, args.queries or HEADLINE)
    else:
        for name in args.queries:
            for it in range(args.n):
                wall, jobs = profile(spark, args.sf, name, f"measure-{name}-{it}")
                print_profile(f"{name} run{it}", wall, jobs)


if __name__ == "__main__":
    main()
