"""Per-layer metrics and the span file of a traced run.

Every per-layer value covers the run's timed operations (the ETL run,
or the whole cold query list); ``*_per_input_row`` ratios divide by
the generated input lines. The session set-up is recorded as a span
but left out of the metrics.
"""

from __future__ import annotations

import json
import os

from perfbench.probes import union_length

CORES_ENV = "SPARK_GRAFT_CPUS"


def _jobs_by_span(bench) -> list[dict]:
    """Every job fired inside a span, with its stage totals. A stage
    shared by several jobs (reused shuffle output) counts once, on the
    first job that lists it."""
    h = bench.harvest
    out = []
    seen: set[int] = set()
    for jid in sorted(h["jobs"]):
        j = h["jobs"][jid]
        group = j["group"] or ""
        if not group.startswith("span-"):
            continue
        stages = [h["stages"][s] for s in j["stages"]
                  if s in h["stages"] and s not in seen]
        seen.update(j["stages"])
        out.append({**j, "id": jid, "span": int(group[5:]),
                    "stage_data": stages})
    return out


def _sql_by_root(bench, jobs: list[dict]) -> dict[int, dict]:
    """SQL plan-node metrics summed per root span."""
    tr = bench.tracer
    root_of = {j["id"]: tr.root(tr.spans[j["span"]]).id for j in jobs}
    out: dict[int, dict] = {}
    for job_ids, totals in bench.harvest["sql"]:
        roots = {root_of[jid] for jid in job_ids if jid in root_of}
        if len(roots) != 1:
            continue
        acc = out.setdefault(roots.pop(), {})
        for k, v in totals.items():
            acc[k] = acc.get(k, 0.0) + v
    return out


def _is_operator_call(s) -> bool:
    return s.layer == "operators" and s.name != "release_persisted"


def layer_metrics(bench, info: dict) -> dict:
    tr = bench.tracer
    spans = tr.spans
    jobs = _jobs_by_span(bench)
    timed_jobs = [j for j in jobs if spans[j["span"]].timed]
    roots = [s for s in spans if s.parent is None and s.timed and s.layer == "plans"]
    sql = _sql_by_root(bench, jobs)

    def jobs_under(pred) -> list[dict]:
        return [j for j in timed_jobs
                if any(pred(a) for a in tr.ancestors(spans[j["span"]]))]

    builds = [s for s in spans if s.timed and s.name == "build" and s.layer == "plans"]
    actions = [s for s in spans if s.timed and s.name == "action"]
    loads = list(tr.outermost(lambda s: s.name == "load_table"))
    op_calls = list(tr.outermost(_is_operator_call))
    op_ids = {s.id for s in op_calls}
    releases = [s for s in spans if s.timed and s.name == "release_persisted"]

    stages = [st for j in timed_jobs for st in j["stage_data"]]
    task_s = sum(st["run_s"] for st in stages)
    root_wall = sum(s.dur for s in roots)
    cores = int(os.environ.get(CORES_ENV, "1"))

    plan_gap = 0.0
    for a in actions:
        ivals = [
            (max(j["submitted"], a.start), min(j["completed"] or a.end, a.end))
            for j in jobs_under(lambda x, a=a: x.id == a.id)
            if j["submitted"] is not None
        ]
        plan_gap += a.dur - union_length([iv for iv in ivals if iv[1] > iv[0]])

    def sql_sum(key: str) -> float:
        return sum(sql.get(r.id, {}).get(key, 0.0) for r in roots)

    def per_input(key: str, lines_key: str) -> float:
        lines = info.get(lines_key, 0)
        return sql_sum(key) / lines if lines else 0.0

    (gc0, st0), (gc1, st1) = bench.probes_before, bench.probes_after
    extra = [bench.op_extra.get(r.id, {}) for r in roots]
    m = {
        "plans.build_s": (sum(s.dur for s in builds), "s"),
        "plans.build_jobs": (len(jobs_under(lambda x: x.name == "build")), "count"),
        "plans.gc_s": (tr.gc_seconds_within(builds), "s"),
        "sources.load_table_calls": (sum(1 for s in spans if s.timed and s.name == "load_table"), "count"),
        "sources.load_table_s": (sum(s.dur for s in loads), "s"),
        "sources.load_table_jobs": (len(jobs_under(lambda x: x.name == "load_table")), "count"),
        "sources.json_scan_rows_per_input_row": (per_input("json_scan_rows", "input_lines"), "ratio"),
        "functions.python_rows_per_input_row": (per_input("python_rows", "python_input_lines"), "ratio"),
        "functions.python_run_s": (sql_sum("python_run_s"), "s"),
        "functions.python_init_s": (sql_sum("python_init_s"), "s"),
        "operators.call_s": (sum(s.dur for s in op_calls), "s"),
        "operators.call_jobs": (len(jobs_under(lambda x: x.id in op_ids)), "count"),
        "operators.release_s": (sum(s.dur for s in releases), "s"),
        "operators.live_persisted_after": (max((e.get("live_persisted_after", 0) for e in extra), default=0), "count"),
        "streaming.batches": (st1[0] - st0[0], "count"),
        "streaming.batch_s": (st1[1] - st0[1], "s"),
        "streaming.input_rows": (st1[2] - st0[2], "count"),
        "spark.analysis_ms": (sum(e.get("analysis_ms", 0.0) for e in extra), "ms"),
        "spark.plan_gap_s": (plan_gap, "s"),
        "spark.jobs": (len(timed_jobs), "count"),
        "spark.stages": (sum(1 for st in stages if st["ran"]), "count"),
        "spark.tasks": (sum(st["tasks"] for st in stages), "count"),
        "spark.failed_tasks": (sum(st["failed_tasks"] for st in stages), "count"),
        "spark.task_s": (task_s, "s"),
        "spark.task_cpu_s": (sum(st["cpu_s"] for st in stages), "s"),
        "spark.task_gc_s": (sum(st["gc_s"] for st in stages), "s"),
        "spark.core_busy_ratio": (task_s / (root_wall * cores) if root_wall else 0.0, "ratio"),
        "spark.shuffle_write_mb": (sum(st["shuffle_write_b"] for st in stages) / 2**20, "MB"),
        "spark.spill_mb": (sum(st["spill_b"] for st in stages) / 2**20, "MB"),
        "session.jvm_gc_s": (gc1 - gc0, "s"),
        "session.peak_rss_mb": (info.get("peak_rss_mb", 0.0), "MB"),
        "trace.wall_s": (bench.wall_s, "s"),
    }
    return m


def write_spans(bench, info: dict, work: str) -> str:
    """Write every span, a per-query summary and the tracing overhead
    (traced ``wall_s`` against the untraced run of the same workload
    and seed, when one exists in ``work``)."""
    tr = bench.tracer
    args = bench.args
    jobs = _jobs_by_span(bench)
    jobs_in: dict[int, int] = {}
    for j in jobs:
        jobs_in[j["span"]] = jobs_in.get(j["span"], 0) + 1

    def total_jobs(s) -> int:
        return sum(n for sid, n in jobs_in.items()
                   if any(a.id == s.id for a in tr.ancestors(tr.spans[sid])))

    queries = []
    for s in tr.spans:
        if s.parent is not None or s.layer != "plans":
            continue
        kids = [c for c in tr.spans if c.query == s.query and c.id != s.id]
        builds = [c for c in kids if c.name == "build" and c.parent == s.id]
        ops = [c for c in kids if _is_operator_call(c) and not any(
            _is_operator_call(a) for a in tr.ancestors(tr.spans[c.parent]))]
        queries.append({
            "query": s.name, "span": s.id, "timed": s.timed, "wall_s": s.dur,
            "build_s": sum(c.dur for c in builds),
            "build_jobs": sum(total_jobs(c) for c in builds),
            "operator_call_jobs": sum(total_jobs(c) for c in ops),
            "load_table_calls": sum(1 for c in kids if c.name == "load_table"),
            "jobs": total_jobs(s),
            **bench.op_extra.get(s.id, {}),
        })

    overhead = None
    untraced = os.path.join(work, f"result-{args.workload}-{args.seed}.json")
    if bench.wall_s and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        overhead = {
            "untraced_wall_s": base["wall_s"], "traced_wall_s": bench.wall_s,
            "overhead_s": bench.wall_s - base["wall_s"],
            "overhead_ratio": bench.wall_s / base["wall_s"] - 1.0,
            "untraced_cpu_s": base["cpu_s"], "traced_cpu_s": bench.cpu_s,
            "cpu_overhead_ratio": bench.cpu_s / base["cpu_s"] - 1.0,
        }
    doc = {
        "workload": args.workload, "seed": args.seed,
        "tracing_overhead": overhead,
        "order": info.get("order"),
        "queries": queries,
        "spans": [{
            "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
            "query": s.query, "start": s.start, "end": s.end, "timed": s.timed,
            "jobs": jobs_in.get(s.id, 0),
        } for s in tr.spans],
    }
    path = os.path.join(work, f"spans-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    if overhead is not None:
        print(f"tracing overhead: {overhead['overhead_s']:+.3f} s "
              f"({100 * overhead['overhead_ratio']:+.1f}% of wall time, "
              f"{100 * overhead['cpu_overhead_ratio']:+.1f}% of cpu_s)")
    print(f"spans: {path}")
    return path
