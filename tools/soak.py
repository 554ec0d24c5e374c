"""Derived-scale soak runner (VERDICT r9 #4): first-class soak logs
plus the per-family DuckDB resource rule IN CODE, so the r9
graph_kcore false-failure class (a memory cap meant for the shingle
oracles starving an iterative-CTE oracle into a disk-death) cannot
recur, and soak forensics never again depend on what survived a
`tail -40`.

Resource rule (docs/history/ROUND_NOTES.md r9, "Checker-resource guidance"):
  - QUADRATIC-SHINGLE oracles (self-join pair enumeration over
    exploded shingles -- the only family whose DuckDB plans
    bad-alloc under the default 80%-of-RAM budget instead of
    spilling) run with memory_limit=48GB + a temp spill dir.
  - ITERATIVE-GRAPH oracles (unrolled recursive CTEs: k-core peel,
    LPA rounds, PageRank fixed point) run with DuckDB's DEFAULT
    in-RAM budget -- capping them forces >80GB of temp spill. At
    replication factor >= GRAPH_DUCK_MAX_FACTOR their oracles exceed
    the box either way, so the runner SKIPS their DuckDB leg and the
    replication-equivariance check (tools/equivariance_check.py) is
    their scale evidence -- recorded in the log as checker =
    "equivariance-only".
  - everything else: default budget, no temp override.

Output: one JSON line per query appended to the log path --
{"query", "status" ("PASS"/"FAIL"/"ERROR"/"SKIP-duck"), "secs",
"duck_mem", "checker", "detail"} -- plus the equivariance results,
plus a trailing summary line. The log is the committable artifact;
stdout mirrors it.

Usage:
  python tools/soak.py x10            # build /tmp/sf1.0-derived (factor 10
                                      # of sf0.1) if needed; quadratic-risk
                                      # families + round additions +
                                      # equivariance
  python tools/soak.py x3             # build /tmp/sf0.3-derived; FULL
                                      # registry + equivariance
  python tools/soak.py <dir> <factor> [query ...]   # explicit
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)

# -- family membership (names, with prefix fallbacks below) ---------------

QUAD_SHINGLE = {
    "dedup_ngram_jaccard",
    "dedup_jaccard_prefix_filter",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_signature",
    "dedup_simhash",
    "dedup_simhash_hamming_pairs",
    "dedup_cluster_assign",
    "dedup_cluster_assign_lss",
    "dedup_cluster_incremental",
    "dedup_keep_representatives",
    "dedup_winnow_window_sensitivity",
    "text_winnow_fingerprints",
}

ITER_GRAPH = {
    "graph_kcore",
    "graph_label_propagation",
    "graph_pagerank",
}

# at this replication factor (and above) the iterative-graph DuckDB
# oracles exceed the box even uncapped (r8/r9 measurements: >80 GB
# temp spill at x10); equivariance is the evidence there
GRAPH_DUCK_MAX_FACTOR = 10

DUCK_MEM_QUAD = os.environ.get("SOAK_DUCK_MEM_QUAD", "48GB")
DUCK_TMP = os.environ.get("SOAK_DUCK_TMP", "/tmp/duck_spill")

# the x10 default slate: the quadratic-risk families the soak exists
# to stress (pair graphs, CC, ER, embedding LSH) + current-round
# additions. Mirrors the r9 soak's 24-query slate plus r10's three.
X10_SLATE = [
    "dedup_exact_text",
    "dedup_minhash_signature",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "dedup_simhash_hamming_pairs",
    "dedup_ngram_jaccard",
    "dedup_jaccard_prefix_filter",
    "dedup_cluster_assign",
    "dedup_cluster_assign_lss",
    "dedup_keep_representatives",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "ann_cosine_topk",
    "ann_cosine_lsh",
    "er_blocked_fuzzy_match",
    "er_phonetic_blocking",
    "er_survivorship_golden",
    "graph_bfs_hops",
    "graph_sssp_bounded",
    "graph_triangle_count",
    "graph_kcore",
    "graph_label_propagation",
    "graph_pagerank",
    "unpivot_metrics",
    # round-10 additions
    "dedup_minhash_index_refresh",
    "spatial_simple_poly_intersect_join",
    "streaming_decontaminate_bloom",
    # round-10 session additions
    "dedup_cluster_incremental",
    "text_collocations_pmi",
    "streaming_minhash_refresh",
]

EQUIVARIANCE_NAMES = [
    "graph_kcore",
    "graph_label_propagation",
    "graph_pagerank",
    "graph_triangle_count",
    "dedup_cluster_assign",
    "dedup_cluster_assign_lss",
    "dedup_cluster_incremental",
    "dedup_keep_representatives",
]


def duck_profile(name: str, factor: int) -> tuple[str, str]:
    """(duck_mem or '', checker) for a query at a replication factor."""
    if name in ITER_GRAPH:
        if factor >= GRAPH_DUCK_MAX_FACTOR:
            return "", "equivariance-only"
        return "", "oracle(default-ram)"
    if name in QUAD_SHINGLE:
        return DUCK_MEM_QUAD, "oracle(capped)"
    return "", "oracle(default)"


def _run_oracle_group(
    names: list[str], sf_dir: str, duck_mem: str, log, results: dict
) -> None:
    if not names:
        return
    env = dict(os.environ)
    env.pop("ORACLE_CHECK_DUCK_MEM", None)
    env.pop("ORACLE_CHECK_DUCK_TMP", None)
    if duck_mem:
        env["ORACLE_CHECK_DUCK_MEM"] = duck_mem
        os.makedirs(DUCK_TMP, exist_ok=True)
        env["ORACLE_CHECK_DUCK_TMP"] = DUCK_TMP
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "oracle_check.py"), sf_dir, *names],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
    )
    pat = re.compile(
        r"^(PASS|FAIL|ROWS) (\S+): (.*?)(?:\s*\[(\d+\.?\d*)s\])?$"
    )
    seen = set()
    for line in proc.stdout.splitlines():
        m = pat.match(line.strip())
        if not m:
            continue
        status, q, detail, secs = m.groups()
        if q not in results:
            continue
        seen.add(q)
        results[q].update(
            status="PASS" if status in ("PASS", "ROWS") else "FAIL",
            secs=float(secs) if secs else None,
            detail=detail[:400],
        )
        _emit(log, results[q])
    for q in names:
        if q not in seen:
            tail = (proc.stdout + proc.stderr)[-400:]
            results[q].update(status="ERROR", detail=f"no checker line; tail: {tail}")
            _emit(log, results[q])


def _emit(log, rec: dict) -> None:
    line = json.dumps(rec, sort_keys=True)
    print(line, flush=True)
    log.write(line + "\n")
    log.flush()


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "x10":
        base, derived, factor = "/root/testdata/sf0.1", "/tmp/sf1.0-derived", 10
        names = list(X10_SLATE)
    elif args and args[0] == "x3":
        base, derived, factor = "/root/testdata/sf0.1", "/tmp/sf0.3-derived", 3
        import __spark_entry__ as entrymod

        names = list(entrymod.queries())
    else:
        derived = args[0] if args else "/tmp/sf0.3-derived"
        factor = int(args[1]) if len(args) > 1 else 3
        base = os.environ.get("SOAK_BASE_DIR", "/root/testdata/sf0.1")
        names = args[2:] or list(X10_SLATE)

    if not os.path.exists(os.path.join(derived, "documents.parquet")):
        print(f"building {derived} = {base} x {factor}", flush=True)
        subprocess.run(
            [
                sys.executable,
                os.path.join(TOOLS, "make_scaled_fixture.py"),
                base,
                derived,
                str(factor),
            ],
            check=True,
            cwd=REPO,
        )

    log_path = os.environ.get(
        "SOAK_LOG", os.path.join(REPO, f"SOAK_x{factor}.jsonl")
    )
    log = open(log_path, "w")
    t_start = time.time()
    meta = {
        "soak": f"x{factor}",
        "derived": derived,
        "base": base,
        "duck_mem_quad": DUCK_MEM_QUAD,
        "n_queries": len(names),
        "load1": round(os.getloadavg()[0], 2),
    }
    _emit(log, meta)

    results = {}
    groups: dict[tuple[str, str], list[str]] = {}
    for q in names:
        mem, checker = duck_profile(q, factor)
        results[q] = {"query": q, "duck_mem": mem or "default", "checker": checker}
        if checker == "equivariance-only":
            results[q].update(status="SKIP-duck", detail="oracle exceeds box at this factor; see equivariance")
            _emit(log, results[q])
        else:
            groups.setdefault((mem, checker), []).append(q)

    # run capped groups FIRST (they also want the temp dir); each
    # group is one oracle_check subprocess so the env profile applies
    # exactly to its members and a crash only loses that group
    for (mem, _checker), qs in sorted(groups.items(), reverse=True):
        _run_oracle_group(qs, derived, mem, log, results)

    # equivariance leg (graph + cluster families) -- always run on a
    # derived fixture: it is the x-scale evidence for the skipped
    # oracles and a second, DuckDB-free opinion on the CC family
    eq_names = [q for q in EQUIVARIANCE_NAMES if q in results or factor >= 3]
    eq = subprocess.run(
        [
            sys.executable,
            os.path.join(TOOLS, "equivariance_check.py"),
            derived,
            base,
            *eq_names,
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    n_eq_fail = 0
    for line in eq.stdout.splitlines():
        m = re.match(r"^(PASS|FAIL) (\S+): (.*)$", line.strip())
        if not m:
            continue
        status, q, detail = m.groups()
        if status == "FAIL":
            n_eq_fail += 1
        _emit(
            log,
            {"query": q, "checker": "equivariance", "status": status, "detail": detail[:400]},
        )
    if eq.returncode != 0 and n_eq_fail == 0:
        n_eq_fail += 1
        _emit(log, {"checker": "equivariance", "status": "ERROR", "detail": eq.stderr[-400:]})

    n_fail = sum(1 for r in results.values() if r.get("status") in ("FAIL", "ERROR"))
    summary = {
        "summary": True,
        "n_queries": len(names),
        "n_fail_oracle": n_fail,
        "n_fail_equivariance": n_eq_fail,
        "wall_sec": round(time.time() - t_start, 1),
        "log": log_path,
    }
    _emit(log, summary)
    log.close()
    return 1 if (n_fail or n_eq_fail) else 0


if __name__ == "__main__":
    raise SystemExit(main())
