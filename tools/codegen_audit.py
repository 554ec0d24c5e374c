"""Registry-wide strict-codegen audit.

A Janino compile failure does NOT fail a query -- Spark logs an
executor-side `ERROR CodeGenerator` and silently demotes the
projection to interpreter mode, so a correctness-green query can run
~10x slower per row at scale (see SCALING.md 'Janino-safe expression
shapes'). This audit flips the session to strict codegen
(`spark.sql.codegen.fallback=false` + `factoryMode=CODEGEN_ONLY`,
where compile failures RAISE) and executes every registered query at
sf0.001, reporting exactly which queries would have fallen back.

Usage:
    python tools/codegen_audit.py [sf_dir] [query ...]

With query names, runs only those; a name that is not registered
exits 1 before any SparkSession starts. Each query goes through
``bench.run``.

Exit 0 = every query executes under strict codegen. Known-benign
expressions that are interpreted BY DESIGN (CodegenFallback nodes
like higher-order functions embedded in an otherwise compiled
projection) do not trip this -- only whole-projection compile
failures do, which is exactly the silent-fallback hazard class.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import require_registered, run, session  # noqa: E402
from etl_building_inspector_spark.plans.registry import QUERIES  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    require_registered(sys.argv[2:])
    only = set(sys.argv[2:]) or set(QUERIES)
    names = [n for n in QUERIES if n in only]
    spark = session(sf_dir)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    failed: list[tuple[str, str]] = []
    for name in names:
        try:
            dt = run(spark, name, sf_dir)
            print(f"COMPILED {name} [{dt:.1f}s]", flush=True)
        except Exception as ex:  # noqa: BLE001
            first = str(ex).splitlines()[0][:160]
            failed.append((name, first))
            print(f"FALLBACK {name}: {first}", flush=True)
    print()
    if failed:
        print(f"{len(failed)} queries would fall back to interpreted mode:")
        for name, msg in failed:
            print(f"  {name}: {msg}")
        sys.exit(1)
    print(f"ALL {len(names)} queries execute under strict codegen")


if __name__ == "__main__":
    main()
