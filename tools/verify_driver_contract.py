"""Driver-contract verification under DRIVER-LIKE conditions: a
default-config SparkSession (ANSI on, driver's own settings, any cwd)
running every registered query. Catches environment assumptions that
tests under our tuned session would miss (ANSI casts, worker
importability, cwd-dependent paths).

Usage: python tools/verify_driver_contract.py [sf_dir] [query ...]

With query names, runs only those; a name that is not registered
exits 1 before any SparkSession starts.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    os.chdir("/tmp")  # deliberately NOT the repo root

    import __spark_entry__ as entrymod
    from bench import require_registered

    require_registered(sys.argv[2:])
    queries = entrymod.queries()

    from pyspark.sql import SparkSession

    from etl_building_inspector_spark.plans.contract import (
        assert_scalar_output_schema,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    print("ansi:", spark.conf.get("spark.sql.ansi.enabled"))

    rows = entrymod.entry(spark).collect()
    assert len(rows) > 0, "entry() returned no rows"
    print(f"entry: {len(rows)} rows")

    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(queries), "oracle keys not a subset of queries"

    names = sorted(set(sys.argv[2:]) or queries)
    failures = []
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            # driver-shape guard: nested result types crash the
            # driver's canonicalizer (plans/contract.py)
            assert_scalar_output_schema(df.schema, name)
            n = len(df.collect())
            print(f"OK   {name}: {n} rows")
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: {str(e)[:200]}")
    print(f"\n{len(names)} queries, {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
