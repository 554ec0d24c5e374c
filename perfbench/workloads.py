"""The workloads. Each puts most of its time into different modules of
the package; ``BENCHMARK.json`` records why each was chosen.

* ``geojson_transform`` -- the reference's own DAG: a seeded landing
  through ``pipeline.transform`` and ``write_ndjson``, once, in a fresh
  process: what one ETL run costs.
* ``catalog_cold`` -- queries drawn by the seed from the pinned headline
  list (``headline.py``), each run once and cold in a fresh JVM: the
  per-query fixed cost (plan building over py4j, eager jobs, Catalyst,
  codegen), plus one foreachBatch streaming query in every draw.
"""

from __future__ import annotations

import json
import os
import random

from perfbench.check import digest_rows, duckdb_connect, duckdb_digest
from perfbench.fixtures import ensure_tables
from perfbench.headline import HEADLINE

# -- geojson_transform ------------------------------------------------------
LANDING_BUILDINGS = 1500
LANDING_TOPONYMS = 1500

# -- catalog_cold -----------------------------------------------------------
CATALOG_SF = 0.01
CATALOG_DRAW = 16  # queries drawn per run, one from each cost stratum
# run in every draw, so that each run measures the streaming layer
STREAMING_QUERY = "streaming_decontaminate_bloom"


def draw_catalog(seed: int) -> list[str]:
    """``CATALOG_DRAW`` headline queries and ``STREAMING_QUERY``, in
    seeded order. The rest of the list, ranked by its pinned cost, is
    cut into ``CATALOG_DRAW`` strata of near-equal size and one query
    is drawn from each, so every draw spans cheap to expensive queries
    like the whole list does."""
    pool = sorted((q for q in HEADLINE if q != STREAMING_QUERY),
                  key=lambda q: (HEADLINE[q], q))
    n = CATALOG_DRAW
    rng = random.Random(seed)
    order = [rng.choice(pool[i * len(pool) // n:(i + 1) * len(pool) // n])
             for i in range(n)]
    order.append(STREAMING_QUERY)
    rng.shuffle(order)
    return order


def _tables(work: str, sf: float) -> str:
    return ensure_tables(os.path.join(work, "tables"), sf)



def expected_digests(tables_dir: str, names: list[str]) -> dict[str, list]:
    """DuckDB-oracle digests of ``names`` over ``tables_dir``, computed
    once per fixture directory and cached beside it."""
    from etl_building_inspector_spark.plans.registry import ORACLES

    path = os.path.join(tables_dir, "digests.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    missing = [n for n in names
               if cache.get(n, {}).get("sql") != ORACLES[n]]
    if missing:
        con = duckdb_connect(tables_dir)
        try:
            for n in missing:
                cache[n] = {"sql": ORACLES[n], "digest": duckdb_digest(con, ORACLES[n])}
        finally:
            con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {n: cache[n]["digest"] for n in names}


def _collect(df):
    return df.columns, df.collect()


def _digest_check(expected):
    def check(result):
        got = digest_rows(*result)
        if got != expected:
            return f"rows/digest {got} != oracle {expected}"
        return None

    return check


def _query_op(bench, name: str, tables: str, expected):
    from etl_building_inspector_spark.plans.registry import QUERIES

    return bench.op(
        name,
        lambda: QUERIES[name](bench.spark, tables),
        _collect,
        _digest_check(expected[name]),
    )


def geojson_transform(bench, work: str) -> dict:
    from etl_building_inspector_spark.plans.pipeline import transform, write_ndjson

    from perfbench.landing import diff, make_landing, read_output

    landing = make_landing(bench.args.seed, LANDING_BUILDINGS, LANDING_TOPONYMS)
    paths = landing.write(os.path.join(work, "landing"))
    out_dir = os.path.join(work, "out", "geojson")
    bench.warmup_parquet = os.path.join(_tables(work, CATALOG_SF), "region.parquet")

    def build():
        return transform(bench.spark, paths["consolidated"], paths["toponyms"],
                         paths["sheets"], paths["layer_boroughs"])

    def action(df):
        write_ndjson(df, out_dir)

    def check(_):
        return diff(landing.expected, read_output(out_dir))

    bench.start()
    # one ETL run per fresh process: what a user pays for one run
    bench.op("etl", build, action, check)
    return {
        "input_lines": len(landing.consolidated) + len(landing.toponyms)
        + len(landing.sheets),
        "python_input_lines": len(landing.toponyms),
    }


def catalog_cold(bench, work: str) -> dict:
    tables = _tables(work, CATALOG_SF)
    bench.warmup_parquet = os.path.join(tables, "region.parquet")
    expected = expected_digests(tables, list(HEADLINE))
    order = draw_catalog(bench.args.seed)
    bench.start()
    for name in order:
        _query_op(bench, name, tables, expected)
    return {"order": order}


WORKLOADS = {
    "geojson_transform": geojson_transform,
    "catalog_cold": catalog_cold,
}
