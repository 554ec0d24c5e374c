"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider

The landing test starts a local Spark session (about a minute)."""

from __future__ import annotations

import bisect
import filecmp
import json
import os
import re
from types import SimpleNamespace

import pytest

from perfbench import landing, report
from perfbench.fixtures import make_tables
from perfbench.probes import parse_metric

NAME = re.compile(r"[A-Za-z0-9_.-]+")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(seed: int, out: str) -> dict[str, str]:
    return landing.make_landing(seed, 300, 300).write(out)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write(7, str(tmp_path / "a"))
    b = _write(7, str(tmp_path / "b"))
    c = _write(8, str(tmp_path / "c"))
    for key in a:
        assert filecmp.cmp(a[key], b[key], shallow=False), key
    assert not filecmp.cmp(a["consolidated"], c["consolidated"], shallow=False)
    assert not filecmp.cmp(a["toponyms"], c["toponyms"], shallow=False)


def test_landing_covers_every_trap():
    exp = landing.make_landing(3, 2000, 2000).expected
    kinds = exp.log_kinds()
    assert set(kinds) == {"borough", "no_building", "no_index"}
    assert ("st:Address", None) in exp.objects  # address without a point
    cons = [json.loads(x) for x in landing.make_landing(3, 2000, 2000).consolidated]
    ids = [f["properties"]["id"] for f in cons]
    assert len(ids) > len(set(ids))  # duplicate ids
    rings = [len(f["geometry"]["geometries"][0]["coordinates"]) for f in cons]
    assert max(rings) == 2  # holes
    outer = [len(f["geometry"]["geometries"][0]["coordinates"][0]) for f in cons]
    assert min(outer) < 4  # degenerate first copies


def test_toponym_id_matches_reference_rendering():
    # integral doubles render without a decimal part, as in JS
    assert landing.js_num(40.0) == "40"
    assert landing.js_num(-73.9876543) == "-73.9876543"
    assert landing.toponym_id(10, [2.0, 2.0]).startswith("toponym-10-")


def test_fixture_tables_are_deterministic():
    a, b = make_tables(0.001), make_tables(0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name]), name


def test_catalog_draw_is_seeded_and_spans_the_strata():
    from perfbench.headline import HEADLINE
    from perfbench.workloads import CATALOG_DRAW, STREAMING_QUERY, draw_catalog

    assert len(HEADLINE) == 231
    a, b = draw_catalog(7), draw_catalog(7)
    assert a == b and a != draw_catalog(8)
    assert len(a) == len(set(a)) == CATALOG_DRAW + 1
    assert STREAMING_QUERY in a and set(a) <= set(HEADLINE)
    ranked = sorted((q for q in HEADLINE if q != STREAMING_QUERY),
                    key=lambda q: (HEADLINE[q], q))
    bounds = [i * len(ranked) // CATALOG_DRAW for i in range(CATALOG_DRAW)]
    strata = sorted(bisect.bisect_right(bounds, ranked.index(q)) - 1
                    for q in a if q != STREAMING_QUERY)
    assert strata == list(range(CATALOG_DRAW))


def test_digest_matches_the_oracle_gate_canonical_form():
    from perfbench.check import digest_rows

    rows = [(1, [0.5, float("nan")]), (2, None)]
    d = digest_rows(["b", "a"], rows)
    assert d == digest_rows(["a", "b"], [(r[1], r[0]) for r in reversed(rows)])
    assert d[0] == 2 and d[3] == ["a", "b"]
    assert d != digest_rows(["b", "c"], rows)  # column names count
    assert d != digest_rows(["b", "a"], [(1, [0.5, 1.0]), (2, None)])


def test_parse_metric_formats():
    assert parse_metric("1,234") == 1234
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.5 s (0 ms, 1 ms)") == 2.5
    assert parse_metric("total (min, med, max)\n120 ms (1 ms)") == pytest.approx(0.12)


def test_metric_and_workload_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    for n in names:
        assert NAME.fullmatch(n), n
    assert len(names) == len(set(names))

    from perfbench.run import Bench
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    bench = Bench(SimpleNamespace(trace=0))
    e2e = bench.end_to_end()
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert [u for _, u in e2e.values()] == [m["unit"] for m in spec["end_to_end"]]
    bench.probes_before = bench.probes_after = (0.0, (0, 0.0, 0))
    bench.harvest = {"jobs": {}, "stages": {}, "sql": []}
    layer = report.layer_metrics(bench, {})
    assert list(layer) == [m["name"] for m in spec["per_layer"]]
    assert [u for _, u in layer.values()] == [m["unit"] for m in spec["per_layer"]]


def test_oracle_agrees_with_transform(tmp_path):
    from etl_building_inspector_spark.plans.pipeline import transform, write_ndjson
    from etl_building_inspector_spark.session import get_spark

    land = landing.make_landing(5, 400, 400)
    paths = land.write(str(tmp_path / "landing"))
    spark = get_spark("perfbench-test")
    df = transform(spark, paths["consolidated"], paths["toponyms"],
                   paths["sheets"], paths["layer_boroughs"])
    out = str(tmp_path / "out")
    write_ndjson(df, out)
    got = landing.read_output(out)
    assert landing.diff(land.expected, got) == []
    assert got.same_as and got.log_kinds()["no_index"] > 0
