"""bench.py's run harness and tools/measure.py, called in-process on
the shared test session."""

from __future__ import annotations

import importlib.util
import os

import bench
from etl_building_inspector_spark.operators import _cache, dedup
from perfbench.probes import drain_listener_bus, read_jobs

_spec = importlib.util.spec_from_file_location(
    "measure",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "measure.py"),
)
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)

QUERY = "flagship_enrich"


def test_run_times_and_releases(spark, sf_dir):
    assert bench.run(spark, QUERY, sf_dir) > 0
    assert not _cache._PERSISTED and not _cache._CHECKPOINTED
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_plans_writes_physical_plan(spark, sf_dir, tmp_path):
    [path] = measure.write_plans(spark, sf_dir, str(tmp_path / "plans"), [QUERY])
    assert path.endswith(f"{QUERY}.txt")
    with open(path) as f:
        assert "Physical Plan" in f.read()


def test_normalise_plan_maps_run_varying_numbers():
    """Two runs of one plan that differ only in the numbers the session
    hands out normalise to one text; a limit's argument is kept."""

    def plan(i):
        return (
            f"(1) Project [codegen id : {i}]\n"
            f"Output [1]: [transform(xs#{i}L, lambdafunction((lambda x_{i}#{i + 1} + 1), "
            f"lambda x_{i}#{i + 1}, false)) AS ys#{i + 2}]\n"
            "\n"
            "(2) ShuffleQueryStage\n"
            f"Output [1]: [k#{i}]\n"
            f"Arguments: {i}\n"
            "\n"
            "(3) Exchange\n"
            f"Arguments: hashpartitioning(k#{i}, 32), ENSURE_REQUIREMENTS, [plan_id={i}]\n"
            "\n"
            "(4) LocalLimit\n"
            "Arguments: 5\n"
        )

    a, b = measure.normalise_plan(plan(7)), measure.normalise_plan(plan(41))
    assert a == b
    assert "#n" in a and "lambda x_n#n" in a and "[plan_id=n]" in a
    assert "[codegen id : n]" in a and "Output [1]: [k#n]\nArguments: n\n" in a
    assert a.endswith("(4) LocalLimit\nArguments: 5\n")


def test_profile_reports_jobs_with_stages(spark, sf_dir):
    wall, jobs = measure.profile(spark, sf_dir, QUERY, "test-measure-profile")
    assert wall > 0
    assert jobs
    assert all(j["group"] == "test-measure-profile" for j in jobs)
    assert any(j["stage_totals"] for j in jobs)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    measure.print_profile(QUERY, wall, jobs)


def test_profile_counts_streaming_batch_jobs(spark, sf_dir):
    """A streaming query's batch jobs run on the stream's thread,
    outside the profile's job group; profile still counts every job
    the run added to the status store."""
    before = max(read_jobs(spark), default=-1)
    _, jobs = measure.profile(
        spark, sf_dir, "streaming_decontaminate_bloom", "test-measure-stream"
    )
    drain_listener_bus(spark)
    assert len(jobs) == max(read_jobs(spark)) - before
    assert len(jobs) > sum(j["group"] == "test-measure-stream" for j in jobs)


def test_fanout_switch_round_trips():
    real = dedup.fan_out_scan
    measure.fanout_switch(False)
    try:
        assert dedup.fan_out_scan is not real
        assert dedup.fan_out_scan("df") == "df"
    finally:
        measure.fanout_switch(True)
    assert dedup.fan_out_scan is real
