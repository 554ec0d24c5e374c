"""operators/_parallel.fan_out_scan reads an input's partition count
only when that read runs no Spark job: on a scan-shaped plan. Any plan
node outside its narrow-node allowlist must skip the probe, including
exchange-planning nodes it was never told about."""

from __future__ import annotations

import pytest

from etl_building_inspector_spark.operators._parallel import fan_out_scan
from etl_building_inspector_spark.sources.tables import load_table


def _last_job_id(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _cogroup(docs):
    def first(left, right):
        return left

    return (
        docs.groupBy("doc_id")
        .cogroup(docs.groupBy("doc_id"))
        .applyInPandas(first, "doc_id long, text string")
    )


@pytest.mark.parametrize(
    "shape",
    [
        pytest.param(_cogroup, id="cogroup_apply_in_pandas"),
        pytest.param(lambda docs: docs.hint("rebalance"), id="rebalance_hint"),
    ],
)
def test_unknown_exchange_nodes_skip_the_probe(spark, sf_dir, shape):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = shape(docs)
    before = _last_job_id(spark)
    out = fan_out_scan(df)
    assert _last_job_id(spark) == before
    assert out is df


def test_scan_shaped_input_still_fans_out(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    before = _last_job_id(spark)
    out = fan_out_scan(docs.filter("doc_id % 17 <> 0"))
    assert _last_job_id(spark) == before
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
