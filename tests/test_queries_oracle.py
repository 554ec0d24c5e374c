"""Oracle conformance at sf0.001 for every registered query -- the
same comparison the driver does at sf0.01 (scalar output schema, row
count, column names, order-insensitive value multiset), run fast
enough for CI. The schema guard, the cell canonicaliser and the DuckDB
connection are the gate's own (plans/contract.py), so a nested output
column fails here as it does in tools/oracle_check.py.

Both per-query tests also lint the query's executed plan, taken before
the action: no CartesianProduct, and a BroadcastNestedLoopJoin only in
the audited queries of BNLJ_WHITELIST."""

from __future__ import annotations

from collections import Counter

import pytest

from etl_building_inspector_spark.plans.contract import (
    assert_scalar_output_schema,
    canon,
    oracle_connection,
)
from etl_building_inspector_spark.plans.registry import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"

# Every query whose executed plan carries a BroadcastNestedLoopJoin.
# Each is a cross against a BROADCAST tiny aggregate -- a one-row
# total (corpus n, watermark, threshold), a k-row centroid/prototype/
# codebook table, or a bounds/calibration grid -- never data x data
# (audited query-by-query, VERDICT r5 "anti-pattern sweep"). A NEW
# name appearing here must justify itself the same way before being
# whitelisted; data-sized crosses must become equi joins instead.
BNLJ_WHITELIST = {
    "ann_cosine_ivf_pq", "ann_cosine_ivf_sampled", "ann_cosine_pq_adc",
    "ann_cosine_topk", "ann_radius_sensitivity", "ann_range_search",
    "ann_recall_eval", "ann_topk_margin_eval",
    "ann_truncated_dim_recall_eval", "basket_pair_lift",
    "corpus_curriculum_phases", "corpus_mixture_deficit",
    "corpus_source_token_tvd", "corpus_token_budget_waterfill",
    "customer_decayed_value_fixedpoint", "dedup_embedding_cosine",
    "dedup_semantic_clusters", "dedup_shingle_size_sensitivity",
    "dq_freshness_by_type", "emb_assign_nearest_prototype",
    "emb_contrastive_pairs", "emb_cosine_histogram_sampled",
    "er_blocking_strategy_eval", "events_user_lifecycle_states",
    "file_skipping_effectiveness", "kmeans_lloyd_round",
    "mixture_resample", "mv_distinct_delta_maintenance",
    "orders_backlog_aging", "orders_weekday_profile",
    "privacy_t_closeness", "revenue_concentration_8020",
    "rolling_7d_active_users", "sample_balanced_classes",
    "sketch_bloom_fpr_eval", "sketch_bottomk_theta_eval",
    "sketch_kmv_merge_eval", "skew_key_diagnostics",
    "text_collocations_pmi", "text_ngram_coverage_vs_reference",
    "text_tfidf_topk", "text_vocab_growth_heaps", "tfidf_topk_terms",
    "timeseries_gapfill_linear", "timeseries_gapfill_locf",
    "timeseries_xcorr_lags",
}


def _check_plan_and_schema(name, df):
    """The scale-killer lint of ``df``'s executed plan, then the
    driver's scalar-schema guard."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"CartesianProduct in {name}"
    assert "BroadcastNestedLoopJoin" not in plan or name in BNLJ_WHITELIST, (
        f"un-audited BroadcastNestedLoopJoin in {name} (justify + "
        "whitelist or rewrite as equi join)"
    )
    assert_scalar_output_schema(df.schema, name)


@pytest.fixture(scope="module")
def duck():
    return oracle_connection(SF_DIR)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    _check_plan_and_schema(name, sdf)
    spark_cols = sdf.columns
    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    assert sorted(spark_cols) == sorted(duck_cols)

    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
    spark_rows = Counter(
        tuple(canon(r[i]) for i in s_idx) for r in sdf.collect()
    )
    duck_rows = Counter(
        tuple(canon(r[i]) for i in d_idx) for r in res.fetchall()
    )
    assert spark_rows == duck_rows


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF_DIR)
    _check_plan_and_schema(name, df)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
