"""Pins of the query registry's contract surface.

The driver reads the first 50 ``queries()`` entries, so the head order
is a contract; the full name set and the oracle SQL are pinned by
digest so that a registry refactor cannot add, drop or rename a query
or edit an oracle without this file changing with it.
"""

from __future__ import annotations

import hashlib
import json

import pytest

from etl_building_inspector_spark.plans.registry import ORACLES, QUERIES, query

HEAD = [
    "dedup_embedding_cosine",
    "split_train_valid_test",
    "sql_api_q11ish",
    "sql_api_q21ish",
    "spatial_pip_join",
    "spatial_pip_join_grid",
    "spatial_pip_nomatch_log",
    "sql_api_q22ish",
    "sql_api_q3",
    "streaming_sessionize",
    "text_bpe_token_estimate",
    "text_chunk_windows",
    "text_ngram_novelty",
    "text_ngram_topk",
    "text_winnow_fingerprints",
    "unpivot_metrics",
    "variant_extraction",
    "window_distribution",
    "window_frames_battery",
    "asof_join_tolerance",
    "attribution_first_touch",
    "attribution_last_touch",
    "basket_pair_lift",
    "basket_pair_support",
    "cohort_retention",
    "compaction_bin_plan",
    "corpus_source_overlap",
    "cumulative_unique_users",
    "decontaminate_embedding_lsh",
    "dedup_incremental_minhash",
    "densify_date_spine",
    "dq_constraint_checks",
    "event_path_topk",
    "funnel_stages",
    "funnel_stages_windowed",
    "funnel_time_to_convert",
    "graph_degree_distribution",
    "id_gap_ranges",
    "incremental_agg_merge",
    "max_concurrent_intervals",
    "median_exact_groups",
    "median_exact_udaf",
    "mom_revenue_growth",
    "multimodal_byte_histogram",
    "outlier_iqr_by_group",
    "profile_columns",
    "provenance_file_counts",
    "regression_slope_by_nation",
    "relational_division",
    "revenue_concentration_8020",
]

NAMES_SHA256 = "8a80bafe627c10ffc4e42c562641ca14dcbe7f5a76386fa4913f100561b6936b"
ORACLES_SHA256 = "b7e95868a36ed4d218d038185ff665f58c281e2db3773393afd27252a9c10861"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_head_is_the_driver_window():
    assert list(QUERIES)[:50] == HEAD


def test_registry_sizes():
    assert len(QUERIES) == 364
    assert len(ORACLES) == 360


def test_name_set_unchanged():
    assert _sha256("\n".join(sorted(QUERIES))) == NAMES_SHA256


def test_oracle_sql_unchanged():
    assert _sha256(json.dumps(sorted(ORACLES.items()))) == ORACLES_SHA256


def test_every_query_carries_the_release_wrapper():
    unwrapped = [n for n, q in QUERIES.items() if not hasattr(q, "__wrapped__")]
    assert not unwrapped


def test_duplicate_registration_is_rejected():
    before = dict(QUERIES)
    with pytest.raises(ValueError):
        query("flagship_enrich")(lambda s, d: None)
    assert QUERIES == before
