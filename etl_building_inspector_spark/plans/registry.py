"""The query registry: every query of the driver contract
(__spark_entry__.queries / oracle_sql) is registered here.

A query module adds a query with the ``query`` decorator::

    from .registry import query

    @query("my_query", MY_QUERY_SQL)   # the SQL is its DuckDB oracle
    def my_query(spark, sf_dir): ...

``QUERIES`` holds each query wrapped to release operator-internal
persisted blocks (operators/_cache.py) BEFORE building its plan: the
driver runs many queries (200+ registered) in one long-lived session
and never calls release_persisted() itself, so without this hook the
self-join caches (LSH buckets, jaccard shingles, CC edge lists)
accumulate until a default-sized heap OOMs. Releasing at next-query
entry is safe because the driver materializes each result before
invoking the next query. The wrapper also ships the package to the
session's Python workers (_dist.py), once per application. The
decorator returns the function itself, so a query that builds another
one calls it directly and never through the wrapper.

Order is ``HEAD``, then every other query in module order: the
``queries_*`` file names sorted naturally (core, domain, llm, llm2 ..
llm25, spatial, streaming, surface, surface2 .. surface13, tpch), each
module's own order within it.
"""

from __future__ import annotations

import gc
import importlib
import os
import pkgutil
import re

from .._dist import ensure_workers_can_import
from ..operators._cache import release_persisted

# The driver records correctness rows for the FIRST 50 ``queries()``
# entries only, so the head of this registry is a contract surface
# (pinned by tests/test_registry_head.py). Earlier heads and the
# rotation that chose this one: COVERAGE.md's rotation ledger.
HEAD: list[str] = [
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


def _released(fn):
    # ONE-LIVE-QUERY CONSTRAINT: release_persisted() at entry frees the
    # previous query's tracked persists AND localCheckpoints. Persists
    # recompute transparently; a freed localCheckpoint cannot (lineage
    # truncated), so do not hold query A's DataFrame across query B's
    # build -- materialize A first (the driver/bench contract does).
    # See operators/_cache.py module docstring.
    def wrapped(spark, sf_dir):
        release_persisted()
        # Drop py4j refs from the PREVIOUS query promptly so the
        # ContextCleaner can unregister its dead broadcasts -- a
        # long-lived driver session (the correctness driver runs 50
        # queries back to back) otherwise accumulates broadcast blocks.
        gc.collect()
        # the driver's sessions do not come from session.get_spark, so
        # the package is shipped to their Python workers here
        ensure_workers_can_import(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    """Decorator: register the function as query ``name``, with its
    DuckDB oracle ``sql`` if given, and return the function unchanged.
    A name can be registered once only."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = _released(fn)
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _natural(name: str) -> list:
    return [int(p) if p.isdigit() else p for p in re.split(r"(\d+)", name)]


_modules = sorted(
    (m.name for m in pkgutil.iter_modules([os.path.dirname(__file__)])
     if m.name.startswith("queries_")),
    key=_natural,
)
for _name in _modules:
    importlib.import_module(f".{_name}", __package__)

assert len(HEAD) == len(set(HEAD)) == 50 and set(HEAD) <= set(QUERIES), (
    "HEAD must name 50 unique registered queries"
)
QUERIES = {n: QUERIES[n] for n in HEAD} | QUERIES
