from __future__ import annotations

import fnmatch
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_building_inspector_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Driver-budget test tiers (VERDICT r10 #1).
#
# The full suite outgrew the driver's pytest window (r10: 1069 tests,
# ~35 min on this host; VERIFY_r10 recorded tests_ok=false with zero
# failures -- the run was cut mid-suite at ~94%). The rotated-out
# registry queries' only driver-visible oracle attestation is this
# suite, so it MUST complete under driver conditions.
#
# Split: the DEFAULT `pytest tests/` run keeps the load-bearing gates
# -- tests/test_queries_oracle.py (oracle conformance for ALL
# registered queries at sf0.001), the per-query plan pins in
# tests/test_plans.py, and every fast unit/golden test -- and finishes
# in ~14 min (measured 2026-08-18 with `pytest --durations=0`; the
# per-test timings were not kept). The HEAVY tier (EBI_HEAVY_TESTS=1)
# adds back:
#
#   * the independent pandas-recompute property layer
#     (tests/test_r*_properties.py, ~480 s): second-opinion recomputes
#     of every query, redundant with the oracle layer for gate
#     purposes (a shared-conceptual-error detector, run per round by
#     the builder, not per verify by the driver);
#   * individually slow (>10 s) operator soak tests: streaming
#     watermark drains, LSH and IVF-PQ cross-checks, the simhash,
#     keep-first and SSSP property sweeps -- real soaks, not gates.
#
# Builders: run `EBI_HEAVY_TESTS=1 python -m pytest tests/ -q` at
# least once per round before committing substantive operator changes.
_HEAVY_PATTERNS = [
    "test_r*_properties.py::*",
    "test_streaming.py::test_watermark_drops_late_data",
    "test_streaming.py::test_streaming_dedup_within_watermark",
    "test_similarity.py::test_neardup_lsh_vs_triangle_oracle",
    "test_similarity.py::test_lsh_recall_reasonable",
    "test_similarity.py::test_ivf_pq_consistent_with_pq_adc",
    "test_dedup_caps.py::test_simhash_hamming_cap_and_exact_recall",
    "test_functions.py::test_keep_first_properties",
    "test_analytics.py::test_sssp_prefers_cheaper_two_hop_path",
]


_HEAVY_REASON = (
    "heavy tier -- run with EBI_HEAVY_TESTS=1 (driver-budget "
    "split, VERDICT r10 #1; see tests/conftest.py)"
)


def pytest_collection_modifyitems(config, items):
    if os.environ.get("EBI_HEAVY_TESTS") == "1":
        return
    skip = pytest.mark.skip(reason=_HEAVY_REASON)
    for item in items:
        nid = item.nodeid
        if nid.startswith("tests/"):
            nid = nid[len("tests/"):]
        base = nid.split("[", 1)[0]
        if any(
            fnmatch.fnmatch(nid, p) or fnmatch.fnmatch(base, p)
            for p in _HEAVY_PATTERNS
        ):
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """Say how much of the suite the heavy tier left out, so a default
    run is never mistaken for a full one."""
    heavy = sum(
        1
        for r in terminalreporter.stats.get("skipped", [])
        if isinstance(r.longrepr, tuple) and _HEAVY_REASON in r.longrepr[2]
    )
    terminalreporter.write_line(
        f"heavy tier: {heavy} tests skipped (run with EBI_HEAVY_TESTS=1)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
