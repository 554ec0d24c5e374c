"""Domain-pipeline queries: run the full reference transform over the
deterministic reference-shaped fixtures (generated to a temp landing
dir on first use). Rows-only driver checks -- value-level correctness
is asserted by the golden tests in tests/test_pipeline.py, which pin
every record against hand-computed reference semantics."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .registry import query


def _landing() -> dict[str, str]:
    """Write the reference-shaped JSONL fixtures once per process."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "..", "tests"))
    from domain_fixtures import make_landing

    d = os.path.join(tempfile.gettempdir(), "ebi_domain_landing")
    marker = os.path.join(d, ".complete")
    if not os.path.exists(marker):
        # write to a fresh staging dir, then atomically rename into
        # place -- concurrent query runners never see partial files
        stage = tempfile.mkdtemp(prefix="ebi_domain_stage_")
        make_landing(stage)
        if not os.path.exists(d):
            try:
                os.rename(stage, d)
            except OSError:
                pass  # a concurrent runner won the rename; use theirs
        with open(marker, "w") as f:
            f.write("ok\n")
    return {
        "consolidated": os.path.join(d, "consolidated.jsonl"),
        "toponyms": os.path.join(d, "toponyms.jsonl"),
        "sheets": os.path.join(d, "sheets.jsonl"),
        "layer_boroughs": os.path.join(d, "layer-boroughs.json"),
    }


@query("domain_transform_records")
def domain_transform_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire transform step as one DataFrame: objects +
    relations + logs (building-inspector.js:371-412). sf_dir is unused
    -- the domain inputs are the reference-shaped fixtures, not the
    TPC-H tables."""
    from .pipeline import transform

    paths = _landing()
    df = transform(
        spark,
        paths["consolidated"],
        paths["toponyms"],
        paths["sheets"],
        paths["layer_boroughs"],
    )
    # project the export surface (stable schema for the driver check)
    return df.select(
        "record_type",
        "id",
        "type",
        "valid_since",
        "valid_until",
        "name",
        "rel_from",
        "rel_to",
        "rel_type",
        "error",
    )


@query("domain_ndjson_lines")
def domain_ndjson_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 sink shape: every record rendered as the reference's NDJSON
    {type, obj} line."""
    from .pipeline import to_ndjson_line, transform

    paths = _landing()
    df = transform(
        spark,
        paths["consolidated"],
        paths["toponyms"],
        paths["sheets"],
        paths["layer_boroughs"],
    )
    return to_ndjson_line(df).select("record_type", "value")
