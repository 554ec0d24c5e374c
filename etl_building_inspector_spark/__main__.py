"""CLI entry point -- the analog of the reference's
`spacetime-etl building-inspector[.<step>]` runner (README.md:143-146,
module.exports.steps at building-inspector.js:416-419).

Usage:
  python -m etl_building_inspector_spark download --landing DIR [--base-url URL]
  python -m etl_building_inspector_spark transform --landing DIR --out DIR
  python -m etl_building_inspector_spark query NAME [--sf-dir DIR] [-n ROWS]
  python -m etl_building_inspector_spark explain NAME [--sf-dir DIR] [--mode M]
  python -m etl_building_inspector_spark list-queries
"""

from __future__ import annotations

import argparse
import os
import sys


def _cmd_download(args: argparse.Namespace) -> int:
    from .sources.landing import download

    paths = download(args.landing, base_url=args.base_url, sleep_s=args.sleep)
    for name, p in paths.items():
        print(f"{name}: {p}")
    return 0


def _cmd_transform(args: argparse.Namespace) -> int:
    from .plans.pipeline import transform, write_ndjson
    from .session import get_spark

    spark = get_spark("transform")
    records = transform(
        spark,
        os.path.join(args.landing, "consolidated.jsonl"),
        os.path.join(args.landing, "toponyms.jsonl"),
        os.path.join(args.landing, "sheets.jsonl"),
        args.layer_boroughs
        or os.path.join(args.landing, "layer-boroughs.json"),
    )
    write_ndjson(records, args.out)
    counts = {
        r["record_type"]: r["count"]
        for r in records.groupBy("record_type").count().collect()
    }
    print(f"wrote {args.out}: {counts}")
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from .plans.registry import QUERIES
    from .session import get_spark

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
        return 2
    spark = get_spark("query")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.show(args.rows, truncate=False)
    return 0


def _cmd_explain(args: argparse.Namespace) -> int:
    from .plans.registry import QUERIES
    from .session import get_spark

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
        return 2
    spark = get_spark("explain")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.explain(args.mode)
    return 0


def _cmd_list(args: argparse.Namespace) -> int:
    from .plans.registry import ORACLES, QUERIES

    for name in sorted(QUERIES):
        marker = "oracle" if name in ORACLES else "rows-only"
        print(f"{name}  [{marker}]")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(prog="etl_building_inspector_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("download", help="land the three GeoJSON datasets")
    d.add_argument("--landing", required=True)
    d.add_argument(
        "--base-url", default="https://buildinginspector.nypl.org/api"
    )
    d.add_argument("--sleep", type=float, default=1.0)
    d.set_defaults(fn=_cmd_download)

    t = sub.add_parser("transform", help="landing dir -> NDJSON records")
    t.add_argument("--landing", required=True)
    t.add_argument("--out", required=True)
    t.add_argument("--layer-boroughs", default=None)
    t.set_defaults(fn=_cmd_transform)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("-n", "--rows", type=int, default=20)
    q.set_defaults(fn=_cmd_query)

    ex = sub.add_parser(
        "explain", help="print a registered query's physical plan"
    )
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    ex.set_defaults(fn=_cmd_explain)

    ls = sub.add_parser("list-queries", help="list registered queries")
    ls.set_defaults(fn=_cmd_list)

    args = ap.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
