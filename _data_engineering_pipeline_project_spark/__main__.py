"""CLI: run any driver-facing query by name against a testdata directory.

    python -m _data_engineering_pipeline_project_spark list
    python -m _data_engineering_pipeline_project_spark run pricing_summary \
        --sf /root/testdata/sf0.001 --limit 20
    python -m _data_engineering_pipeline_project_spark explain pricing_summary

The reference's entry point is `python etl2.py` (one hardcoded pipeline);
the engine exposes its whole query surface. `run` prints the result as a
table; `explain` prints the formatted physical plan (the tool used to
verify every plan shape recorded in docs/SCALE.md).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="_data_engineering_pipeline_project_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list query names (* = has DuckDB oracle)")
    for c in ("run", "explain"):
        p = sub.add_parser(c)
        p.add_argument("query")
        p.add_argument("--sf", default="/root/testdata/sf0.001")
        if c == "run":
            p.add_argument("--limit", type=int, default=20)
        if c == "explain":
            p.add_argument(
                "--mode",
                default="formatted",
                choices=["formatted", "extended", "cost", "codegen"],
                help="explain mode (cost = CBO row-count/size estimates)",
            )
    args = ap.parse_args(argv)

    from _data_engineering_pipeline_project_spark import queries as q

    q.load_all()

    if args.cmd == "list":
        for name in sorted(q.QUERIES):
            print(("*" if name in q.ORACLES else " ") + " " + name)
        return 0

    if args.query not in q.QUERIES:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    from _data_engineering_pipeline_project_spark.session import get_spark

    spark = get_spark("cli")
    df = q.QUERIES[args.query](spark, args.sf)
    if args.cmd == "explain":
        df.explain(args.mode)
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
