"""Registry query runner — the general-engine CLI next to the
reference-parity pipeline CLI (``__main__.py``).

Usage::

    python -m swat_mapreduce_spark.query_cli <query_name>
        [--sf-dir DIR] [--limit N] [--explain] [--list]

Runs any query registered in ``queries.load_all()`` against the given
testdata dir and prints the result (or its formatted physical plan
with ``--explain``). ``--list`` enumerates every registered query.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="swat_mapreduce_spark.query_cli",
        description="run a registered engine query by name",
    )
    p.add_argument("query", nargs="?", help="query name (see --list)")
    p.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="testdata directory (default: %(default)s)",
    )
    p.add_argument(
        "--limit", type=int, default=20, help="rows to show (default 20)"
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of rows (the "
        "query's plan_fn, if it has one)",
    )
    p.add_argument(
        "--list", action="store_true", help="list registered query names"
    )
    p.add_argument(
        "--format",
        choices=("show", "tsv", "jsonl"),
        default="show",
        help="output style: pretty .show() (default), or machine-"
        "readable tsv/jsonl streamed via toLocalIterator (one "
        "partition on the driver at a time — pipe-friendly, never "
        "materializes the full result; implies no --limit default cap)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from swat_mapreduce_spark.queries import load_all, run_query

    reg = load_all()
    if args.list:
        for name in sorted(reg):
            marker = " [oracle]" if reg[name].oracle else ""
            print(f"{name}{marker}")
        return 0
    if not args.query:
        build_parser().print_usage(sys.stderr)
        return 2
    if args.query not in reg:
        print(f"unknown query: {args.query!r} (see --list)", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from swat_mapreduce_spark.session import get_spark

    # a caller's session is used as it stands; engine defaults apply
    # only to a session this run creates
    spark = SparkSession.getActiveSession() or get_spark("swat-query-cli")
    entry = reg[args.query]
    if args.explain:
        print(run_query(spark, entry, args.sf_dir, "plan"))
        return 0
    df = entry.spark_fn(spark, args.sf_dir)
    if args.format == "show":
        df.show(args.limit, truncate=False)
        print(f"({df.count()} rows total)", file=sys.stderr)
    else:
        import json

        cols = df.columns
        if args.format == "tsv":
            print("\t".join(cols))
            for row in df.toLocalIterator():
                print(
                    "\t".join("" if v is None else str(v) for v in row)
                )
        else:
            for row in df.toLocalIterator():
                print(json.dumps(dict(zip(cols, row)), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
