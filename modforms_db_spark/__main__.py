"""Command-line entry point: run, list, or explain registered queries.

    python -m modforms_db_spark list [--tag llm]
    python -m modforms_db_spark run q_agg_flagship [--sf-dir DIR] [-n 20]
    python -m modforms_db_spark explain q_join_broadcast [--sf-dir DIR]

This is the "switch from the reference" surface: every operator the
engine implements is invocable by name against any testdata scale
directory, with the same session defaults the driver uses.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="modforms_db_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--tag", help="filter by tag substring")

    for name in ("run", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument(
            "--sf-dir", default="/root/testdata/sf0.01", help="testdata dir"
        )
        if name == "run":
            sp.add_argument("-n", type=int, default=20, help="rows to show")

    args = p.parse_args(argv)

    from modforms_db_spark.registry import get_registry

    reg = get_registry()

    if args.cmd == "list":
        for qname, qd in sorted(reg.items()):
            if args.tag and not any(args.tag in t for t in qd.tags):
                continue
            oracle = "sql-oracle" if qd.oracle else "rows-only"
            print(f"{qname:32s} {qd.priority:3s} {oracle:10s} {qd.doc}")
        return 0

    if args.query not in reg:
        print(f"unknown query {args.query!r}; try `list`", file=sys.stderr)
        return 2

    from modforms_db_spark.session import get_spark

    spark = get_spark(f"mfdb-cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    df = reg[args.query].builder(spark, args.sf_dir)
    if args.cmd == "explain":
        df.explain("formatted")
    else:
        df.show(args.n, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
