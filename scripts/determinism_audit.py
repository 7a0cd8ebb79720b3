#!/usr/bin/env python
"""Partition-layout determinism audit: run every registered query under
two different shuffle-partition counts and compare order-insensitive
value hashes.

The external driver runs queries in ITS OWN session (its own partition
config), so a result that depends on shuffle layout — a float aggregate
whose partial-sum order shifts a 4-dp rounding across a boundary, a
top-k with an incomplete tiebreak, time-dependent expressions — would
hash-mismatch there while passing the local suite. This audit is the
Spark-vs-Spark complement of the Spark-vs-DuckDB parity sweep.

    python scripts/determinism_audit.py [sf_dir] [partsA] [partsB] [--only regex]

Exit 0 iff every query runs and hashes identically under both layouts.
A query that fails under either layout is reported as an error, never
compared as a hash.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Prefix of a failed query's entry in ``_run_all``'s result.
_ERR = "ERR:"


def _run_all(sf_dir: str, parts: int, only=None) -> dict[str, str]:
    from pyspark.sql import SparkSession

    from modforms_db_spark.registry import get_registry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.default.parallelism", str(parts))
        .getOrCreate()
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    out: dict[str, str] = {}
    for name, q in get_registry().items():
        if only is not None and not only.search(name):
            continue
        try:
            pdf = q.builder(spark, sf_dir).toPandas()
            pdf = pdf.reindex(sorted(pdf.columns), axis=1)
            out[name] = hashlib.sha256(
                "\n".join(
                    sorted(
                        "\x01".join(map(str, r))
                        for r in pdf.itertuples(index=False)
                    )
                ).encode()
            ).hexdigest()
        except Exception as exc:  # noqa: BLE001 — audit must keep going
            out[name] = f"{_ERR}{type(exc).__name__}"
    spark.stop()
    return out


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Compare every registered query's value hash under two "
        "shuffle-partition counts."
    )
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="directory of the input tables' parquet files (default: %(default)s)",
    )
    ap.add_argument("partsA", nargs="?", type=int, default=32)
    ap.add_argument("partsB", nargs="?", type=int, default=7)
    ap.add_argument(
        "--only", metavar="REGEX", help="audit only the matching names"
    )
    return ap.parse_intermixed_args(argv)


def main(argv: list[str] | None = None) -> int:
    a = parse_args(argv)
    only = re.compile(a.only) if a.only is not None else None
    ha = _run_all(a.sf_dir, a.partsA, only)
    hb = _run_all(a.sf_dir, a.partsB, only)
    errs = sorted(n for n in ha if ha[n].startswith(_ERR) or hb[n].startswith(_ERR))
    diffs = sorted(n for n in ha if n not in errs and ha[n] != hb[n])
    for n in diffs:
        print(f"LAYOUT-DEPENDENT: {n}")
    for n in errs:
        print(f"ERROR: {n}: {ha[n]} vs {hb[n]}")
    print(
        f"diffs: {len(diffs)} of {len(ha)}; errors: {len(errs)} "
        f"({a.partsA} vs {a.partsB} partitions, {a.sf_dir})"
    )
    return 1 if diffs or errs else 0


if __name__ == "__main__":
    sys.exit(main())
