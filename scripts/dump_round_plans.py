#!/usr/bin/env python
"""Dump ``.explain("formatted")`` for named queries into per-round files.

Usage:

    python scripts/dump_round_plans.py OUTDIR SUFFIX NAME [NAME ...]

writes ``OUTDIR/<name>_<suffix>.txt`` for each query name, using
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).

The optimization-round before/after protocol: run this once from a
worktree pinned at the prior round's HEAD (before) and once at the
current HEAD (after), so plan claims in OPTIMIZATION_r*.md are
checkable against committed artifacts.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    from modforms_db_spark.registry import get_registry
    from modforms_db_spark.session import get_spark

    spark = get_spark("mfdb-round-plans")
    spark.sparkContext.setLogLevel("ERROR")
    reg = get_registry()

    for name in names:
        if name not in reg:
            print(f"skip {name}: not in registry", file=sys.stderr)
            continue
        df = reg[name].builder(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') @ {sf_dir}\n\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
