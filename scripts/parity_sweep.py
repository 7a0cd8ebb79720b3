#!/usr/bin/env python
"""Resumable full-registry parity sweep at an arbitrary SF.

Runs every registered query against its DuckDB oracle (exact values,
stricter than the driver hash) or, for rows-only queries, executes it and
records the row count. Appends one line per query to a log file and skips
names already logged — so repeated invocations resume where the previous
one stopped (the sf0.1 quadratic oracles run ~minutes each; a wall-clock
cap can cut a run without losing progress).

    python scripts/parity_sweep.py /root/testdata/sf0.1 /tmp/parity_sf01.log [skip_re]

Exit code 0 iff every logged line is ok.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    log_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/parity_sweep.log"
    skip_re = re.compile(sys.argv[3]) if len(sys.argv) > 3 else None

    import duckdb

    from modforms_db_spark.registry import get_registry
    from modforms_db_spark.session import get_spark

    done: set[str] = set()
    if os.path.exists(log_path):
        with open(log_path) as fh:
            done = {line.split("\t")[1] for line in fh if "\t" in line}

    spark = get_spark("parity-sweep", long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders "
        "lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    import pandas as pd

    def norm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.reindex(sorted(pdf.columns), axis=1)
        for c in pdf.columns:
            if pd.api.types.is_datetime64_any_dtype(pdf[c].dtype):
                pdf[c] = pdf[c].astype("datetime64[us]")
        return pdf

    def rows_of(pdf: "pd.DataFrame") -> list[tuple]:
        return sorted(
            tuple(str(v) for v in r) for r in pdf.itertuples(index=False)
        )

    reg = get_registry()
    failures = 0
    with open(log_path, "a") as log:
        for name in sorted(reg):
            if name in done or (skip_re and skip_re.search(name)):
                continue
            try:
                got = norm(reg[name].builder(spark, sf_dir).toPandas())
                if reg[name].oracle is None:
                    status = f"ok-rows\t{len(got)}"
                else:
                    want = norm(con.execute(reg[name].oracle).df())
                    if rows_of(got) == rows_of(want):
                        status = f"ok\t{len(got)}"
                    else:
                        status, failures = f"MISMATCH\t{len(got)}/{len(want)}", failures + 1
            except Exception as exc:  # log and continue the sweep
                status, failures = f"ERROR\t{type(exc).__name__}: {exc}"[:300], failures + 1
            log.write(f"{sf_dir}\t{name}\t{status}\n")
            log.flush()
            print(name, status.split("\t")[0], flush=True)
    print(f"failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
