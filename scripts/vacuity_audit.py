#!/usr/bin/env python
"""Vacuity audit: find registered queries that return ZERO rows at every
shipped scale factor.

An oracle-parity check on an always-empty query passes vacuously
(empty == empty) and exercises none of the query's logic. Run this
after adding operators; any name listed for ALL SFs needs either
data-grounded inputs or deterministic planted ground truth (see the
docstrings of `q_outlier_iqr`, `q_max_drawdown` and
`q_fuzzy_name_join` for the house pattern).

    python scripts/vacuity_audit.py [sf_dir ...]

Prints one line per always-empty query; exit 0 iff none.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    from modforms_db_spark.registry import get_registry
    from modforms_db_spark.session import get_spark

    spark = get_spark("vacuity-audit", long_lived=True)
    spark.sparkContext.setLogLevel("ERROR")
    reg = get_registry()
    always_empty: list[str] = []
    for name, q in reg.items():
        counts = []
        for sf in sf_dirs:
            try:
                counts.append(q.builder(spark, sf).count())
            except Exception as exc:  # noqa: BLE001 — audit must keep going
                counts.append(f"ERR:{type(exc).__name__}")
        if all(c == 0 for c in counts):
            always_empty.append(name)
            print(f"ALWAYS EMPTY: {name}  counts={counts}")
        elif counts[0] == 0 or 0 in counts:
            print(f"note: {name} empty at some SFs  counts={counts}")
    print(f"always-empty: {len(always_empty)} of {len(reg)}")
    return 1 if always_empty else 0


if __name__ == "__main__":
    sys.exit(main())
