"""Result checks: order-insensitive value hash and the DuckDB oracle.

The canonicalisation is the engine's verification recipe: columns sorted
by name, datetimes normalised to microseconds, every row rendered with
``str`` and joined, rows sorted, SHA-256 over the lot."""

from __future__ import annotations

import hashlib

import pandas as pd

from perfbench.gen import TABLES


def norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf


def vhash(pdf: pd.DataFrame) -> str:
    pdf = norm(pdf)
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted("\x01".join(map(str, r)) for r in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


class Oracle:
    """DuckDB views over one generated input directory."""

    def __init__(self, input_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
            )

    def hash(self, sql: str) -> str:
        return vhash(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()
