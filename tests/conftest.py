"""Shared fixtures: one SparkSession per test session, DuckDB oracle
connections per SF dir, and the parity comparator that mirrors the
driver's row-count + schema + order-insensitive value-hash check."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from modforms_db_spark.schemas import TABLES  # noqa: E402

SF_DIR = os.environ.get("MFDB_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("MFDB_SHUFFLE_PARTITIONS", "8")
    from modforms_db_spark.session import get_spark

    s = get_spark("mfdb-tests", long_lived=True)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for cross-engine comparison: columns sorted by name,
    dtypes normalized, rows sorted by stringified values."""
    import datetime

    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        dt = pdf[c].dtype
        if dt == object and pdf[c].map(
            lambda v: v is None or isinstance(v, datetime.date)
        ).all() and pdf[c].notna().any():
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
            dt = pdf[c].dtype
        if pd.api.types.is_datetime64_any_dtype(dt):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(dt):
            pdf[c] = pdf[c].astype("boolean")
        elif pd.api.types.is_integer_dtype(dt):
            pdf[c] = pdf[c].astype("Int64")
        elif pd.api.types.is_float_dtype(dt):
            pdf[c] = pdf[c].astype("float64")
    if len(pdf):
        key = pdf.astype(str).agg("\x00".join, axis=1)
        pdf = pdf.iloc[key.sort_values(kind="mergesort").index].reset_index(drop=True)
    return pdf


def assert_parity(spark, ddb, name: str, sf_dir: str = SF_DIR) -> None:
    """Run a registered query on Spark and its oracle on DuckDB; assert
    identical canonical frames (the driver's check, but stricter: exact
    value equality, not just hash equality)."""
    from modforms_db_spark.registry import get_registry

    qd = get_registry()[name]
    assert qd.oracle is not None, f"{name} has no oracle (rows-only query)"
    df = qd.builder(spark, sf_dir)
    # Guard (round-5, closes the q_inverted_index class permanently): a
    # SQL-oracle query must emit SCALAR output columns only — the
    # driver's canonicalizer sorts raw result cells and crashes on
    # array/struct/map values (CORRECTNESS_r04: `unhashable type:
    # numpy.ndarray`); this local harness stringifies rows so it would
    # pass where the driver dies. Asserted here, on the DataFrame the
    # parity run builds anyway, so the check costs nothing extra and
    # covers every present and future oracle query (including the
    # eager sink/stream builders a standalone schema sweep would have
    # to re-execute).
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))
    ]
    assert not complex_cols, (
        f"{name}: oracle query emits non-scalar column(s) {complex_cols} — "
        "the driver's canonicalizer crashes on array/struct/map cells; "
        "serialize them (array_join / to_json) before returning"
    )
    got = canon(df.toPandas())
    want = canon(ddb.execute(qd.oracle).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    # Dtype KINDS must match: the driver hashes stringified values, so an
    # int64/float64 divergence ("1" vs "1.0") is a hash mismatch even when
    # the numeric values compare equal.
    got_kinds = [d.kind if hasattr(d, "kind") else "O" for d in got.dtypes]
    want_kinds = [d.kind if hasattr(d, "kind") else "O" for d in want.dtypes]
    assert got_kinds == want_kinds, (
        f"{name}: dtype-kind mismatch {list(zip(got.columns, got_kinds, want_kinds))}"
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def _run(spark, name, sf=SF_DIR):
    """A registered query's result as pandas."""
    from modforms_db_spark.registry import get_registry

    return get_registry()[name].builder(spark, sf).toPandas()
