"""Explicit StructType schemas for the ten driver tables (FIXTURES.md).

Declared once; :mod:`modforms_db_spark.io` applies them on read so no
correctness-checked path depends on schema inference. Types mirror the
DuckDB-measured parquet schemas (FIXTURES.md) — the reference's data model
(space → factor → coefficients star schema, SURVEY.md §1.1) maps onto the
same structural shapes.
"""

from __future__ import annotations

import os

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# Timestamp policy (measured, see io.py): the driver parquet stores naive
# timestamps (isAdjustedToUTC=false) — orders/lineitem at ms precision (Spark
# infers TIMESTAMP_NTZ), events.ts at ns precision which Spark's parquet
# reader REJECTS (PARQUET_TYPE_ILLEGAL). We therefore declare all timestamps
# as TIMESTAMP_NTZ — the exact semantic match for DuckDB's naive TIMESTAMP —
# and io.load() reads events.ts via the nanosAsLong legacy conf + ns→µs
# conversion (identical truncation to DuckDB's, verified).


def _s(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


REGION = _s(("r_regionkey", IntegerType()), ("r_name", StringType()))

NATION = _s(
    ("n_nationkey", IntegerType()),
    ("n_name", StringType()),
    ("n_regionkey", IntegerType()),
)

CUSTOMER = _s(
    ("c_custkey", LongType()),
    ("c_name", StringType()),
    ("c_nationkey", IntegerType()),
    ("c_acctbal", DoubleType()),
    ("c_mktsegment", StringType()),
)

SUPPLIER = _s(
    ("s_suppkey", LongType()),
    ("s_name", StringType()),
    ("s_nationkey", IntegerType()),
    ("s_acctbal", DoubleType()),
)

PART = _s(
    ("p_partkey", LongType()),
    ("p_name", StringType()),
    ("p_brand", StringType()),
    ("p_type", StringType()),
    ("p_size", IntegerType()),
    ("p_retailprice", DoubleType()),
)

ORDERS = _s(
    ("o_orderkey", LongType()),
    ("o_custkey", LongType()),
    ("o_orderstatus", StringType()),
    ("o_totalprice", DoubleType()),
    ("o_orderdate", TimestampNTZType()),
    ("o_orderpriority", StringType()),
)

LINEITEM = _s(
    ("l_orderkey", LongType()),
    ("l_partkey", LongType()),
    ("l_suppkey", LongType()),
    ("l_linenumber", IntegerType()),
    ("l_quantity", DoubleType()),
    ("l_extendedprice", DoubleType()),
    ("l_discount", DoubleType()),
    ("l_tax", DoubleType()),
    ("l_returnflag", StringType()),
    ("l_linestatus", StringType()),
    ("l_shipdate", TimestampNTZType()),
)

EVENTS = _s(
    ("event_id", LongType()),
    ("ts", TimestampNTZType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)

DOCUMENTS = _s(
    ("doc_id", LongType()),
    ("text", StringType()),
    ("lang", StringType()),
    ("source", StringType()),
    ("n_chars", LongType()),
)

EMBEDDINGS = _s(
    ("vec_id", LongType()),
    ("embedding", ArrayType(FloatType())),
    ("label", IntegerType()),
)

SCHEMAS: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

TABLES = tuple(SCHEMAS)


def path_for(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")
