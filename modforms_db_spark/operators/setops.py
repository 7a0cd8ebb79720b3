"""Set operations — SURVEY.md §2.7.

Reference capabilities [R]: merging record sets from the two stores
(union), records present in files AND Mongo (intersect), records in the
files store missing from Mongo — the sync diff (except), duplicate-aware
reconciliation (bag variants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.registry import register


def _buyers_of_type(spark: SparkSession, sf_dir: str, ptype: str) -> DataFrame:
    """Customers who bought a part of the given type (3-way join chain)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part").where(F.col("p_type") == ptype)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey")
        .distinct()
    )


_BUYERS_SQL = """
    SELECT DISTINCT o_custkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_type = '{t}'
    JOIN orders ON l_orderkey = o_orderkey
"""


@register(
    "q_set_union_all",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    priority="P1",
    tags=("setop",),
)
def q_set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (overlapping inputs ⇒ real duplicates preserved)."""
    c = load(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.unionAll(b)


@register(
    "q_set_union_distinct",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    priority="P1",
    tags=("setop",),
)
def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


@register(
    "q_set_intersect",
    oracle=(
        _BUYERS_SQL.format(t="PROMO") + " INTERSECT " + _BUYERS_SQL.format(t="ECONOMY")
    ),
    priority="P1",
    tags=("setop",),
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buyers of PROMO ∩ buyers of ECONOMY — records present in both
    stores [R]."""
    return _buyers_of_type(spark, sf_dir, "PROMO").intersect(
        _buyers_of_type(spark, sf_dir, "ECONOMY")
    )


@register(
    "q_set_except",
    oracle=(
        _BUYERS_SQL.format(t="PROMO") + " EXCEPT " + _BUYERS_SQL.format(t="ECONOMY")
    ),
    priority="P1",
    tags=("setop",),
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buyers of PROMO ∖ buyers of ECONOMY — the sync diff [R]."""
    return _buyers_of_type(spark, sf_dir, "PROMO").exceptAll(
        _buyers_of_type(spark, sf_dir, "ECONOMY")
    ).distinct()


@register(
    "q_set_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    priority="P2",
    tags=("setop", "bag"),
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersect — duplicate-aware reconciliation [R]."""
    o = load(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.intersectAll(b)


@register(
    "q_set_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    priority="P2",
    tags=("setop", "bag"),
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.exceptAll(b)


@register(
    "q_set_union_by_name",
    oracle="""
    SELECT key, name, acctbal, segment FROM (
      SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal,
             c_mktsegment AS segment
      FROM customer WHERE c_custkey <= 50
      UNION ALL BY NAME
      SELECT s_suppkey AS key, s_name AS name, NULL AS acctbal,
             NULL AS segment
      FROM supplier WHERE s_suppkey <= 50
    )
    """,
    priority="P2",
    tags=("setop", "union-by-name"),
)
def q_set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: `unionByName(allowMissingColumns=True)`
    aligns by COLUMN NAME and null-fills the gaps — how record sets from
    two stores with drifted schemas merge [R files-vs-Mongo reconcile].
    Position-based union would silently misalign; this is the safe form.
    """
    c = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 50)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    s = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 50)
        .select(
            F.col("s_suppkey").alias("key"),
            F.col("s_name").alias("name"),
        )
    )
    return c.unionByName(s, allowMissingColumns=True).select(
        "key", "name", "acctbal", "segment"
    )


@register(
    "q_set_symmetric_diff",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
               WHERE o_orderstatus = 'F'),
         b AS (SELECT DISTINCT o_custkey AS k FROM orders
               WHERE o_orderstatus = 'O')
    SELECT 'only_F' AS side, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
    UNION ALL
    SELECT 'only_O' AS side, k FROM (SELECT k FROM b EXCEPT SELECT k FROM a)
    """,
    priority="P2",
    tags=("setops",),
)
def q_set_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference with side attribution: customers who placed
    orders in exactly one of the two statuses, tagged with which — the
    two-way sync diff the reference's store reconciliation [R] reports
    (EXCEPT each way, union'd), completing the setops family's algebra
    beside intersect/except/union.

    Scale: both legs come off ONE checkpointed (status, key) distinct
    grain — a single orders scan and one distinct shuffle; each EXCEPT
    is a null-safe anti join on the deduplicated key frames, never the
    raw fact rows.
    """
    o = load(spark, sf_dir, "orders")
    d = (
        o.where(F.col("o_orderstatus").isin("F", "O"))
        .select(F.col("o_orderstatus").alias("st"), F.col("o_custkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)  # both EXCEPT legs
    )
    a = d.where(F.col("st") == "F").select("k")
    b = d.where(F.col("st") == "O").select("k")
    only_a = a.exceptAll(b).select(F.lit("only_F").alias("side"), "k")
    only_b = b.exceptAll(a).select(F.lit("only_O").alias("side"), "k")
    return only_a.unionByName(only_b)
