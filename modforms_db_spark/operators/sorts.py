"""Sorts / limits / top-k — SURVEY.md §2.6.

Reference capabilities [R]: "smallest incomplete level first" work queues;
largest-coefficient worst cases.

Scale note: orderBy+limit compiles to TakeOrderedAndProject — per-partition
top-k then a driver-side merge of k·partitions rows, never a full sort of
the table. The plan test asserts this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.registry import register


@register(
    "q_sort_multikey",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    priority="P0",
    tags=("sort", "limit"),
)
def q_sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort + LIMIT with a unique tiebreak key (deterministic
    result set despite order-insensitive hashing)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(
            F.asc("o_orderpriority"), F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        .limit(100)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


@register(
    "q_topk_global",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
    priority="P1",
    tags=("sort", "topk"),
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 by extendedprice (composite tiebreak)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(10)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


_TIES_K = 10


@register(
    "q_topk_with_ties",
    oracle=f"""
    WITH c AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ), thr AS (
      SELECT CAST(MIN(n_orders) AS BIGINT) AS thr FROM (
        SELECT n_orders FROM c
        ORDER BY n_orders DESC, o_custkey LIMIT {_TIES_K}
      )
    )
    SELECT c.o_custkey, c.n_orders, thr.thr
    FROM c CROSS JOIN thr
    WHERE c.n_orders >= thr.thr
    """,
    priority="P2",
    tags=("sort", "topk", "ties"),
)
def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES (the SQL-standard FETCH FIRST k ROWS WITH TIES
    semantics, ≡ RANK() ≤ k): the k most-ordered customers PLUS every
    customer tied with the k-th — the fair-leaderboard form of
    `q_topk_global`, which truncates tie groups arbitrarily.
    Implemented the scalable two-phase way: phase 1 takes the k-th
    value via a global top-k (TakeOrdered — per-partition heaps, no
    sort of the full grain) and broadcasts it as a scalar threshold;
    phase 2 is a plain filter `n >= threshold` over the count grain.
    No rank window ever touches the full data — the threshold join
    IS the WITH TIES operator at 100 TB.

    Exact integer counts; with heavy tie mass at the boundary the
    result is legitimately larger than k (law-pinned).

    Scale: one pass to the customer count grain, a k-row TakeOrdered,
    a 1-row broadcast, one filter.
    """
    c = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .localCheckpoint(eager=False)  # threshold frame + filter pass
    )
    thr = (
        c.orderBy(F.col("n_orders").desc(), "o_custkey")
        .limit(_TIES_K)
        .agg(F.min("n_orders").cast("bigint").alias("thr"))
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .where(F.col("n_orders") >= F.col("thr"))
        .select("o_custkey", "n_orders", "thr")
    )


_PAGE_SIZE = 50  # keyset page size; page 3 = global rows 101-150


@register(
    "q_keyset_pagination",
    oracle=f"""
    WITH numbered AS (
      SELECT o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS order_ts, cents
    FROM numbered
    WHERE rn > 2 * {_PAGE_SIZE} AND rn <= 3 * {_PAGE_SIZE}
    """,
    priority="P2",
    tags=("sort", "pagination", "keyset"),
)
def q_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination — page 3 of the order book
    under the total order (date, key), WITHOUT the OFFSET scan: the
    cursor is the last row of page 2 (obtained via a global
    top-100 TakeOrdered — per-partition heaps, no full sort),
    broadcast as a 1-row boundary, and the page is a pushed-down
    tuple-inequality filter plus a top-50. OFFSET pagination reads
    and discards every preceding row on every page — O(page·size)
    per request; the seek method is O(size) per page regardless of
    depth, which is why every cursor API uses it. The oracle IS the
    OFFSET form (ROW_NUMBER BETWEEN 101 AND 150) — the hash match
    proves seek ≡ offset under a total order.

    Exact integer cents; the tuple comparison (d > cd) OR
    (d = cd AND k > ck) is the standard composite-cursor predicate.

    Scale: cursor fetch is a k-row TakeOrdered; the page fetch
    filters THEN TakeOrders 50 — at 100 TB the cursor predicate
    prunes date-partitioned files before any row is read, the
    property OFFSET structurally cannot have.
    """
    o = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
        .localCheckpoint(eager=False)  # cursor + page legs, one scan
    )
    cursor = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(2 * _PAGE_SIZE)
        .agg(
            F.max_by(
                F.struct(
                    F.col("o_orderdate").alias("cd"),
                    F.col("o_orderkey").alias("ck"),
                ),
                F.struct("o_orderdate", "o_orderkey"),
            ).alias("cur")
        )
        .select(F.col("cur.cd").alias("cd"), F.col("cur.ck").alias("ck"))
    )
    page = (
        o.crossJoin(F.broadcast(cursor))
        .where(
            (F.col("o_orderdate") > F.col("cd"))
            | (
                (F.col("o_orderdate") == F.col("cd"))
                & (F.col("o_orderkey") > F.col("ck"))
            )
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_PAGE_SIZE)
    )
    return page.select(
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("order_ts"),
        "cents",
    )
