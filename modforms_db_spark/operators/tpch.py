"""Classic multi-join analytics (TPC-H Q3/Q5/Q10 analogues, adapted to
the driver schema) — the reference's reporting surface [R] (per-space
work queues, completeness reports over joined dimensions) generalizes to
exactly these shapes: selective dimension filter → fact join chain →
grouped revenue → top-k.

These exist alongside the single-operator rows of SURVEY §2 to exercise
what none of them do alone: MULTI-join plans where Catalyst must order
joins, push each dimension predicate below its join, and broadcast every
small side. Plan obligations are asserted in tests/test_plans.py.

Scale: each query's fact side shuffles at most once per fact key; all
dimension sides (region/nation/customer-after-filter) broadcast. Revenue
sums are r2-rounded at emission only (parity rule, SURVEY §2 dialect
notes); top-k carries a unique-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.registry import register

_REVENUE = "l_extendedprice * (1 - l_discount)"


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q_tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           {R2(f'SUM({_REVENUE})')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    priority="P1",
    tags=("tpch", "join", "topk"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority (TPC-H Q3): top-10 highest-revenue orders taken
    before the cutoff but shipped after it, for one market segment.
    Segment filter shrinks customer to a broadcastable side; lineitem
    (the only big side) shuffles once on l_orderkey."""
    c = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp_ntz")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q5",
    oracle=f"""
    SELECT n.n_name, {R2(f'SUM({_REVENUE})')} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    priority="P1",
    tags=("tpch", "join"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5): revenue per nation where the
    customer and supplier share the nation, one region, two years. Six
    tables; region→nation→supplier collapse to a broadcast chain, and
    the c_nationkey = s_nationkey clause rides the customer join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    sn = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey)
            & (sn.s_nationkey == c.c_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


@register(
    "q_tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {R2(f'SUM({_REVENUE})')} AS revenue,
           {R2('c.c_acctbal')} AS c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    priority="P1",
    tags=("tpch", "join", "topk"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10): top-20 customers by revenue
    lost to returns in one quarter. The returnflag filter prunes the
    fact scan; nation broadcasts onto the customer dimension."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q18",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           {R2('o.o_totalprice')} AS o_totalprice,
           {R2('SUM(l.l_quantity)')} AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN big        ON o.o_orderkey = big.l_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    priority="P1",
    tags=("tpch", "join", "having", "topk"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18): orders whose total quantity
    exceeds a threshold, joined back to customer detail, top-20 by
    order value. The shape single-operator rows don't cover: a HAVING
    aggregate used as a semi-filter on the same fact it came from —
    the "work queue of spaces above a completeness threshold" report
    [R].

    Scale: the `big` filter aggregates lineitem keyed on l_orderkey and
    keeps only qualifying keys (tiny); joining it back broadcast-prunes
    the second lineitem pass, and both lineitem shuffles share the
    l_orderkey partitioning (AQE reuses the exchange)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .where(F.col("tq") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "q_tpch_q22",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {R2('AVG(c_acctbal)')} AS a FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           {R2('SUM(c.c_acctbal)')} AS total_bal
    FROM customer c CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c.c_nationkey
    """,
    priority="P1",
    tags=("tpch", "anti-join", "subquery"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (TPC-H Q22 shape): customers with an
    above-average balance and no orders SINCE 2000 (lapsed, not
    never-active — the unfiltered NOT EXISTS was empty below sf0.1
    since the generator gives ~every customer an order, making the
    round-2 driver hash-pass empty == empty; de-vacuated round 5),
    grouped by nation — the "well-funded but inactive" report
    composing a scalar aggregate threshold with an existence
    anti-join.

    Spark shape: the threshold is a broadcast 1-row aggregate (rounded
    to 2 dp on both engines so an ulp of summation-order noise cannot
    flip a boundary row), the NOT EXISTS is a left_anti join against
    the date-filtered projected order keys (the date predicate pushes
    to the orders scan); at 100 TB the anti join shuffles on custkey
    once and the threshold costs one linear pass."""
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate")
            >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
        )
        .select("o_custkey")
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("a")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "q_tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS l_year,
           {R2(f'SUM({_REVENUE})')} AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_20')
        OR (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_19'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
    priority="P1",
    tags=("tpch", "join"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping (TPC-H Q7): bilateral trade revenue between one
    nation PAIR, by supplier nation × customer nation × ship year.

    Scale shape: both nation dims are filtered to the two pair members
    BEFORE their joins (each side then broadcasts), so the disjunctive
    pair predicate only has to exclude the two same-nation combinations
    after the join — the fact side is never joined against unfiltered
    dimensions. lineitem shuffles once (on l_orderkey, for orders);
    supplier-nation and customer-nation ride broadcasts."""
    pair = ("NATION_19", "NATION_20")
    n = load(spark, sf_dir, "nation").where(F.col("n_name").isin(*pair))
    sn = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


# Ratio-of-sums parity rule (Q8/Q14): r2-round BOTH sums before the
# division on both engines, then r4-round the ratio — summation-order
# ulps can move a raw double sum but not its 2-dp rounding, so the
# share/percentage is bit-stable across engines and partitionings.
_Q8_NUM = R2("SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)")
_Q8_SHARE = R4(f"{_Q8_NUM} / {R2('SUM(volume)')}")
_Q14_NUM = R2(f"SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REVENUE} ELSE 0 END)")
_Q14_PCT = R4(f"{_Q14_NUM} * 100.0 / {R2(f'SUM({_REVENUE})')}")


@register(
    "q_tpch_q8",
    oracle=f"""
    WITH vol AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             {_REVENUE} AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      JOIN region r   ON n2.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           {_Q8_SHARE} AS mkt_share,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM vol GROUP BY o_year
    """,
    priority="P1",
    tags=("tpch", "join", "conditional-agg"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8): one supplier nation's share of
    promo-part revenue sold into one region's customers, by order year.

    The shape Q5/Q7 don't cover: a conditional-aggregate RATIO (share =
    tagged volume / total volume in one grouped pass — no second join or
    self-union). Both sums are r2-rounded before the division on both
    engines so summation-order ulps cannot move the 4-dp share.

    Scale: part is filtered to the promo type before its join (broadcast
    prune of the fact scan); region→nation→customer collapses to the
    customer join; supplier-nation broadcasts. One wide-fact shuffle on
    l_orderkey, one grouped agg keyed by year (tiny)."""
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    n2 = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n2.join(r, n2.n_regionkey == r.r_regionkey).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    tagged = F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.round(F.sum(tagged), 2) / F.round(F.sum("volume"), 2), 4
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q_tpch_q14",
    oracle=f"""
    SELECT EXTRACT(year FROM l.l_shipdate) AS l_year,
           {_Q14_PCT} AS promo_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY l_year
    """,
    priority="P1",
    tags=("tpch", "join", "conditional-agg"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (TPC-H Q14): percentage of revenue from
    promo-type parts, per ship year. Unlike Q8 the CASE tag comes from
    the JOINED dimension (part must join before the agg — no prefilter
    possible because the denominator needs every line). part broadcasts;
    the only shuffle is the final tiny year agg. Both sums r2-rounded
    before the ratio (same parity rationale as Q8)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(
            F.round(
                F.round(F.sum(promo), 2) * 100.0 / F.round(F.sum(_rev()), 2), 4
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_tpch_q17",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS thr
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {R2('SUM(l.l_extendedprice) / 7.0')} AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa     ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#16' AND p.p_type = 'MEDIUM'
      AND l.l_quantity < pa.thr
    """,
    priority="P1",
    tags=("tpch", "join", "correlated-agg"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17): lines whose quantity is
    below 20% of their part's average quantity, for one brand/type —
    the correlated-scalar-subquery shape, decorrelated into a per-key
    aggregate joined back to the fact.

    Threshold determinism: l_quantity is integer-valued, so SUM/AVG are
    exact (associative under fp) and 0.2·avg is the same double on both
    engines regardless of partitioning.

    Scale: the brand/type filter broadcasts part and SEMI-prunes the
    per-part aggregate (only qualifying parts' averages are computed —
    at 100 TB the unfiltered per-partkey agg would itself be a major
    shuffle); the threshold side is then tiny and broadcasts back onto
    the filtered fact scan."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#16") & (F.col("p_type") == "MEDIUM")
    ).select("p_partkey")
    # Per-part averages only for the ~|part|/B/T qualifying parts: the
    # oracle's unfiltered `pa` CTE is semantically identical because the
    # join to `p` discards every other key before use.
    pa = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_partkey")
        .agg((0.2 * F.avg("l_quantity")).alias("thr"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(pa), "l_partkey")
        .where(F.col("l_quantity") < F.col("thr"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_tpch_q19",
    oracle=f"""
    SELECT {R2(f'SUM({_REVENUE})')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    priority="P1",
    tags=("tpch", "join", "disjunctive-pushdown"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (TPC-H Q19): disjunction of brand/size/quantity
    AND-clusters spanning both join sides.

    Catalyst cannot split a mixed-side OR below the join, so the
    per-side IMPLIED filters are stated explicitly — part shrinks to the
    three brand/size clusters (broadcast), lineitem scans only the
    quantity envelope [1, 30] (pushed to parquet row-group stats) — and
    the exact OR runs as the post-join residual. Same plan a TPC-H-tuned
    engine produces; at 100 TB the quantity envelope alone skips ~40% of
    fact row groups."""
    p = load(spark, sf_dir, "part").where(
        (
            (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
        )
        | ((F.col("p_brand") == "Brand#16") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 15))
    ).select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").between(1, 30)
    )
    cl = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#16")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cl)
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_tpch_q21",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), per AS (
      SELECT l_orderkey, l_suppkey, bool_or(late) AS supp_late
      FROM l GROUP BY l_orderkey, l_suppkey
    ), ord AS (
      SELECT l_orderkey,
             count(*) AS n_supps,
             sum(CASE WHEN supp_late THEN 1 ELSE 0 END) AS n_late
      FROM per GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per JOIN ord USING (l_orderkey)
    JOIN supplier s ON per.l_suppkey = s.s_suppkey
    WHERE per.supp_late AND ord.n_supps > 1 AND ord.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    priority="P1",
    tags=("tpch", "join", "existence"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape, lateness ≡
    shipped >90 days after the order date — this schema has no
    commit/receipt dates): the supplier was LATE on a multi-supplier
    order where every OTHER supplier was on time.

    Q21's textbook form is EXISTS + NOT EXISTS self-joins on lineitem;
    here both existence tests collapse into per-order counts (n_supps,
    n_late) computed from ONE pass — the decorrelated aggregate form.
    Both aggs and the per⋈ord join share the l_orderkey partitioning, so
    the fact side shuffles once; supplier broadcasts; top-20 is a
    TakeOrdered, never a global sort."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).alias("late"),
        )
    )
    per = late.groupBy("l_orderkey", "l_suppkey").agg(
        F.bool_or("late").alias("supp_late")
    )
    ord_stats = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum(F.when(F.col("supp_late"), 1).otherwise(0)).alias("n_late"),
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per.join(ord_stats, "l_orderkey")
        .where(F.col("supp_late") & (F.col("n_supps") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), per.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    priority="P1",
    tags=("tpch", "semi-join"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape, lateness ≡ shipped >90
    days after the order date — this schema has no commit/receipt
    dates): orders in one quarter with AT LEAST ONE late line, counted
    by priority. The EXISTS is a left_semi join — dedup-by-construction
    (an order with five late lines counts once), which is why semi is
    the right plan and an inner join + distinct would be the wrong one.

    Scale: the quarter filter prunes orders first; the semi join
    shuffles both sides on orderkey once; the priority agg output is
    bounded at the priority domain."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q_tpch_q6",
    oracle=f"""
    SELECT {R2('SUM(l_extendedprice * l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    priority="P1",
    tags=("tpch", "scan-agg"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-revenue change (TPC-H Q6): the canonical
    scan-dominated query — three conjunctive range predicates, no join,
    one global agg. Exists to pin the pure-pushdown plan: every
    predicate must reach the parquet scan (row-group pruning on
    shipdate under the sorted layouts), and the agg is a two-level
    partial+final over a 2-column projection."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q_tpch_q13",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    priority="P1",
    tags=("tpch", "outer-join", "distribution"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13): how many
    customers placed 0, 1, 2, … orders. The LEFT join is load-bearing —
    zero-order customers must survive to land in the c_count = 0
    bucket, which an inner join silently drops (COUNT(o_orderkey)
    counts non-null keys only).

    Scale: one orderkey-side shuffle for the join + same-key count,
    then a tiny redistribution agg bounded by the max order count.
    Q13 is also the classic SKEW query (every customer with the mode
    count lands in one group) — the second agg's key domain is small
    enough that AQE coalescing handles it."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q_tpch_q15",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             {R2(f'SUM({_REVENUE})')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue0 r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
    priority="P1",
    tags=("tpch", "view", "scalar-subquery"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15): the revenue "view" (per-supplier
    quarterly revenue) consumed twice — once for the global MAX, once
    to select the supplier(s) achieving it. The revenue agg is
    checkpointed so both consumers read ONE materialization instead of
    re-aggregating lineitem twice; the max rides back as a 1-row
    broadcast. Ties all surface (equality, not top-1-with-tiebreak) —
    same semantics as the spec's view form.

    Revenue is r2-rounded INSIDE the view on both engines, so the
    max-equality comparison is over engine-identical doubles."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    revenue0 = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_rev()), 2).alias("total_revenue"))
    ).localCheckpoint(eager=False)  # read by both the max and the join
    mx = revenue0.agg(F.max("total_revenue").alias("mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue0.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --- synthesized partsupp -------------------------------------------------
#
# The driver schema ships no partsupp table, which blocked TPC-H
# Q2/Q9/Q11/Q16/Q20 (SURVEY §2.13 note). Rather than skip the five
# canonical shapes, partsupp is SYNTHESIZED deterministically from pure
# key arithmetic — the same q_table_diff discipline: the identical
# derivation runs as a CTE on DuckDB and as a DataFrame expression on
# Spark, so parity checks the QUERY, not a data file. Each part gets 4
# suppliers by hash (the dbgen cardinality); availqty and supplycost come
# from modular key arithmetic. supplycost is carried as EXACT INTEGER
# CENTS end-to-end so stock-value sums never touch float summation order;
# /100.0 happens only at emission (both engines compute the identical
# IEEE division).

_PARTSUPP_CTE = """
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM supplier),
    partsupp AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey * 7 + i.i) % ns.n AS ps_suppkey,
             (p_partkey * 31 + i.i * 17) % 9999 + 1 AS ps_availqty,
             (p_partkey * 13 + i.i * 29) % 99900 + 100 AS ps_supplycost_cents
      FROM part CROSS JOIN ns
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i
    )
"""


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp synthesis (see module comment above): one
    row per (part, i<4) with ps_suppkey/availqty/supplycost_cents from
    modular key arithmetic. The supplier COUNT arrives as a 1-row
    broadcast (the q_tpch_q15 scalar discipline) so suppkeys stay in
    domain at every SF without a driver-side collect.

    Scale: |partsupp| = 4·|part| — a dimension, not a fact. It is built
    by a part-scan × 1-row broadcast (no shuffle) and is broadcast-able
    into fact joins at any SF where part itself is; at 100 TB you'd
    materialize it bucketed by (ps_partkey, ps_suppkey) once."""
    p = load(spark, sf_dir, "part").select("p_partkey")
    ns = load(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("n"))
    return (
        p.crossJoin(F.broadcast(ns))
        .select(
            "p_partkey",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            # offset is i itself (0..3), NOT a multiple: consecutive
            # offsets are distinct mod n for ANY supplier count n ≥ 4,
            # so the (part, supplier) pairs are unique unconditionally —
            # a stride k would collapse them whenever gcd(k·Δi, n) trips
            # (round-5 review: 13 suppliers would have collapsed all 4
            # rows onto one suppkey, quadrupling Q9's lineitem matches).
            ((F.col("p_partkey") * 7 + F.col("i")) % F.col("n")).alias(
                "ps_suppkey"
            ),
            ((F.col("p_partkey") * 31 + F.col("i") * 17) % 9999 + 1).alias(
                "ps_availqty"
            ),
            ((F.col("p_partkey") * 13 + F.col("i") * 29) % 99900 + 100).alias(
                "ps_supplycost_cents"
            ),
        )
    )


@register(
    "q_tpch_q2",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    eu_supp AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p.p_partkey, p.p_brand, es.s_name, es.s_acctbal, es.n_name,
             ps.ps_supplycost_cents
      FROM part p
      JOIN partsupp ps ON p.p_partkey = ps.ps_partkey
      JOIN eu_supp es ON ps.ps_suppkey = es.s_suppkey
      WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
    ),
    mn AS (
      SELECT p_partkey, MIN(ps_supplycost_cents) AS mc
      FROM cand GROUP BY p_partkey
    )
    SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey, c.p_brand,
           c.ps_supplycost_cents / 100.0 AS ps_supplycost
    FROM cand c
    JOIN mn ON c.p_partkey = mn.p_partkey AND c.ps_supplycost_cents = mn.mc
    ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, c.p_partkey
    LIMIT 100
    """,
    priority="P1",
    tags=("tpch", "join", "correlated-min", "partsupp"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (TPC-H Q2): for every size-15 STANDARD part,
    the EUROPE supplier(s) offering it at the region-wide minimum
    supplycost — the correlated-MIN-subquery shape, decorrelated into a
    per-part MIN joined back on (part, cost) equality. Costs compare as
    exact integer cents, so the min-equality join cannot fp-miss.

    Scale: part (size/type-filtered) and the region supplier dim both
    broadcast; the per-part MIN aggregates the already-filtered candidate
    set (never all of partsupp); final top-100 is orderBy().limit() —
    TakeOrdered, no global sort. Ordering is total (acctbal DESC, nation,
    supplier, part — (part, supplier) pairs are unique), so LIMIT is
    deterministic cross-engine."""
    ps = synth_partsupp(spark, sf_dir)
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    cand = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(eu), ps.ps_suppkey == eu.s_suppkey)
        .select(
            "p_partkey", "p_brand", "s_name", "s_acctbal", "n_name",
            "ps_supplycost_cents",
        )
    )
    mn = cand.groupBy("p_partkey").agg(
        F.min("ps_supplycost_cents").alias("mc")
    ).withColumnRenamed("p_partkey", "mk")
    return (
        cand.join(
            F.broadcast(mn),
            (cand.p_partkey == F.col("mk"))
            & (cand.ps_supplycost_cents == F.col("mc")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            (F.col("ps_supplycost_cents") / 100.0).alias("ps_supplycost"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@register(
    "q_tpch_q9",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    pr AS (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST({R('l_extendedprice * (1 - l_discount) * 100', 0)}
                  AS BIGINT) AS rev_cents,
             CAST(ps_supplycost_cents * l_quantity AS BIGINT) AS cost_cents
      FROM lineitem
      JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      WHERE p_name LIKE '%rod%'
    )
    SELECT nation, o_year,
           CAST(SUM(rev_cents) AS BIGINT) / 100.0 AS revenue,
           CAST(SUM(cost_cents) AS BIGINT) / 100.0 AS supply_cost,
           (CAST(SUM(rev_cents) AS BIGINT) - CAST(SUM(cost_cents) AS BIGINT))
             / 100.0 AS profit
    FROM pr
    GROUP BY nation, o_year
    """,
    priority="P1",
    tags=("tpch", "join", "multi-join", "partsupp"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9): revenue minus supply cost for
    '%rod%' parts, by supplier nation and order year — the widest join
    in the suite (fact ⋈ partsupp ⋈ part ⋈ supplier ⋈ nation ⋈ orders).

    Determinism: BOTH sums are exact integer cents. Supply cost is
    Σ(cents × integer-valued quantity); revenue is quantized to cents
    PER ROW (each row's double is engine-identical, so the per-row
    Spark-round matches; integer sums are then summation-order-free —
    the r2-round-the-float-sum house rule measurably flips a cent on
    ~1% of groups here because the 6-join row order differs far more
    across engines than a single fact scan's). profit is a pure integer
    difference; /100.0 only at emission.

    Scale: part (name-filtered), partsupp (4·|part|), supplier and
    nation all broadcast — the fact never shuffles for them; the only
    fact shuffle is the join to orders on l_orderkey, then the final
    (nation, year) agg is partial-aggregated map-side. Catalyst orders
    the broadcast joins below the shuffle join unaided."""
    ps = synth_partsupp(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(
        F.col("p_name").like("%rod%")
    ).select("p_partkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    pr = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(ps),
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            F.round(_rev() * 100, 0).cast("bigint").alias("rev_cents"),
            (F.col("ps_supplycost_cents") * F.col("l_quantity"))
            .cast("bigint")
            .alias("cost_cents"),
        )
    )
    rev_sum = F.sum("rev_cents").cast("bigint")
    cost_sum = F.sum("cost_cents").cast("bigint")
    return pr.groupBy("nation", "o_year").agg(
        (rev_sum / 100.0).alias("revenue"),
        (cost_sum / 100.0).alias("supply_cost"),
        ((rev_sum - cost_sum) / 100.0).alias("profit"),
    )


@register(
    "q_tpch_q11",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    asia_supp AS (
      SELECT s_suppkey
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ),
    stock AS (
      SELECT ps_partkey,
             CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT)
               AS value_cents
      FROM partsupp JOIN asia_supp ON ps_suppkey = s_suppkey
      GROUP BY ps_partkey
    ),
    tot AS (
      SELECT CAST(SUM(value_cents) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS np
      FROM stock
    )
    SELECT ps_partkey, value_cents / 100.0 AS value
    FROM stock CROSS JOIN tot
    WHERE value_cents * np * 5 > t * 6
    """,
    priority="P1",
    tags=("tpch", "agg", "having-share", "partsupp"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11): per-part stock value
    (supplycost × availqty) over ASIA suppliers, keeping parts stocked
    ≥ 20% above the mean part value — the HAVING-over-global-share
    shape. TPC-H's fixed 0.0001 fraction is SF-dependent; the
    1.2×-mean threshold discriminates identically at every SF.

    Determinism: value is exact integer cents (cents × integer qty);
    the share test runs as cross-multiplied integers
    (value·np·5 > total·6 — no division, no floats; magnitudes stay
    < 2^60 through sf10). /100.0 only at emission.

    Scale: region-filtered supplier dim broadcasts into the partsupp
    build; the per-part agg partial-aggregates; the global (total,
    count) is a 1-row broadcast back over the per-part frame — the
    q_tpch_q15 scalar discipline, no second scan of partsupp."""
    ps = synth_partsupp(spark, sf_dir)
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    stock = (
        ps.join(F.broadcast(asia), ps.ps_suppkey == asia.s_suppkey)
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_supplycost_cents") * F.col("ps_availqty"))
            .cast("bigint")
            .alias("value_cents")
        )
    )
    tot = stock.agg(
        F.sum("value_cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).alias("np"),
    )
    return (
        stock.crossJoin(F.broadcast(tot))
        .where(F.col("value_cents") * F.col("np") * 5 > F.col("t") * 6)
        .select("ps_partkey", (F.col("value_cents") / 100.0).alias("value"))
    )


@register(
    "q_tpch_q16",
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24)
      AND ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
      )
    GROUP BY p_brand, p_type, p_size
    """,
    priority="P1",
    tags=("tpch", "agg", "grouped-not-in", "partsupp"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship (TPC-H Q16): distinct-supplier counts
    per (brand, type, size) for a size list, excluding one brand, one
    type, and every "complaint" supplier — the grouped-NOT-IN shape.
    The schema has no supplier comments, so complaint ≡ s_acctbal <
    1000 (non-empty and non-total at every shipped SF: 1/10 suppliers
    at sf0.001, 10/100, 135/1000).

    Scale: the NOT IN runs as a LEFT ANTI join against the tiny
    excluded-supplier dim (broadcast — NULL-safe trivially since keys
    are non-null); part (brand/type/size-filtered) broadcasts;
    COUNT(DISTINCT) expands to the standard two-phase partial-distinct
    agg on (brand, type, size, suppkey)."""
    ps = synth_partsupp(spark, sf_dir)
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 1000
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(bad),
            ps.ps_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q20",
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    shipped AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    ),
    cand AS (
      SELECT DISTINCT ps_suppkey
      FROM partsupp
      JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%') bp
        ON ps_partkey = p_partkey
      JOIN shipped sh
        ON sh.l_partkey = ps_partkey AND sh.l_suppkey = ps_suppkey
      WHERE ps_availqty > 0.5 * sh.qty
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA'
      AND s_suppkey IN (SELECT ps_suppkey FROM cand)
    """,
    priority="P1",
    tags=("tpch", "join", "semi-anti-chain", "partsupp"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential part promotion (TPC-H Q20): AFRICA suppliers holding
    excess stock — availqty above half of what they shipped of some
    'blue%' part during 1998 — the nested semi-join chain (supplier IN
    (… partsupp WHERE availqty > correlated lineitem SUM)).

    Determinism: l_quantity is integer-valued so the 1998 per-(part,
    supplier) SUM is exact under any partitioning, and the 0.5·qty
    threshold is an exact IEEE halving — the > test cannot flip
    cross-engine.

    Scale: the date window is pushed to the fact scan (row-group
    pruning); the per-pair SUM partial-aggregates before its one
    shuffle; the name-filtered part dim broadcasts into partsupp; the
    qualifying-supplier set is DISTINCT-ed (small) and broadcast into
    the final LEFT SEMI against the region-filtered supplier dim —
    every join in the chain is a broadcast."""
    ps = synth_partsupp(spark, sf_dir)
    ts = lambda x: F.lit(x).cast("timestamp_ntz")  # noqa: E731
    shipped = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= ts("1998-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1999-01-01 00:00:00"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    bp = load(spark, sf_dir, "part").where(
        F.col("p_name").like("blue%")
    ).select("p_partkey")
    cand = (
        ps.join(F.broadcast(bp), ps.ps_partkey == bp.p_partkey)
        .join(
            shipped,
            (shipped.l_partkey == ps.ps_partkey)
            & (shipped.l_suppkey == ps.ps_suppkey),
        )
        .where(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    return (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(
            F.broadcast(cand),
            F.col("s_suppkey") == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


# --- synthesized shipping columns -----------------------------------------
#
# The driver schema ships no l_shipmode / l_commitdate / l_receiptdate,
# which blocked TPC-H Q12 (the one classic still missing after the
# partsupp synthesis above unblocked Q2/Q9/Q11/Q16/Q20). Same precedent,
# same device: the three columns are SYNTHESIZED deterministically from
# pure key arithmetic — one Knuth hash of (orderkey, linenumber) drives
# the mode pick and both lag offsets, so both engines derive identical
# shipping data from the same parquet keys and Q12's canonical
# late-delivery semantics (commit < receipt, shipped before commit,
# receipt-year window) stay fully exercised.

_Q12_MODES = ("MAIL", "SHIP", "RAIL", "TRUCK", "AIR", "REG AIR", "FOB")
_Q12_MODES_SQL = ", ".join(f"'{m}'" for m in _Q12_MODES)


@register(
    "q_tpch_q12",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, CAST(l_shipdate AS DATE) AS sd,
             ((l_orderkey * 31 + l_linenumber) * 2654435761) % 4294967296
               AS h
      FROM lineitem
    ), x AS (
      SELECT l_orderkey,
             [{_Q12_MODES_SQL}][CAST(h % 7 AS INTEGER) + 1] AS l_shipmode,
             sd + CAST(1 + (h // 7) % 60 AS INTEGER) AS l_commitdate,
             sd + CAST(1 + (h // 420) % 90 AS INTEGER) AS l_receiptdate,
             sd
      FROM li
    )
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM x JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipmode IN ('MAIL', 'SHIP')
      AND l_commitdate < l_receiptdate
      AND sd < l_commitdate
      AND l_receiptdate >= DATE '1997-01-01'
      AND l_receiptdate < DATE '1998-01-01'
    GROUP BY l_shipmode
    """,
    priority="P2",
    tags=("tpch", "join", "synthesized-shipmode"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority) over SYNTHESIZED
    shipping columns (module comment above — the partsupp precedent):
    for MAIL/SHIP lineitems received in 1997 that were shipped before
    their commit date and committed before receipt (the late-delivery
    chain), count high- vs low-priority orders per mode. Completes the
    buildable classic set: all 22 TPC-H shapes now carried (Q1 as
    `q_agg_flagship`).

    Scale: the synthesis is three scan-side integer expressions — no
    extra table, no shuffle; then the canonical Q12 plan: pushed
    disjunctive mode filter, date-range filter, one equi-join to
    orders (AQE picks broadcast vs SMJ by orders' size), map-side
    combined conditional counts to a 2-row result.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_shipdate").cast("date").alias("sd")
    )
    h = (
        (F.col("l_orderkey") * 31 + F.col("l_linenumber"))
        * F.lit(2654435761)
    ) % F.lit(4294967296)
    modes = F.array(*[F.lit(m) for m in _Q12_MODES])
    x = li.select(
        "l_orderkey",
        "sd",
        F.element_at(modes, (h % 7).cast("int") + 1).alias("l_shipmode"),
        F.expr(
            "date_add(sd, CAST(1 + ((((l_orderkey * 31 + l_linenumber)"
            " * 2654435761) % 4294967296) DIV 7) % 60 AS INT))"
        ).alias("l_commitdate"),
        F.expr(
            "date_add(sd, CAST(1 + ((((l_orderkey * 31 + l_linenumber)"
            " * 2654435761) % 4294967296) DIV 420) % 90 AS INT))"
        ).alias("l_receiptdate"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    f = x.where(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("sd") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_receiptdate") < F.lit("1998-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        f.join(o, f.l_orderkey == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )
