"""Date/time, math, and conditional bundles — SURVEY.md §2.8.

Reference capabilities [R]: version-date handling, dimension formulas /
normalizations, flag derivation (is_cm, is_complete).

Dialect notes (SURVEY.md §2.11, verified): avoid ``date_format`` (Java vs
strftime patterns); Spark ``dayofweek`` is 1-based Sunday=1 vs DuckDB
``dow`` 0-based Sunday=0 → align with ``dayofweek - 1``; day differences
computed on CAST-to-DATE values on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R4
from modforms_db_spark.parity import r4
from modforms_db_spark.registry import register


@register(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate)  AS yr,
           EXTRACT(month FROM o_orderdate) AS mo,
           EXTRACT(day FROM o_orderdate)   AS dom,
           date_trunc('month', o_orderdate)                 AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           EXTRACT(dow FROM o_orderdate)   AS dow,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
           CAST(o_orderdate AS DATE) + INTERVAL 90 DAY       AS due_ts
    FROM orders
    """,
    priority="P1",
    tags=("dates",),
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bundle — version-date handling [R]. All extracts return BIGINT
    on DuckDB, so Spark's INTs are cast up; dow aligned to 0-based Sunday."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        F.date_trunc("month", d).cast("timestamp_ntz").alias("month_start"),
        F.last_day(d.cast("date")).cast("timestamp_ntz").alias("month_end"),
        (F.dayofweek(d) - 1).cast("bigint").alias("dow"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since"),
        (d.cast("date") + F.expr("INTERVAL 90 DAYS"))
        .cast("timestamp_ntz")
        .alias("due_ts"),
    )


@register(
    "q_math_funcs",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 50000)            AS dev,
           {R4('sqrt(l_extendedprice)')}           AS root,
           {R4('pow(l_discount + 1, 3)')}          AS disc_cubed,
           {R4('ln(l_extendedprice + 1)')}         AS log_nat,
           {R4('log10(l_extendedprice + 1)')}      AS log_ten,
           {R4('exp(l_discount)')}                 AS e_disc,
           CAST(l_orderkey % 7 AS BIGINT)          AS key_mod,
           CAST(sign(l_extendedprice - 50000) AS DOUBLE) AS dev_sign,
           ceil(l_quantity)                        AS qty_ceil,
           floor(l_quantity)                       AS qty_floor,
           greatest(l_quantity, l_discount * 100)  AS g,
           least(l_quantity, l_discount * 100)     AS l
    FROM lineitem
    """,
    priority="P1",
    tags=("math",),
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math bundle — dimension formulas / normalizations [R]."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(price - 50000).alias("dev"),
        r4(F.sqrt(price)).alias("root"),
        r4(F.pow(F.col("l_discount") + 1, 3)).alias("disc_cubed"),
        r4(F.log(price + 1)).alias("log_nat"),
        r4(F.log10(price + 1)).alias("log_ten"),
        r4(F.exp("l_discount")).alias("e_disc"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod"),
        F.signum(price - 50000).alias("dev_sign"),
        F.ceil("l_quantity").cast("double").alias("qty_ceil"),
        F.floor("l_quantity").cast("double").alias("qty_floor"),
        F.greatest("l_quantity", F.col("l_discount") * 100).alias("g"),
        F.least("l_quantity", F.col("l_discount") * 100).alias("l"),
    )


@register(
    "q_cond_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 150000 THEN 'large'
                WHEN o_totalprice >= 50000  THEN 'medium'
                ELSE 'small' END AS size_class,
           CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_open,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'pending-hidden') AS status_masked,
           IF(o_orderpriority IN ('1-URGENT','2-HIGH'), 'rush', 'normal') AS speed
    FROM orders
    """,
    priority="P1",
    tags=("cond",),
)
def q_cond_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / if / coalesce / nullif — flag derivation (is_cm,
    is_complete) [R]."""
    o = load(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(tp >= 150000, "large")
        .when(tp >= 50000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("is_open"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("pending-hidden")
        ).alias("status_masked"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "rush"
        )
        .otherwise("normal")
        .alias("speed"),
    )


@register(
    "q_bit_funcs",
    oracle="""
    SELECT l_returnflag,
           bit_and(l_linenumber) AS ln_and,
           bit_or(l_linenumber)  AS ln_or,
           bit_xor(l_linenumber) AS ln_xor,
           CAST(SUM(bit_count(CAST(l_orderkey AS BIGINT))) AS BIGINT)
             AS popcount_sum
    FROM lineitem
    GROUP BY l_returnflag
    """,
    priority="P2",
    tags=("math", "bitwise"),
)
def q_bit_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate bundle (`bit_and`/`bit_or`/`bit_xor` + popcount
    sum) — flag-mask rollups (which computation stages completed per
    level, stored as bitmasks [R]). Same partial+final hash-agg shape;
    bitwise partials combine associatively like sums.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").alias("ln_and"),
        F.bit_or("l_linenumber").alias("ln_or"),
        F.bit_xor("l_linenumber").alias("ln_xor"),
        F.sum(F.bit_count(F.col("l_orderkey").cast("bigint")))
        .cast("bigint")
        .alias("popcount_sum"),
    )


@register(
    "q_date_parts_extended",
    oracle="""
    SELECT o_orderkey,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
             AS month_end,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP)
             AS plus_3m,
           CAST(last_day(o_orderdate) AS DATE)
             = CAST(o_orderdate AS DATE) AS is_month_end
    FROM orders
    WHERE o_orderkey % 37 = 0
    """,
    priority="P2",
    tags=("date", "functions"),
)
def q_date_parts_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended calendar-part bundle beside `q_date_funcs`: ISO week
    and ISO weekday, quarter, day-of-year, month-end (`last_day`), and
    saturating month arithmetic (`add_months` — Jan 31 + 1 month is
    Feb 28 in BOTH engines, the semantic the oracle pins since naive
    day-count arithmetic gets it wrong). The fiscal-calendar
    projection layer every reporting rollup sits on.

    Dialect notes: Spark `weekofyear` and DuckDB `weekofyear` are both
    ISO weeks; Spark's ISO weekday comes from
    `extract(dayofweek_iso)` ↔ DuckDB `isodow`; Spark `add_months` ↔
    DuckDB `+ INTERVAL n MONTH` (both saturate at month end).

    Scale: pure scan-side projection with a pushed modulo filter —
    zero shuffles; calendar parts cost nothing at any size.
    """
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 37 == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.quarter(d).cast("int").alias("qtr"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.dayofyear(d).cast("int").alias("doy"),
        F.expr("CAST(extract(dayofweek_iso FROM CAST(o_orderdate AS DATE)) AS INT)").alias(
            "iso_dow"
        ),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.add_months(d, 3).cast("timestamp").alias("plus_3m"),
        (F.last_day(d) == d).alias("is_month_end"),
    )


@register(
    "q_date_iso_calendar",
    oracle="""
    SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
           CAST(week(o_orderdate) AS BIGINT) AS iso_week,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN isodow(o_orderdate) - 1 >= 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend
    FROM orders
    GROUP BY 1, 2, 3
    """,
    priority="P2",
    tags=("function", "date", "surface"),
)
def q_date_iso_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 calendar surface row: ISO week-year + week number +
    Monday-anchored week truncation + weekday arithmetic, grouped to
    the ISO-week grain — the reporting calendar where the year
    boundary is the TRAP (1995-01-01 belongs to ISO 1994-W52; a naive
    year(date) rollup splits that week across two years, and this row
    pins that Spark's `yearofweek`/`weekofyear`/`weekday` agree with
    DuckDB's `isoyear`/`week`/`isodow − 1` on every boundary in the
    80-month span). Weekend counts use the ISO day index (Mon = 0).

    Scale: one map-side-combined aggregate to the ISO-week grain
    (bounded by calendar span); all calendar functions are
    codegen-stage scalar expressions on the scan.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy(
        F.expr("extract(yearofweek FROM o_orderdate)")
        .cast("bigint")
        .alias("iso_year"),
        F.weekofyear("o_orderdate").cast("bigint").alias("iso_week"),
        F.date_trunc("week", "o_orderdate").alias("week_start"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.weekday("o_orderdate") >= 5).cast("long"))
        .cast("bigint")
        .alias("n_weekend"),
    )


_BD_END = "2002-01-01"  # exclusive horizon for business-day aging


@register(
    "q_date_business_days",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(UNNEST(GENERATE_SERIES(DATE '1995-01-01',
                                         DATE '2001-12-31',
                                         INTERVAL 1 DAY)) AS DATE) AS d,
             CASE WHEN isodow(CAST(UNNEST(GENERATE_SERIES(DATE '1995-01-01',
                                          DATE '2001-12-31',
                                          INTERVAL 1 DAY)) AS DATE)) <= 5
                  THEN 1 ELSE 0 END AS is_bd
    ), bd AS (
      SELECT d,
             CAST(SUM(is_bd) OVER (ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bd
      FROM cal
    ), horizon AS (
      SELECT cum_bd AS h_bd FROM bd WHERE d = DATE '{_BD_END}' - 1
    ), aged AS (
      SELECT o.o_orderpriority,
             h.h_bd - b.cum_bd
               + CASE WHEN isodow(CAST(o.o_orderdate AS DATE)) <= 5
                      THEN 1 ELSE 0 END AS bdays
      FROM orders o
      JOIN bd b ON CAST(o.o_orderdate AS DATE) = b.d
      CROSS JOIN horizon h
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           {R4('AVG(bdays)')} AS avg_bdays4,
           CAST(MIN(bdays) AS BIGINT) AS min_bdays,
           CAST(MAX(bdays) AS BIGINT) AS max_bdays
    FROM aged GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("functions", "dates", "calendar"),
)
def q_date_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day aging via a CALENDAR DIMENSION — the warehouse
    pattern closed-form weekday arithmetic can't carry once holidays
    enter (the calendar table is where holiday/fiscal/trading-day
    rules live; weekday-ness here is the minimal instance): build the
    day spine with a cumulative business-day index, join each order
    date to it, and age = horizon_index - order_index (+1 if the
    order date itself is a business day, counting [order, horizon)
    inclusive of a weekday start). Aggregated per order priority.

    Both engines build the identical spine (generate_series vs
    sequence+explode), so the cumulative index is exact integer
    arithmetic end-to-end; dow convention pinned to ISO (isodow <= 5
    vs Spark weekday() <= 4 — the 1-Sunday trap dodged explicitly).

    Scale: the calendar dimension is ~2.6k rows for seven years —
    broadcast to the fact scan; the cumulative index is a window
    over that tiny frame. The fact side joins on a date key it
    already has; no per-row date loops, no UDFs."""
    cal = spark.sql(
        """
        SELECT d,
               CASE WHEN weekday(d) <= 4 THEN 1 ELSE 0 END AS is_bd
        FROM (
          SELECT explode(sequence(DATE '1995-01-01', DATE '2001-12-31',
                                  INTERVAL 1 DAY)) AS d
        )
        """
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    bd = cal.select(
        "d", F.sum("is_bd").over(w).cast("bigint").alias("cum_bd")
    ).localCheckpoint(eager=False)  # horizon lookup + fact join
    h_bd = (
        bd.where(F.col("d") == F.date_sub(F.lit(_BD_END).cast("date"), 1))
        .collect()[0]
        .cum_bd
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    aged = orders.join(
        F.broadcast(bd), orders.od == bd.d
    ).select(
        "o_orderpriority",
        (
            F.lit(h_bd).cast("bigint")
            - F.col("cum_bd")
            + F.when(F.weekday("od") <= 4, 1).otherwise(0)
        ).alias("bdays"),
    )
    return aged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.avg("bdays")).alias("avg_bdays4"),
        F.min("bdays").cast("bigint").alias("min_bdays"),
        F.max("bdays").cast("bigint").alias("max_bdays"),
    )
