"""Projections / filters / predicates — SURVEY.md §2.2.

Reference capability [R]: derived metadata fields (dimension arithmetic),
compound Mongo filters over (N,k,chi) ranges, label-pattern lookups, and
missing-field handling in schemaless documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.parity import r2, r4
from modforms_db_spark.registry import register


@register(
    "q_project_expr",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {R2('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty_dec,
           CAST(l_linenumber AS BIGINT) AS ln_big
    FROM lineitem
    """,
    priority="P0",
    tags=("project",),
)
def q_project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic projection with casts and aliasing."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.col("l_quantity").cast("decimal(12,2)").cast("double").alias("qty_dec"),
        F.col("l_linenumber").cast("bigint").alias("ln_big"),
    )


@register(
    "q_filter_conjunct",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE (o_orderstatus = 'O' OR o_orderstatus = 'F')
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
      AND NOT (o_totalprice < 10000)
    """,
    priority="P0",
    tags=("filter",),
)
def q_filter_conjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT/BETWEEN/IN compound predicate on orders."""
    o = load(spark, sf_dir, "orders")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-12-31 00:00:00").cast("timestamp_ntz")
    return o.where(
        ((F.col("o_orderstatus") == "O") | (F.col("o_orderstatus") == "F"))
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_orderdate").between(lo, hi)
        & ~(F.col("o_totalprice") < 10000)
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


@register(
    "q_filter_like_regexp",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name LIKE '%gear%'
       OR (p_name LIKE 'b%' AND regexp_matches(p_name, '^[a-h].* (bolt|widget)$'))
    """,
    priority="P1",
    tags=("filter", "regex"),
)
def q_filter_like_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / rlike in the Java∩RE2 common regex subset (SURVEY.md §2.11)."""
    p = load(spark, sf_dir, "part")
    return p.where(
        F.col("p_name").like("%gear%")
        | (F.col("p_name").like("b%") & F.col("p_name").rlike("^[a-h].* (bolt|widget)$"))
    ).select("p_partkey", "p_name", "p_brand")


@register(
    "q_filter_null",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(redacted)') AS seg,
           (NULLIF(c_mktsegment, 'BUILDING') IS NULL) AS is_building,
           (NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL) AS null_safe_eq
    FROM customer
    WHERE NULLIF(c_mktsegment, 'AUTOMOBILE') IS NOT NULL
    """,
    priority="P1",
    tags=("filter", "null"),
)
def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics: nullif-injected nulls, isNull, null-safe <=>, coalesce."""
    c = load(spark, sf_dir, "customer")
    seg_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.where(
        F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE")).isNotNull()
    ).select(
        "c_custkey",
        F.coalesce(seg_null, F.lit("(redacted)")).alias("seg"),
        seg_null.isNull().alias("is_building"),
        seg_null.eqNullSafe(F.lit(None).cast("string")).alias("null_safe_eq"),
    )


@register(
    "q_distinct",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
    priority="P0",
    tags=("distinct",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT — distinct levels/weights present in the DB [R]."""
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "q_subquery_correlated",
    oracle="""
    SELECT c_custkey, c_name,
           (SELECT MAX(o_totalprice) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
    priority="P2",
    tags=("filter", "subquery", "sql"),
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subqueries through the SQL front door: a correlated
    scalar subquery (max order price per customer) + a correlated EXISTS
    filter — the query shapes a SQL user brings verbatim. Catalyst
    de-correlates both into joins (the scalar subquery becomes an
    aggregate + left outer join, EXISTS a left-semi join), so the
    executed plan is the same shuffled-join shape as the explicit-join
    queries — no per-row re-execution, which is what makes the construct
    survive 100 TB.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("mfdb_sq_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("mfdb_sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT MAX(o_totalprice) FROM mfdb_sq_orders o
                WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM mfdb_sq_customer c
        WHERE EXISTS (SELECT 1 FROM mfdb_sq_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
        """
    )


_RECURSIVE_CHAIN_SQL = """
WITH RECURSIVE edges AS (
  SELECT n_nationkey AS child, n_regionkey AS rk, n_name AS name,
         lag(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS parent
  FROM {nation}
), chain AS (
  SELECT child, rk, name AS path, 1 AS depth FROM edges WHERE parent IS NULL
  UNION ALL
  SELECT e.child, e.rk, c.path || '>' || e.name, c.depth + 1
  FROM edges e JOIN chain c ON e.parent = c.child
)
SELECT child AS n_nationkey, rk AS r_key, path, depth FROM chain
"""


@register(
    "q_sql_recursive_chain",
    oracle=_RECURSIVE_CHAIN_SQL.format(nation="nation"),
    priority="P2",
    tags=("sql", "recursive"),
)
def q_sql_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `WITH RECURSIVE` (Spark 4's UnionLoopExec): walk the
    per-region nation chain (parent = previous nationkey in the region,
    derived with a window) accumulating the root→node path and depth.
    The SQL text is IDENTICAL on both engines — the recursion itself is
    hash-matched, not an emulation of it.

    Scale: recursive CTEs iterate one distributed join per LEVEL, so
    they're for hierarchy walks (org charts, category trees, BOM graphs
    — depth O(10)), not per-row recurrences; depth-per-row workloads
    like sequence packing belong in applyInPandas (q_pack_sequences),
    and Spark enforces that boundary with its recursion-level limit.
    """
    load(spark, sf_dir, "nation").createOrReplaceTempView("mfdb_rc_nation")
    return spark.sql(_RECURSIVE_CHAIN_SQL.format(nation="mfdb_rc_nation"))


_LATERAL_SQL = """
SELECT r.r_name, t.n_nationkey, t.n_name
FROM {region} r, LATERAL (
  SELECT n_nationkey, n_name FROM {nation} n
  WHERE n.n_regionkey = r.r_regionkey
  ORDER BY n_name DESC, n_nationkey LIMIT 2
) t
"""


@register(
    "q_join_lateral",
    oracle=_LATERAL_SQL.format(region="region", nation="nation"),
    priority="P2",
    tags=("join", "lateral", "sql"),
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (per-region top-2 nations by name)
    through the SQL front door — IDENTICAL SQL text runs on both engines.
    Catalyst de-correlates the LIMIT'd lateral into a window top-k under
    the hood (same physical shape as `q_win_topk_pergroup`), so the
    construct scales like any windowed top-k: one shuffle on the
    correlation key, per-key group limit, no per-row re-execution.
    """
    load(spark, sf_dir, "region").createOrReplaceTempView("mfdb_lat_region")
    load(spark, sf_dir, "nation").createOrReplaceTempView("mfdb_lat_nation")
    return spark.sql(
        _LATERAL_SQL.format(region="mfdb_lat_region", nation="mfdb_lat_nation")
    )


@register(
    "q_sql_parameterized",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(MAX(o_orderdate) AS TIMESTAMP) AS latest
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("filter", "sql", "parameterized"),
)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (`spark.sql(query, args={...})`): named `:params`
    bound server-side — the injection-safe form of templated queries (vs
    f-string splicing). The bound literals constant-fold, so pushdown and
    partition pruning see them exactly as if hard-coded.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("mfdb_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               MAX(o_orderdate) AS latest
        FROM mfdb_param_orders
        WHERE o_orderstatus = :status
          AND o_orderdate >= CAST(:since AS TIMESTAMP_NTZ)
        GROUP BY o_orderpriority
        """,
        args={"status": "O", "since": "1997-01-01 00:00:00"},
    )


@register(
    "q_subquery_any_all",
    oracle="""
    WITH lo AS (
      SELECT COUNT(*) AS n_low, MAX(o_totalprice) AS max_low
      FROM orders WHERE o_orderpriority = '5-LOW'
        AND o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    ), ur AS (
      SELECT COUNT(*) AS n_urg, MIN(o_totalprice) AS min_urg
      FROM orders WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    )
    SELECT o.o_orderkey, o.o_totalprice,
           (lo.n_low = 0 OR o.o_totalprice > lo.max_low) AS gt_all_low,
           (ur.n_urg > 0 AND o.o_totalprice < ur.min_urg) AS lt_any_urgent
    FROM orders o CROSS JOIN lo CROSS JOIN ur
    WHERE o.o_orderpriority = '2-HIGH'
      AND ((lo.n_low = 0 OR o.o_totalprice > lo.max_low)
           OR (ur.n_urg > 0 AND o.o_totalprice < ur.min_urg))
    """,
    priority="P2",
    tags=("subquery", "quantified", "any-all"),
)
def q_subquery_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparisons — `> ALL (sub)` and `< ANY (sub)` — for an
    engine without native ALL/ANY subqueries: the subquery collapses to
    its extremum + count, broadcast as one row, with the empty-set laws
    made explicit (ALL over ∅ ≡ TRUE via `n=0 OR …`; ANY over ∅ ≡ FALSE
    via `n>0 AND …`). NULL-free columns here keep the three-valued-logic
    caveat out of scope (documented: with NULLs in the subquery, ALL
    needs the max over non-NULLs plus a null-count guard).

    Scale: the rewrite IS the scale plan — a naive quantified subquery
    is a per-row recheck; the extremum form is one 1-row broadcast
    cross join, zero shuffles on the probe side beyond the scan."""
    o = load(spark, sf_dir, "orders")
    # The quantified subqueries range over ONE MONTH of orders: the
    # round-5 vacuity audit showed that quantifying over the global
    # classes degenerates as SF grows (max over ALL 5-LOW prices
    # converges to the distribution max, so `> ALL` matched nothing at
    # sf0.01/sf0.1 and the round-3 driver hash-pass was empty == empty);
    # a fixed-window subquery keeps both branches live at every SF
    # (98/26, 203/259, 227/29 rows measured).
    in_mar97 = (
        F.col("o_orderdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp_ntz")
    ) & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    # BOTH subquery extrema in one conditional-aggregation pass (a scan
    # per quantified subquery would re-read orders once each).
    low = F.when(
        (F.col("o_orderpriority") == "5-LOW") & in_mar97, F.col("o_totalprice")
    )
    urg = F.when(
        (F.col("o_orderpriority") == "1-URGENT") & in_mar97, F.col("o_totalprice")
    )
    # counts are ROW counts per class (count over a when(cond, 1)), not
    # non-NULL price counts — with NULL prices in a class the two differ
    # and the empty-set laws would fire wrongly
    ext = o.agg(
        F.count(
            F.when((F.col("o_orderpriority") == "5-LOW") & in_mar97, F.lit(1))
        ).alias("n_low"),
        F.max(low).alias("max_low"),
        F.count(
            F.when((F.col("o_orderpriority") == "1-URGENT") & in_mar97, F.lit(1))
        ).alias("n_urg"),
        F.min(urg).alias("min_urg"),
    )
    gt_all = (F.col("n_low") == 0) | (F.col("o_totalprice") > F.col("max_low"))
    lt_any = (F.col("n_urg") > 0) & (F.col("o_totalprice") < F.col("min_urg"))
    return (
        o.where(F.col("o_orderpriority") == "2-HIGH")
        .crossJoin(F.broadcast(ext))
        .where(gt_all | lt_any)
        .select(
            "o_orderkey",
            "o_totalprice",
            gt_all.alias("gt_all_low"),
            lt_any.alias("lt_any_urgent"),
        )
    )


@register(
    "q_sql_dynamic",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS max_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    priority="P3",
    tags=("sql", "dynamic", "execute-immediate"),
)
def q_sql_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL surface (Spark 4): EXECUTE IMMEDIATE runs a
    query held in a string with a named parameter marker, and
    IDENTIFIER() binds the table and group-by column from strings
    WITHOUT string interpolation — the safe-dynamic-SQL pair that
    replaces f-string query assembly (and its injection/typo class)
    in metadata-driven pipelines where table and column names arrive
    as data.

    Scale: resolution happens at plan time; the executed plan is
    byte-identical to the static form (same pushdown, same agg), so
    there is no runtime cost to the indirection."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("mfdb_dyn_orders")
    tbl, grp = "mfdb_dyn_orders", "o_orderpriority"
    spark.sql("DECLARE OR REPLACE VARIABLE mfdb_status STRING")
    spark.sql("SET VARIABLE mfdb_status = 'F'")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT IDENTIFIER(:g) AS o_orderpriority, COUNT(*) AS n,
                  MAX(o_totalprice) AS max_price
           FROM IDENTIFIER(:t)
           WHERE o_orderstatus = :s
           GROUP BY IDENTIFIER(:g)'
          USING :tbl AS t, :grp AS g, mfdb_status AS s
        """,
        args={"tbl": tbl, "grp": grp},
    )


@register(
    "q_sql_pipe",
    oracle=f"""
    SELECT o_orderpriority AS pri,
           CAST(COUNT(*) AS BIGINT) AS n,
           {R4("SUM(o_totalprice)")} AS revenue
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("sql", "pipe-syntax", "api"),
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 `|>` operators, the SQL:2023-era
    linear composition form): the same filter → aggregate plan as
    classic SQL, written as a pipeline — `FROM orders |> WHERE ... |>
    AGGREGATE ... GROUP BY ...`. The API row proves the surface parses
    and, critically, that Catalyst compiles it to the IDENTICAL plan
    (same pushdown, same partial aggregation) as the classic form the
    oracle runs — pipe syntax is sugar, not a different engine path.

    Scale: one pruned scan with the status predicate pushed down, one
    map-side-combined aggregation to the priority grain — identical to
    `q_agg_flagship`'s discipline; nothing about `|>` changes the
    physical plan."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("mfdb_pipe_orders")
    return spark.sql(
        """
        FROM mfdb_pipe_orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS revenue
           GROUP BY o_orderpriority AS pri
        |> SELECT pri, CAST(n AS BIGINT) AS n, revenue
        """
    )


@register(
    "q_sql_group_by_all",
    oracle=f"""
    SELECT c_mktsegment,
           EXTRACT(year FROM o_orderdate) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n,
           {R2('SUM(o_totalprice)')} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY ALL
    """,
    priority="P2",
    tags=("sql", "surface", "spark4"),
)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` (Spark 4.0, same spelling DuckDB pioneered):
    every non-aggregate select item becomes a grouping key implicitly —
    the resolution happens in the analyzer, so the physical plan is
    the identical partial+final hash aggregate as the explicit form
    (which is what the hash match against DuckDB's own GROUP BY ALL
    pins). The ergonomic surface row beside `q_sql_pipe`.

    Scale: one broadcast-dim join + map-side-combined aggregate —
    syntax sugar, zero plan difference.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("mfdb_gba_o")
    load(spark, sf_dir, "customer").createOrReplaceTempView("mfdb_gba_c")
    return spark.sql(
        """
        SELECT c_mktsegment,
               EXTRACT(year FROM o_orderdate) AS yr,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM mfdb_gba_o JOIN mfdb_gba_c ON o_custkey = c_custkey
        GROUP BY ALL
        """
    )


@register(
    "q_sql_lateral_alias",
    oracle=f"""
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100000 AS price_band,
           (CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100000) * 100000
             AS band_floor_cents
    FROM orders WHERE o_orderkey % 53 = 0
    """,
    priority="P2",
    tags=("sql", "surface", "spark4"),
)
def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column alias references (Spark 3.4+/4.0 default): a
    SELECT item refers to an alias defined EARLIER IN THE SAME LIST
    (`cents` → `price_band` → `band_floor_cents`), letting a derived
    chain read top-to-bottom instead of nesting subqueries. DuckDB has
    no lateral aliasing, so the oracle writes the expanded expressions
    — the hash match proves the sugar resolves to exactly that
    expansion (each reference inlines its definition; floor-division
    semantics via Spark DIV ↔ DuckDB `//` on the non-negative cents).

    Scale: pure scan-side projection with a pushed filter; analyzer
    sugar, zero plan difference.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("mfdb_lca_o")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               cents DIV 100000 AS price_band,
               price_band * 100000 AS band_floor_cents
        FROM mfdb_lca_o WHERE o_orderkey % 53 = 0
        """
    )


@register(
    "q_sql_try_arithmetic",
    oracle=f"""
    WITH t AS (
      SELECT l_returnflag,
             CASE WHEN l_quantity = 25 THEN NULL
                  ELSE l_extendedprice / (l_quantity - 25) END AS ratio,
             CASE WHEN CAST(l_quantity AS BIGINT) > 7 THEN NULL
                  ELSE 9223372036854775800 + CAST(l_quantity AS BIGINT)
             END AS guarded_add,
             TRY_CAST(CASE WHEN l_linenumber % 2 = 0
                           THEN CAST(l_linenumber AS VARCHAR)
                           ELSE l_returnflag END AS INTEGER) AS maybe_int
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_div_null,
           {R2('MIN(ratio)')} AS min_ratio,
           {R2('MAX(ratio)')} AS max_ratio,
           CAST(SUM(CASE WHEN guarded_add IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_add_overflow,
           CAST(SUM(CASE WHEN maybe_int IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cast_null,
           CAST(SUM(maybe_int) AS BIGINT) AS cast_sum
    FROM t GROUP BY 1
    """,
    priority="P2",
    tags=("sql", "surface", "ansi"),
)
def q_sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe `try_*` arithmetic surface (the reason this engine can
    run with `spark.sql.ansi.enabled=true` and still stream dirty
    data): `try_divide` nulls on the zero denominator instead of
    raising, `try_add` nulls on BIGINT overflow (planted near-MAX
    addend — quantities above 7 overflow, both branches live on the
    1..50 domain), `try_cast` nulls on the non-numeric half of a mixed
    string column. DuckDB has no try_ arithmetic, so the oracle is the
    explicit CASE guard — pinning that try_* equals guard-then-compute,
    which is exactly the rewrite a migration would apply.

    Counts and the cast-sum are exact integers; the ratio min/max are
    order-free extremes of engine-identical doubles, r2-rounded.

    Scale: one map-side-combined conditional aggregate over the fact
    scan; the try_* forms stay inside whole-stage codegen.
    """
    li = load(spark, sf_dir, "lineitem")
    t = li.select(
        "l_returnflag",
        F.expr("try_divide(l_extendedprice, l_quantity - 25)").alias("ratio"),
        F.expr(
            "try_add(9223372036854775800L, CAST(l_quantity AS BIGINT))"
        ).alias("guarded_add"),
        F.expr(
            "try_cast(CASE WHEN l_linenumber % 2 = 0 "
            "THEN CAST(l_linenumber AS STRING) "
            "ELSE l_returnflag END AS INT)"
        ).alias("maybe_int"),
    )
    return t.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("ratio").isNull().cast("long"))
        .cast("bigint")
        .alias("n_div_null"),
        r2(F.min("ratio")).alias("min_ratio"),
        r2(F.max("ratio")).alias("max_ratio"),
        F.sum(F.col("guarded_add").isNull().cast("long"))
        .cast("bigint")
        .alias("n_add_overflow"),
        F.sum(F.col("maybe_int").isNull().cast("long"))
        .cast("bigint")
        .alias("n_cast_null"),
        F.sum("maybe_int").cast("bigint").alias("cast_sum"),
    )


@register(
    "q_sql_window_clause",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority, o_orderkey, o_orderdate,
             CAST({R('(o_totalprice * 100)', 0)} AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
    )
    SELECT o_orderpriority, o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(SUM(cents) OVER w AS BIGINT) AS running_cents
    FROM o
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_orderdate, o_orderkey)
    """,
    priority="P2",
    tags=("sql", "surface", "window"),
)
def q_sql_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named `WINDOW` clause surface row: one window specification
    declared once and shared by a ranking and a running-sum function —
    the deduplicated-spec SQL form (identical physical plan to the
    inlined OVER specs, which is what the hash match pins). Running
    totals ride as exact integer cents; the (date, key) ordering is a
    total order, so ranks and prefix sums are engine-identical.

    Scale: one partitioned window over the pushed-down half-year
    slice — partition key is the 5-value priority, bounded grain;
    the filter reaches the parquet scan.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("mfdb_wc_orders")
    return spark.sql(
        """
        WITH o AS (
          SELECT o_orderpriority, o_orderkey, o_orderdate,
                 CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM mfdb_wc_orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
        )
        SELECT o_orderpriority, o_orderkey,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(SUM(cents) OVER w AS BIGINT) AS running_cents
        FROM o
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_orderdate, o_orderkey)
        """
    )


@register(
    "q_sql_identifier",
    oracle=f"""
    SELECT c_mktsegment AS seg,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {R4('AVG(c_acctbal)')} AS avg_balance
    FROM customer GROUP BY c_mktsegment
    """,
    priority="P2",
    tags=("sql", "surface", "identifier"),
)
def q_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 `IDENTIFIER(:param)` clause — safely parameterized
    TABLE and COLUMN names (the SQL-injection-proof way to build
    dynamic reports; `q_sql_parameterized` binds VALUES, this binds
    identifiers, which plain parameter markers cannot do): the same
    aggregation runs with the view name, the grouping column, and
    the measure column all supplied as named arguments. The oracle
    is the statically-spelled equivalent — identical results prove
    the indirection is pure name resolution.

    Scale: the clause resolves at ANALYSIS time — the physical plan
    is byte-identical to the static query (scan + partial/final
    agg), so there is no runtime cost to the indirection.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "mfdb_ident_customer"
    )
    raw = spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS seg,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               AVG(IDENTIFIER(:msr)) AS avg_raw
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        """,
        args={
            "grp": "c_mktsegment",
            "msr": "c_acctbal",
            "tbl": "mfdb_ident_customer",
        },
    )
    return raw.select(
        "seg", "n_customers", r4(F.col("avg_raw")).alias("avg_balance")
    )


@register(
    "q_sql_order_by_all",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           {R2('SUM(l_quantity)')} AS qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY ALL
    """,
    priority="P2",
    tags=("sql", "surface", "spark4"),
)
def q_sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ORDER BY ALL` (Spark 4.0, the DuckDB-pioneered spelling
    alongside `q_sql_group_by_all`): sort by every select item left to
    right — the "give me a stable, eyeball-able report" ergonomic that
    otherwise needs the column list repeated. Resolution happens in
    the analyzer; the physical sort is identical to the explicit form
    (which the hash match against DuckDB's own ORDER BY ALL pins —
    including that BOTH engines order the flag/status pair the same
    way, i.e. left-to-right ascending).

    Scale: the sort runs on the aggregated frame (bounded by the
    flag×status domain), never on raw rows."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("mfdb_oba_l")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(l_quantity), 2) AS qty
        FROM mfdb_oba_l
        GROUP BY l_returnflag, l_linestatus
        ORDER BY ALL
        """
    )


@register(
    "q_sql_unpivot",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(l_quantity) AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS linesum
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, metric, val
    FROM wide UNPIVOT (val FOR metric IN (qty, cnt, linesum))
    """,
    priority="P2",
    tags=("sql", "surface", "unpivot"),
)
def q_sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL `UNPIVOT` clause (Spark 3.4+ / DuckDB native) —
    `q_unpivot` proves the DataFrame `unpivot()`/`stack` form; this
    row pins the SQL-SYNTAX surface hash-equal to DuckDB's own
    UNPIVOT, including its null-dropping default and column-name
    capitalization behavior (both engines lowercase the IN-list
    aliases here by using explicit lowercase names). Wide-to-long is
    the reporting primitive; the clause is sugar over the same
    expand + filter Catalyst plans for stack().

    Scale: UNPIVOT is a per-row map expansion (3 rows out per row
    in) — embarrassingly parallel, no shuffle; the shuffle in this
    query is the upstream groupBy to the 3-row wide frame."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "li_unpivot_src"
    )
    return spark.sql(
        """
        WITH wide AS (
          SELECT l_returnflag,
                 CAST(SUM(l_quantity) AS BIGINT) AS qty,
                 CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS linesum
          FROM li_unpivot_src GROUP BY 1
        )
        SELECT l_returnflag, metric, val
        FROM wide UNPIVOT (val FOR metric IN (qty, cnt, linesum))
        """
    )


@register(
    "q_null_semantics",
    oracle="""
    WITH v AS (
      SELECT * FROM (VALUES
        (1, TRUE), (2, FALSE), (3, NULL)
      ) AS t(id, b)
    ), pairs AS (
      SELECT a.id AS ida, b.id AS idb, a.b AS x, b.b AS y
      FROM v a CROSS JOIN v b
    )
    SELECT ida, idb,
           CASE WHEN (x AND y) IS NULL THEN 'N'
                WHEN x AND y THEN 'T' ELSE 'F' END AS and_xy,
           CASE WHEN (x OR y) IS NULL THEN 'N'
                WHEN x OR y THEN 'T' ELSE 'F' END AS or_xy,
           CASE WHEN (NOT x) IS NULL THEN 'N'
                WHEN NOT x THEN 'T' ELSE 'F' END AS not_x,
           CASE WHEN x IS NOT DISTINCT FROM y THEN 'T' ELSE 'F' END
             AS ndistinct,
           CASE WHEN COALESCE(x, y) IS NULL THEN 'N'
                WHEN COALESCE(x, y) THEN 'T' ELSE 'F' END AS coal,
           CASE WHEN x THEN 'then' ELSE 'else' END AS case_null_is_else,
           CASE WHEN CAST(x AS VARCHAR) IS NULL THEN 'T' ELSE 'F' END
             AS cast_keeps_null
    FROM pairs
    """,
    priority="P2",
    tags=("sql", "surface", "null-semantics"),
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic truth table, hash-matched across engines —
    the NULL-semantics contract every filter and join in this repo
    silently relies on, pinned EXPLICITLY: Kleene AND/OR/NOT over
    {TRUE, FALSE, NULL} x {TRUE, FALSE, NULL} (NULL AND FALSE =
    FALSE, NULL OR TRUE = TRUE — the two rows people guess wrong),
    IS NOT DISTINCT FROM as the null-safe equality (the `q_join_
    nullsafe` predicate in scalar form), COALESCE fallback, CASE's
    null-is-else branch, and cast null-propagation. An engine (or
    refactor) that deviates on any cell flips the hash.

    Scale: a 9-row literal frame — the op is a CONTRACT, not a
    computation; it exists so the 100 TB filters built on these
    rules have a pinned, driver-verified truth table behind them.
    Cells are encoded 'T'/'F'/'N' STRINGS, never nullable booleans:
    a NULL boolean stringifies as 'None' in pandas-from-Spark but
    'nan' from DuckDB, so the driver canonicalizer would hash-split
    on representation, not semantics (measured here) — the same
    hazard class as the r4/complex-column standing rules."""
    return spark.sql(
        """
        WITH v AS (
          SELECT * FROM VALUES
            (1, TRUE), (2, FALSE), (3, CAST(NULL AS BOOLEAN))
          AS t(id, b)
        ), pairs AS (
          SELECT a.id AS ida, b.id AS idb, a.b AS x, b.b AS y
          FROM v a CROSS JOIN v b
        )
        SELECT ida, idb,
               CASE WHEN (x AND y) IS NULL THEN 'N'
                    WHEN x AND y THEN 'T' ELSE 'F' END AS and_xy,
               CASE WHEN (x OR y) IS NULL THEN 'N'
                    WHEN x OR y THEN 'T' ELSE 'F' END AS or_xy,
               CASE WHEN (NOT x) IS NULL THEN 'N'
                    WHEN NOT x THEN 'T' ELSE 'F' END AS not_x,
               CASE WHEN x <=> y THEN 'T' ELSE 'F' END AS ndistinct,
               CASE WHEN COALESCE(x, y) IS NULL THEN 'N'
                    WHEN COALESCE(x, y) THEN 'T' ELSE 'F' END AS coal,
               CASE WHEN x THEN 'then' ELSE 'else' END AS case_null_is_else,
               CASE WHEN CAST(x AS STRING) IS NULL THEN 'T' ELSE 'F' END
                 AS cast_keeps_null
        FROM pairs
        """
    )
