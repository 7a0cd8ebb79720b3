"""Aggregations — SURVEY.md §2.4.

Reference capabilities [R]: per-(N,k) dimension totals, distinct
coefficient-field counts, "largest level with complete data" (max_by),
assembling ap-lists from chunks (ordered collect), subtotal reports over
the (N,k) hierarchy (rollup), wide "web"-record assembly (pivot).

All hash aggregations: Spark plans partial (map-side) + final aggregation
automatically, so at 100 TB each of these is one shuffle of the
already-combined partials, keyed on the group-by columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.parity import d38, r2, r4
from modforms_db_spark.registry import register

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_agg_flagship",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {R2('SUM(l_quantity)')}                                       AS sum_qty,
           {R2('SUM(l_extendedprice)')}                                  AS sum_base_price,
           {R2('SUM(l_extendedprice * (1 - l_discount))')}               AS sum_disc_price,
           {R2('SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))')} AS sum_charge,
           {R4('AVG(l_quantity)')}                                       AS avg_qty,
           {R4('AVG(l_extendedprice)')}                                  AS avg_price,
           {R4('AVG(l_discount)')}                                       AS avg_disc,
           COUNT(*)                                                      AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    priority="P0",
    tags=("agg", "flagship"),
)
def q_agg_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analogue — the entry() flagship. Scan → filter → hash agg
    (partial+final) over two low-cardinality keys. Per-(N,k) totals [R]."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r2(F.sum("l_quantity")).alias("sum_qty"),
            r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            r2(F.sum(disc_price)).alias("sum_disc_price"),
            r2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            r4(F.avg("l_quantity")).alias("avg_qty"),
            r4(F.avg("l_extendedprice")).alias("avg_price"),
            r4(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_agg_count_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    priority="P1",
    tags=("agg",),
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type (expand + two-phase agg)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_agg_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE                    AS within_tol
    FROM events GROUP BY event_type
    """,
    priority="P2",
    tags=("agg", "approx"),
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB substitute for
    exact distinct. Self-validating hash-matchable form: the same pass
    computes the exact distinct (which the oracle reproduces) and the
    sketch estimate, and emits `within_tol` = |approx − exact| ≤ 5 %
    of exact (rsd=0.02, so 5 % is > 2σ headroom). A sketch drifting out
    of its error bound flips the boolean and fails the driver hash."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.countDistinct("user_id")
            )
            <= 0.05 * F.countDistinct("user_id")
        ).alias("within_tol"),
    )


@register(
    "q_agg_stats",
    oracle=f"""
    SELECT {R4('stddev_samp(l_extendedprice)')} AS sd_price,
           {R4('var_samp(l_extendedprice)')}    AS var_price,
           {R4('corr(l_extendedprice, l_quantity)')}       AS corr_pq,
           {R4('covar_samp(l_extendedprice, l_quantity)')} AS covar_pq,
           {R2('MIN(l_extendedprice)')} AS min_price,
           {R2('MAX(l_extendedprice)')} AS max_price
    FROM lineitem
    """,
    priority="P1",
    tags=("agg", "stats"),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — sanity stats over stored dimensions [R]."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        r4(F.stddev_samp("l_extendedprice")).alias("sd_price"),
        r4(F.var_samp("l_extendedprice")).alias("var_price"),
        r4(F.corr("l_extendedprice", "l_quantity")).alias("corr_pq"),
        r4(F.covar_samp("l_extendedprice", "l_quantity")).alias("covar_pq"),
        r2(F.min("l_extendedprice")).alias("min_price"),
        r2(F.max("l_extendedprice")).alias("max_price"),
    )


@register(
    "q_agg_percentile",
    oracle=f"""
    SELECT o_orderpriority,
           {R4('quantile_cont(o_totalprice, 0.5)')} AS median_price,
           {R4('quantile_cont(o_totalprice, 0.9)')} AS p90_price
    FROM orders GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("agg", "percentile"),
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile ≡ DuckDB quantile_cont)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        r4(F.percentile("o_totalprice", F.lit(0.5))).alias("median_price"),
        r4(F.percentile("o_totalprice", F.lit(0.9))).alias("p90_price"),
    )


@register(
    "q_agg_approx_percentile",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           TRUE     AS median_within,
           TRUE     AS p90_within
    FROM orders GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("agg", "percentile", "sketch"),
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_approx`` (Greenwald-Khanna summaries) — the 100 TB
    percentile. Exact percentile needs a full sort per group; the GK sketch
    is a bounded-size mergeable summary (partial+final agg, one shuffle of
    sketches not rows). accuracy=10000 → rank error ≤ n/10000.

    Self-validating hash-matchable form: the same pass computes the
    exact interpolated percentiles at q±0.01 and asserts the GK estimate
    lands inside that rank window (the sketch's guarantee, with ~100×
    headroom at accuracy=10000). The oracle reproduces the group keys
    and counts and emits the expected TRUE booleans — an out-of-bound
    sketch flips a boolean and fails the driver hash."""
    o = load(spark, sf_dir, "orders")

    def within(q: float) -> F.Column:
        approx = F.percentile_approx("o_totalprice", F.lit(q), F.lit(10000))
        lo = F.percentile("o_totalprice", F.lit(max(q - 0.01, 0.0)))
        hi = F.percentile("o_totalprice", F.lit(min(q + 0.01, 1.0)))
        return (approx >= lo) & (approx <= hi)

    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        within(0.5).alias("median_within"),
        within(0.9).alias("p90_within"),
    )


@register(
    "q_agg_minmax_by",
    oracle=f"""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS max_order,
           arg_min(o_orderkey, o_totalprice) AS min_order,
           {R2('MAX(o_totalprice)')} AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    priority="P1",
    tags=("agg",),
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by — "largest level with complete data" [R]. o_totalprice
    is a continuous double, so ties (the nondeterministic case) don't occur
    in this data; the unit test covers tie behavior explicitly."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("max_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("min_order"),
        r2(F.max("o_totalprice")).alias("max_price"),
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
    priority="P1",
    tags=("agg", "collect"),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list agg (sorted distinct, emitted as CSV so the value
    hash is unambiguous) — ap-list assembly from chunks [R]."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "types_csv"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_cust
    FROM customer GROUP BY c_nationkey HAVING COUNT(*) > 50
    """,
    priority="P1",
    tags=("agg", "having"),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — levels with more factors than X [R]."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .where(F.col("n_cust") > 50)
    )


@register(
    "q_agg_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           {R2('SUM(o_totalprice)')} AS total,
           GROUPING(r_name, n_name) AS gid
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    priority="P1",
    tags=("agg", "rollup"),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id — subtotal reports over the (N,k) hierarchy [R].
    The dims are broadcast; the only shuffle is the rollup agg itself."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        r2(F.sum("o_totalprice")).alias("total"),
        F.grouping_id().alias("gid"),
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderpriority)
    """,
    priority="P2",
    tags=("agg", "cube"),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_agg_grouping_sets",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
           {R2('SUM(c_acctbal)')} AS bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    priority="P2",
    tags=("agg", "grouping_sets"),
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL API."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("mfdb_customer_gs")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
               ROUND(SUM(c_acctbal), 2) AS bal
        FROM mfdb_customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@register(
    "q_agg_pivot",
    oracle="""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS n_click,
           COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS n_error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS n_signup,
           COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS n_view
    FROM events GROUP BY user_id
    """,
    priority="P2",
    tags=("agg", "pivot"),
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide — "web" record assembly from long storage [R]."""
    e = load(spark, sf_dir, "events")
    wide = e.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


@register(
    "q_unpivot",
    oracle=f"""
    SELECT metric, n, val4 FROM (
      SELECT 'l_discount' AS metric, COUNT(*) AS n,
             {R4('AVG(l_discount)')} AS val4 FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', COUNT(*), {R4('AVG(l_extendedprice)')} FROM lineitem
      UNION ALL
      SELECT 'l_quantity', COUNT(*), {R4('AVG(l_quantity)')} FROM lineitem
      UNION ALL
      SELECT 'l_tax', COUNT(*), {R4('AVG(l_tax)')} FROM lineitem
    )
    """,
    priority="P2",
    tags=("agg", "unpivot"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long (the inverse of `q_agg_pivot`): melt the four
    lineitem measures into (metric, value) rows, then profile each metric.
    `DataFrame.unpivot` is a zero-shuffle projection (each input row emits
    4 rows map-side); the only exchange is the final 4-group aggregate."""
    li = load(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=measures,
        variableColumnName="metric",
        valueColumnName="val",
    )
    return (
        long.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 4).alias("val4"),
        )
        .select("metric", "n", "val4")
    )


@register(
    "q_agg_hll_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_custkeys,
           TRUE AS within_tol
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL' AS o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_custkeys,
           TRUE AS within_tol
    FROM orders
    """,
    priority="P2",
    tags=("agg", "sketch", "scale-path"),
)
def q_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level HyperLogLog: build one HLL sketch of distinct customers
    per order-priority (`hll_sketch_agg`), then merge the five sketches
    (`hll_union_agg`) into the overall estimate — the 100 TB pattern
    where per-partition/per-day sketches are persisted once and any
    rollup is a cheap merge, never a re-scan. Emits each priority's
    row plus an ALL row from the merged sketch.

    Self-validating hash-matchable form: each row carries the exact
    distinct count (oracle-reproducible) and `within_tol` = sketch
    estimate within 5 % of exact (lgConfigK=12 → ~1.6 % σ). The merged
    ALL row is checked against the exact global distinct, so a broken
    union surfaces as a flipped boolean.

    Scale: sketches are ~KB regardless of input size, so the merge stage
    moves 5 sketches instead of re-shuffling every customer key; this is
    what replaces count(DISTINCT) when the exact answer isn't contractual
    (q_agg_approx_distinct is the one-level approx_count_distinct form).
    The exact side here is the self-check harness, not the scale path.
    """
    o = load(spark, sf_dir, "orders")
    sketches = o.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_custkeys"),
    )
    tol = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) <= 0.05 * exact
    )
    per_grp = sketches.select(
        "o_orderpriority",
        "exact_custkeys",
        tol(
            F.expr("hll_sketch_estimate(sk)"), F.col("exact_custkeys")
        ).alias("within_tol"),
    )
    merged = (
        sketches.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
        )
        .crossJoin(
            F.broadcast(
                o.agg(F.countDistinct("o_custkey").alias("exact_custkeys"))
            )
        )
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            "exact_custkeys",
            tol(F.col("est"), F.col("exact_custkeys")).alias("within_tol"),
        )
    )
    return per_grp.unionByName(merged)


@register(
    "q_agg_mode",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, event_type AS mode_type, n
    FROM (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rn
      FROM cnt
    ) WHERE rn = 1
    """,
    priority="P1",
    tags=("agg", "mode"),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent event_type per user, ties broken
    lexicographically — Spark's builtin `mode()` is tie-nondeterministic,
    so the contract form is count + window top-1 (WindowGroupLimit), which
    both engines agree on exactly.

    Scale: the groupBy pre-aggregates to ≤ |users|×|types| rows before the
    window pass, so the sort-per-key touches tiny groups (≤5 rows each).
    """
    e = load(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@register(
    "q_agg_histogram",
    oracle=f"""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 50000), 11) AS BIGINT) AS bucket,
           CAST(LEAST(FLOOR(o_totalprice / 50000), 11) AS BIGINT) * 50000
             AS bucket_lo,
           COUNT(*) AS n_orders,
           {R2('AVG(o_totalprice)')} AS avg_price
    FROM orders
    GROUP BY 1, 2
    """,
    priority="P1",
    tags=("agg", "histogram"),
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (12 buckets of 50k, top bucket
    open) — the distribution profile a curation run reports. Pure
    arithmetic bucketing ⇒ identical in both engines, and at 100 TB it is
    a single map-side-combined agg keyed on 12 values (no skew risk: the
    per-bucket partials are one row each).
    """
    o = load(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(11)).cast(
        "bigint"
    )
    return (
        o.groupBy(
            bucket.alias("bucket"), (bucket * 50000).alias("bucket_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r2(F.avg("o_totalprice")).alias("avg_price"),
        )
    )


_FILTER_CLAUSE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       {round_open} AS open_value,
       COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
         AS big_buyers
FROM {orders}
GROUP BY o_orderpriority
"""


@register(
    "q_agg_filter_clause",
    oracle=_FILTER_CLAUSE_SQL.format(
        orders="orders",
        round_open=R2("SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O')"),
    ),
    priority="P1",
    tags=("agg", "filter-clause", "sql"),
)
def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation via the ANSI `FILTER (WHERE …)` clause —
    one pass computes differently-filtered aggregates side by side (the
    SQL-user form of pivoted CASE WHEN sums). Single map-side-combined
    hash agg at any scale; the per-agg predicates are evaluated inside
    the partial, so no extra scan or shuffle per condition.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("mfdb_fc_orders")
    return spark.sql(
        _FILTER_CLAUSE_SQL.format(
            orders="mfdb_fc_orders",
            round_open=(
                "round(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2)"
            ),
        )
    )


@register(
    "q_agg_string",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
    priority="P1",
    tags=("agg", "string-agg"),
)
def q_agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): comma-joined nation names per
    region, deterministically ordered — the label-assembly shape
    (`"{N}.{k}.{chi}"` rollups [R]). Spark form: collect_list → array_sort
    → array_join, which keeps the unordered-agg + cheap per-group sort
    structure (partial aggregation still applies; the sort touches only
    the final per-group list, never a global order).
    """
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nations"
        ),
        F.count(F.lit(1)).alias("n_nations"),
    )


@register(
    "q_stat_freq_items",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_heavy,
           TRUE                     AS guarantee_holds
    FROM (
      SELECT o_orderpriority
      FROM orders
      GROUP BY o_orderpriority
      HAVING COUNT(*) > 0.05 * (SELECT COUNT(*) FROM orders)
    )
    """,
    priority="P2",
    tags=("agg", "sketch", "heavy-hitters"),
)
def q_stat_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via `df.stat.freqItems` (Karp/Misra-Gries style
    single-pass counters): every value of o_orderpriority with frequency
    > 5% is guaranteed present (false positives possible, false negatives
    not).

    Self-validating hash-matchable form: the true heavy hitters are
    computed exactly (count > 5 % of rows — oracle-reproducible), and
    `guarantee_holds` asserts the sketch output is a superset of them
    (`array_except(true_heavy, sketch) = []`). A sketch with a false
    negative flips the boolean and fails the driver hash.

    Scale: fixed O(1/support) state per partition merged once — the
    100 TB "what are the hot keys" primer that decides whether a join
    needs salting (SCALE.md §3), at a vanishing fraction of the exact
    groupBy's shuffle. The exact side here is the self-check harness.
    """
    o = load(spark, sf_dir, "orders")
    sketch = o.stat.freqItems(["o_orderpriority"], 0.05).select(
        F.col("o_orderpriority_freqItems").alias("sketch_items")
    )
    counts = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    total = o.agg(F.count(F.lit(1)).alias("total"))
    true_heavy = (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n") > 0.05 * F.col("total"))
        .agg(
            F.count(F.lit(1)).alias("n_true_heavy"),
            F.collect_list("o_orderpriority").alias("heavy_items"),
        )
    )
    return true_heavy.crossJoin(F.broadcast(sketch)).select(
        "n_true_heavy",
        (
            F.size(F.array_except("heavy_items", "sketch_items")) == F.lit(0)
        ).alias("guarantee_holds"),
    )


@register(
    "q_agg_bool",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)        AS all_over_1k,
           bool_or(o_orderstatus = 'F')         AS any_finished,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big
    FROM orders
    GROUP BY o_orderpriority
    """,
    priority="P1",
    tags=("agg", "boolean"),
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (`bool_and`/`bool_or`/`count_if`) — the
    completeness-flag rollup ("every record of this level checked?",
    "any failures?") [R `check_records`]. Same partial+final hash-agg
    shape as every other aggregate.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
    )


@register(
    "q_agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue_exact,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    priority="P1",
    tags=("agg", "decimal"),
)
def q_agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal aggregation: cast the measure to DECIMAL(18,2) and
    sum EXACTLY — no float rounding policy needed, the hash must match
    bit-for-bit because decimal addition is associative (the one place
    the engines can agree without the r2/r4 rule). The exact-arithmetic
    discipline of the reference's number-field coefficients [R], in the
    type system Spark actually ships.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue_exact"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_transpose",
    oracle=f"""
    WITH a AS (
      SELECT l_returnflag,
             {R2('SUM(l_quantity)')} AS sum_qty,
             {R2('AVG(l_extendedprice)')} AS avg_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT 'sum_qty' AS key,
           MAX(CASE WHEN l_returnflag = 'A' THEN sum_qty END) AS A,
           MAX(CASE WHEN l_returnflag = 'N' THEN sum_qty END) AS N,
           MAX(CASE WHEN l_returnflag = 'R' THEN sum_qty END) AS R
    FROM a
    UNION ALL
    SELECT 'avg_price' AS key,
           MAX(CASE WHEN l_returnflag = 'A' THEN avg_price END) AS A,
           MAX(CASE WHEN l_returnflag = 'N' THEN avg_price END) AS N,
           MAX(CASE WHEN l_returnflag = 'R' THEN avg_price END) AS R
    FROM a
    """,
    priority="P2",
    tags=("agg", "transpose"),
)
def q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.transpose` (Spark 4): flip a small per-flag aggregate to
    measures-as-rows × flags-as-columns — the report orientation step.
    Transpose requires collecting the index column to name the output
    columns, so it is a SMALL-RESULT-ONLY operator by construction (here:
    3×2 post-aggregation cells); never transpose a fact table.
    """
    li = load(spark, sf_dir, "lineitem")
    agg = (
        li.groupBy("l_returnflag")
        .agg(
            r2(F.sum("l_quantity")).alias("sum_qty"),
            r2(F.avg("l_extendedprice")).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )
    return agg.transpose("l_returnflag")


@register(
    "q_agg_moments",
    oracle=f"""
    WITH mu AS (SELECT AVG(l_quantity) AS m FROM lineitem),
    cm AS (
      SELECT AVG(POWER(l_quantity - mu.m, 2)) AS m2,
             AVG(POWER(l_quantity - mu.m, 3)) AS m3,
             AVG(POWER(l_quantity - mu.m, 4)) AS m4,
             MIN(mu.m) AS m
      FROM lineitem, mu
    )
    SELECT {R4('m')} AS mean_qty,
           {R4('m2')} AS m2,
           {R4('m3 / POWER(m2, 1.5)')} AS skewness_pop,
           {R4('m4 / POWER(m2, 2) - 3')} AS excess_kurtosis_pop
    FROM cm
    """,
    priority="P2",
    tags=("agg", "stats", "moments"),
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment statistics (population skewness, excess kurtosis)
    computed EXPLICITLY from central moments — not the `skewness()`/
    `kurtosis()` builtins, whose sample-vs-population correction factors
    differ between engines (a dialect trap the explicit formula removes).
    Two passes: mean, then centered moments with the mean broadcast via a
    one-row cross join — the standard distributed-moments shape (at
    100 TB: one-pass co-moment accumulation if the second scan hurts).
    """
    li = load(spark, sf_dir, "lineitem").select("l_quantity")
    mu = li.agg(F.avg("l_quantity").alias("m"))
    x = F.col("l_quantity") - F.col("m")
    cm = li.crossJoin(F.broadcast(mu)).agg(
        F.avg(F.pow(x, 2)).alias("m2"),
        F.avg(F.pow(x, 3)).alias("m3"),
        F.avg(F.pow(x, 4)).alias("m4"),
        F.min("m").alias("m"),
    )
    return cm.select(
        r4("m").alias("mean_qty"),
        r4("m2").alias("m2"),
        r4(F.col("m3") / F.pow("m2", 1.5)).alias("skewness_pop"),
        r4(F.col("m4") / F.pow("m2", 2) - 3).alias("excess_kurtosis_pop"),
    )


@register(
    "q_profile_columns",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             COUNT(o_custkey) AS nn1, COUNT(DISTINCT o_custkey) AS nd1,
             COUNT(o_orderstatus) AS nn2, COUNT(DISTINCT o_orderstatus) AS nd2,
             COUNT(o_orderpriority) AS nn3, COUNT(DISTINCT o_orderpriority) AS nd3
      FROM orders
    )
    SELECT 'o_custkey' AS col, n - nn1 AS n_nulls, nd1 AS n_distinct FROM s
    UNION ALL
    SELECT 'o_orderstatus', n - nn2, nd2 FROM s
    UNION ALL
    SELECT 'o_orderpriority', n - nn3, nd3 FROM s
    """,
    priority="P1",
    tags=("agg", "profiling", "data-quality"),
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile (null count + distinct count per
    column) in ONE scan: all per-column statistics computed in a single
    aggregation, then unpivoted to long form — never one scan per column
    (the difference between 1× and C× the table read at 100 TB).
    The reference's `check_records` schema audit [R] as a profile query.
    """
    o = load(spark, sf_dir, "orders")
    s = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn1"),
        F.countDistinct("o_custkey").alias("nd1"),
        F.count("o_orderstatus").alias("nn2"),
        F.countDistinct("o_orderstatus").alias("nd2"),
        F.count("o_orderpriority").alias("nn3"),
        F.countDistinct("o_orderpriority").alias("nd3"),
    )
    return s.select(
        F.expr(
            """
            stack(3,
              'o_custkey',       n - nn1, nd1,
              'o_orderstatus',   n - nn2, nd2,
              'o_orderpriority', n - nn3, nd3)
              AS (col, n_nulls, n_distinct)
            """
        )
    )


@register(
    "q_agg_regression",
    oracle=f"""
    SELECT l_returnflag,
           {R4('regr_slope(l_extendedprice, l_quantity)')}     AS slope,
           {R4('regr_intercept(l_extendedprice, l_quantity)')} AS intercept,
           {R4('regr_r2(l_extendedprice, l_quantity)')}        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    priority="P2",
    tags=("agg", "stats", "regression"),
)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (slope/intercept/R² of price on
    quantity per return flag) — the in-engine OLS family both engines
    implement as single-pass moment accumulators, i.e. the trend-line
    primitive that needs no ML library and no second scan.

    Scale: regr_* are algebraic aggregates (sums of x, y, xy, x², y²)
    → partial+final like any sum; one shuffle of 5 moment tuples per
    group, constant state per task."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.regr_slope("l_extendedprice", "l_quantity")).alias("slope"),
        r4(F.regr_intercept("l_extendedprice", "l_quantity")).alias(
            "intercept"
        ),
        r4(F.regr_r2("l_extendedprice", "l_quantity")).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n"),
    )


_QUANTILE_BINS_ORACLE = f"""
    WITH t AS (
      SELECT event_type, value, event_id,
             ntile(4) OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS bin
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           {R4('MIN(value)')} AS lo,
           {R4('MAX(value)')} AS hi
    FROM t GROUP BY event_type, bin
    """


@register(
    "q_quantile_bins",
    oracle=_QUANTILE_BINS_ORACLE,
    priority="P2",
    tags=("agg", "histogram", "quantile"),
)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quartile bins) per event_type: ntile(4)
    assigns equal-population bins, then each bin reports its count and
    [lo, hi] value span — the complement of `q_agg_histogram`'s
    equi-WIDTH bins, and the binning an optimizer's column statistics
    use. The (value, event_id) tiebreak makes bin assignment
    deterministic under duplicate values on any engine.

    Scale: one shuffle on event_type for the ntile window, then the
    (event_type, bin) agg refines the same partitioning — a single
    exchange. Caveat honestly stated: a global ntile over ONE giant
    group serializes that group through one task; at 100 TB you'd use
    approx percentile cutpoints (`q_agg_approx_percentile`) and a
    scan-side bucket assignment instead — this row is the exact,
    oracle-checkable form over bounded group counts."""
    e = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select("event_type", "value", "event_id")
        .withColumn("bin", F.ntile(4).over(w).cast("bigint"))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@register(
    "q_quantile_bins_scaled",
    oracle=_QUANTILE_BINS_ORACLE,
    priority="P2",
    tags=("agg", "histogram", "quantile", "banded", "scale-twin"),
)
def q_quantile_bins_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_quantile_bins`'s scale twin (same oracle, same result,
    test-pinned): exact per-event_type quartiles WITHOUT serializing a
    giant group through one ntile task. Rows get a banded per-group row
    number in (value, event_id) order (`operators.banded` — the band is
    a value-range slice WITHIN each event_type, so one hot group spreads
    over 32 parallel tasks), then ntile(4) is recovered as pure integer
    arithmetic over (row number, group count) — `ntile_from_rn` is
    Spark's and DuckDB's shared tile-size definition, so the result is
    exact, not approximate-cutpoint.

    Scale: three narrow column-pruned passes over (event_type, value,
    event_id) — group stats, banded window, band totals — each
    parallel; the per-(group, band) offset window runs over ≤ 5×32
    aggregate rows. At 100 TB that re-scan beats one-task ntile by the
    width of the cluster."""
    from modforms_db_spark.operators.banded import ntile_from_rn, with_banded_order

    e = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value", "event_id")
    )
    ranked = with_banded_order(
        e, "value", ["event_id"], group_cols=["event_type"], rn_name="rn"
    )
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.join(F.broadcast(counts), "event_type")
        .withColumn("bin", ntile_from_rn(F.col("rn"), F.col("_n"), 4))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_CORR_MATRIX_ORACLE = (
    "WITH m AS (SELECT "
    + ", ".join(
        f"{R4(f'corr({a}, {b})')} AS c_{i}_{j}"
        for i, a in enumerate(_CORR_COLS)
        for j, b in enumerate(_CORR_COLS)
        if i < j
    )
    + " FROM lineitem) "
    + " UNION ALL ".join(
        f"SELECT '{a}' AS x, '{b}' AS y, c_{i}_{j} AS corr_xy FROM m"
        for i, a in enumerate(_CORR_COLS)
        for j, b in enumerate(_CORR_COLS)
        if i < j
    )
)


@register(
    "q_agg_corr_matrix",
    oracle=_CORR_MATRIX_ORACLE,
    priority="P2",
    tags=("agg", "stats", "corr"),
)
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures, upper triangle as long-form (x, y, corr_xy) rows — the
    feature-screening pass run before any modeling on tabular facts.

    Scale: all six correlations compute in ONE aggregate pass (each is
    a fused sum/sum-sq/cross-moment — Catalyst shares the scan and the
    partial-agg shuffle reduces to a single 1-row combine); the
    long-form explode happens on the 1-row result via stack, not on
    data. O(cols²) accumulators, O(1) rows moved."""
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for j, b in enumerate(_CORR_COLS)
        if i < j
    ]
    m = li.agg(
        *[r4(F.corr(a, b)).alias(f"c_{a}_{b}") for a, b in pairs]
    )
    stack_args = ", ".join(f"'{a}', '{b}', c_{a}_{b}" for a, b in pairs)
    return m.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (x, y, corr_xy)")
    )


@register(
    "q_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name, s.s_suppkey,
             {R2('SUM(l.l_extendedprice * (1 - l.l_discount))')} AS r
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name, s.s_suppkey
    ), tot AS (
      SELECT n_name, {R2('SUM(r)')} AS t, COUNT(*) AS n_supp FROM rev GROUP BY n_name
    )
    SELECT rev.n_name, n_supp,
           {R4('SUM((rev.r / tot.t) * (rev.r / tot.t))')} AS hhi
    FROM rev JOIN tot USING (n_name)
    GROUP BY rev.n_name, n_supp
    """,
    priority="P2",
    tags=("agg", "concentration", "hhi"),
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of supplier revenue per
    nation: Σ share² over each nation's suppliers — the market-
    concentration / data-source-dominance audit (1/n_supp = perfectly
    even, 1.0 = single-supplier capture). Per-supplier revenue is
    r2-rounded BEFORE the share ratio on both engines so the share
    inputs are bit-identical.

    Scale: two partial-agg shuffles (supplier-grain, then nation-grain)
    + a broadcast-sized nation-totals join back — the fact table is
    touched once; shares and squares run on the supplier-grain
    aggregate, ~|suppliers| rows."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("r"))
    )
    tot = rev.groupBy("n_name").agg(
        r2(F.sum("r")).alias("t"), F.count(F.lit(1)).alias("n_supp")
    )
    share = F.col("r") / F.col("t")
    return (
        rev.join(F.broadcast(tot), "n_name")
        .groupBy("n_name", "n_supp")
        .agg(r4(F.sum(share * share)).alias("hhi"))
    )


@register(
    "q_bitmap_distinct",
    oracle="""
    SELECT event_type AS key, COUNT(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS key, COUNT(DISTINCT user_id) AS n_distinct FROM events
    """,
    priority="P2",
    tags=("agg", "bitmap", "distinct"),
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via word-chunked bitmaps (the
    Druid/ClickHouse bitmap-rollup trick): users land in (word = id/64,
    bit = id%64) cells, `bit_or` folds each group's cell, popcount sums
    give per-type distincts — and the ALL row is computed FROM THE
    BITMAPS (bit_or across types per word), never by re-scanning facts.
    That merge step is what HLL gives only approximately: bitmap unions
    stay exact under any regrouping.

    Scale: the fact pass is one partial-agg shuffle keyed (type, word);
    bitmap size is |id-domain|/8 bytes spread across words — dense ids
    make this the exact-distinct structure of choice; sparse/huge
    domains graduate to roaring-style containers (same algebra) or HLL
    (`q_agg_hll_merge`) when approximation is acceptable. The oracle
    recomputes both levels with plain COUNT(DISTINCT), so a popcount
    or merge bug fails the hash."""
    e = load(spark, sf_dir, "events").select("event_type", "user_id")
    cell = e.select(
        "event_type",
        # shiftright = exact arithmetic floor-div by 64 (double-division
        # truncation and Spark's sign-following % would alias negative ids
        # onto positive cells); pmod keeps the bit index in [0, 64).
        F.shiftright(F.col("user_id"), 6).alias("word"),
        # shiftleft's numBits must be a Column-free int in the Python API;
        # the SQL form accepts a per-row shift amount.
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))"
        ).alias("bit"),
    )
    bm = (
        cell.groupBy("event_type", "word")
        .agg(F.bit_or("bit").alias("w"))
        .localCheckpoint(eager=False)  # both rollup levels read the bitmaps;
        # without this the ALL row would re-scan events (defeating the merge)
    )
    per_type = bm.groupBy(F.col("event_type").alias("key")).agg(
        F.sum(F.bit_count("w")).alias("n_distinct")
    )
    overall = (
        bm.groupBy("word")
        .agg(F.bit_or("w").alias("w"))
        .agg(F.sum(F.bit_count("w")).alias("n_distinct"))
        .select(F.lit("ALL").alias("key"), "n_distinct")
    )
    return per_type.unionByName(overall)


@register(
    "q_period_over_period",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             {R2('SUM(o_totalprice)')} AS revenue, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           {R4('''100.0 * (revenue - lag(revenue, 1)  OVER (ORDER BY month))
                 / lag(revenue, 1)  OVER (ORDER BY month)''')} AS mom_pct,
           {R4('''100.0 * (revenue - lag(revenue, 12) OVER (ORDER BY month))
                 / lag(revenue, 12) OVER (ORDER BY month)''')} AS yoy_pct
    FROM monthly
    """,
    priority="P2",
    tags=("agg", "window", "period"),
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth: monthly
    order revenue (r2-rounded before any ratio, the shared-inputs
    rule) with lag-1 and lag-12 percent changes; leading months where
    the lag has no target stay NULL rather than faking a baseline.

    Scale: the fact table collapses in one partial-agg shuffle to a
    months-sized table; both lags run on that tiny series. The
    unpartitioned ORDER BY month window is a non-issue — it sorts
    ~tens of rows, not facts."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        r2(F.sum("o_totalprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    pct = lambda k: r4(  # noqa: E731
        100.0 * (F.col("revenue") - F.lag("revenue", k).over(w))
        / F.lag("revenue", k).over(w)
    )
    return monthly.select(
        "month", "revenue", "n_orders",
        pct(1).alias("mom_pct"), pct(12).alias("yoy_pct"),
    )


@register(
    "q_ab_ttest",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             {R(f'AVG(value)', 10)} AS mean,
             {R(f'VAR_SAMP(value)', 10)} AS var
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type
    )
    SELECT a.n AS n_a, {R4('a.mean')} AS mean_a,
           b.n AS n_b, {R4('b.mean')} AS mean_b,
           {R4('''(a.mean - b.mean)
                 / SQRT(a.var / a.n + b.var / b.n)''')} AS welch_t
    FROM (SELECT * FROM g WHERE event_type = 'click') a
    CROSS JOIN (SELECT * FROM g WHERE event_type = 'purchase') b
    """,
    priority="P2",
    tags=("agg", "stats", "abtest"),
)
def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic between the click and purchase
    value populations — the A/B-readout primitive (unequal variances,
    no pooling). Group moments are r10-rounded before the t formula so
    both engines feed identical inputs into the one fp-sensitive
    expression; the statistic itself is r4.

    Scale: two 1-row group aggregates (single partial-agg pass over
    the filtered scan) crossed broadcast-style — the entire test costs
    one scan regardless of group sizes, and generalizes to many-arm
    experiments as a groupBy + pairwise self-join of the tiny moment
    table."""
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 10).alias("mean"),
        F.round(F.var_samp("value"), 10).alias("var"),
    )
    a = g.where(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = g.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .select(
            "n_a", r4(F.col("mean_a")).alias("mean_a"),
            "n_b", r4(F.col("mean_b")).alias("mean_b"),
            r4(t).alias("welch_t"),
        )
    )


_SALT_N = 8


@register(
    "q_agg_skew_salted",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n,
           {R2('SUM(value)')} AS total,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    priority="P2",
    tags=("agg", "skew", "salt", "scale"),
)
def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation (the agg-side twin of
    `q_join_skew_salted`): phase 1 aggregates (key, salt) so a
    heavy-hitter key's rows spread over {_SALT_N} reducers, phase 2
    re-aggregates the per-salt partials — legal because count/sum are
    commutative monoids. COUNT(DISTINCT user_id) deliberately does NOT
    ride the same trick (distinct is not salt-mergeable without
    carrying the value set); it re-aggregates from phase-1
    `collect_set` unions here, with the honest note that at true scale
    you'd use the bitmap (`q_bitmap_distinct`) or HLL
    (`q_agg_hll_merge`) instead of set union.

    Scale: Spark's own partial aggregation already handles MODERATE
    skew (map-side combine); explicit salting matters when a single
    key's POST-combine partials still swamp one reducer — i.e. very
    high cardinality inputs per key, exactly what the distinct-set leg
    simulates. The oracle pins result-equality with the unsalted
    plan."""
    e = load(spark, sf_dir, "events")
    salted = e.withColumn("salt", (F.col("event_id") % _SALT_N).cast("int"))
    phase1 = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("pt"),
        F.collect_set("user_id").alias("pu"),
    )
    return (
        phase1.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            r2(F.sum("pt")).alias("total"),
            F.size(F.array_distinct(F.flatten(F.collect_list("pu")))).cast(
                "bigint"
            ).alias("n_users"),
        )
    )


@register(
    "q_grouped_ols",
    oracle=f"""
    WITH m AS (
      SELECT lang,
             COUNT(*) AS n,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sx,
             CAST(SUM(n_chars) AS BIGINT) AS sy,
             CAST(SUM(len(string_split(text, ' ')) * n_chars) AS BIGINT) AS sxy,
             CAST(SUM(len(string_split(text, ' ')) * len(string_split(text, ' '))) AS BIGINT) AS sxx
      FROM documents GROUP BY lang
    )
    SELECT lang, n,
           {R4('(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)')} AS slope,
           {R4('(sy - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / n')} AS intercept
    FROM m
    """,
    priority="P2",
    tags=("agg", "regression", "grouped"),
)
def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (chars ~ tokens per language) from EXACT
    integer moments: n, Σx, Σy, Σxy, Σx² are all bigint (token counts ×
    char counts), so the closed-form slope/intercept divide identical
    integers on both engines — the grouped-regression primitive
    (`q_agg_regression` is the global form via corr/covar builtins;
    this is the moment form that generalizes to any group count).

    Scale: one partial-agg shuffle of #langs groups; the five moments
    are monoid sums (mergeable across shards), the fit itself runs on
    the group-sized table. This is exactly how distributed linear
    regression by group should decompose — no per-group sorts, no
    collect."""
    d = load(spark, sf_dir, "documents")
    x = F.size(F.split("text", " ")).cast("bigint")
    y = F.col("n_chars")
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (nd * F.col("sxx") - sxd * F.col("sx"))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select("lang", "n", r4(slope).alias("slope"), r4(intercept).alias("intercept"))


@register(
    "q_geometric_mean",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n,
           {R4('EXP(AVG(LN(o_totalprice)))')} AS geo_mean,
           {R4('AVG(o_totalprice)')} AS arith_mean
    FROM orders WHERE o_totalprice > 0
    GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("agg", "stats", "geometric"),
)
def q_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per priority class via the log-space identity
    exp(mean(ln x)) — the right average for multiplicative quantities
    (growth rates, price relatives) where the arithmetic mean
    overstates; reported beside it so the gap is visible. The log-sum
    form is also the OVERFLOW-safe formulation: a direct product of
    10⁹ values under/overflows doubles immediately, Σln never does.

    Scale: a plain partial+final aggregate — ln is applied map-side,
    one shuffle of (sum, count) partials per group; positivity filter
    pushed to the scan."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        r4(F.exp(F.avg(F.log("o_totalprice")))).alias("geo_mean"),
        r4(F.avg("o_totalprice")).alias("arith_mean"),
    )


_PARETO_ABC_ORACLE = f"""
    WITH rev AS (
      SELECT l_partkey, {R2('SUM(l_extendedprice * (1 - l_discount))')} AS r
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r,
             SUM(r) OVER () AS tot
      FROM rev
    ), classed AS (
      SELECT l_partkey, r,
             CASE WHEN {R4('(cum_r - r) / tot')} < 0.8 THEN 'A'
                  WHEN {R4('(cum_r - r) / tot')} < 0.95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    )
    SELECT abc, COUNT(*) AS n_parts, {R2('SUM(r)')} AS revenue
    FROM classed GROUP BY abc
    """


@register(
    "q_pareto_abc",
    oracle=_PARETO_ABC_ORACLE,
    priority="P2",
    tags=("agg", "pareto", "abc"),
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of parts by revenue: class A = the
    head items up to 80% of cumulative revenue, B to 95%, C the tail —
    the inventory-prioritization staple. Class boundaries use the
    cumulative share STRICTLY BEFORE each item (`cum−r`), so the item
    that crosses a threshold still belongs to the class it completes;
    rounded shares + (r desc, key) ordering pin the boundary
    cross-engine.

    Scale: the fact table collapses to part grain in one partial-agg
    shuffle; the honest caveat is the cumulative window needs the
    part-grain table globally ordered — fine to ~10⁸ parts as one
    sort; beyond that the standard trick is a two-pass quantile cut
    (find the revenue value at the 80th cumulative percentile from a
    GK sketch, then classify by comparison — no global sort), which
    preserves classes up to boundary ties."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("r")
    )
    wc = Window.orderBy(F.desc("r"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    share_before = r4((F.sum("r").over(wc) - F.col("r")) / F.sum("r").over(wt))
    classed = rev.select(
        "r",
        F.when(share_before < 0.8, "A")
        .when(share_before < 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"), r2(F.sum("r")).alias("revenue")
    )


@register(
    "q_pareto_abc_scaled",
    oracle=_PARETO_ABC_ORACLE,
    priority="P2",
    tags=("agg", "pareto", "abc", "banded", "scale-twin"),
)
def q_pareto_abc_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_pareto_abc`'s scale twin (same oracle, same result,
    test-pinned): the cumulative-revenue sweep via a BANDED running sum
    instead of one unpartitioned window (`operators.banded`), so the
    part-grain table never serializes through a single task. Revenue is
    carried as EXACT integer cents (r is already 2-dp-rounded, so
    ``round(r*100)`` is lossless): per-band partial sums + band offsets
    then compose associatively with no floating-point drift, and the
    threshold ratio is one double division of exact integers, rounded
    4dp before the compare like the contract row.

    Scale: one partial-agg shuffle to part grain, banded window across
    32 parallel tasks, 32-row offset prefix, broadcast scalar total —
    no global sort anywhere."""
    from modforms_db_spark.operators.banded import with_abc_class

    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("r")
    )
    # with_abc_class checkpoints the part-grain table internally: the
    # banding, offsets and the scalar total re-derive from that grain,
    # never from the fact scan.
    return (
        with_abc_class(rev, "r", "l_partkey")
        .groupBy("abc")
        .agg(F.count(F.lit(1)).alias("n_parts"), r2(F.sum("r")).alias("revenue"))
    )


@register(
    "q_share_of_parent",
    oracle=f"""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             {R2('SUM(l.l_extendedprice * (1 - l.l_discount))')} AS revenue
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    ), reg AS (
      SELECT region, {R2('SUM(revenue)')} AS region_rev FROM nat GROUP BY region
    ), tot AS (
      SELECT {R2('SUM(region_rev)')} AS total_rev FROM reg
    )
    SELECT nat.region, nat.nation, nat.revenue,
           {R4('nat.revenue / reg.region_rev')} AS share_of_region,
           {R4('reg.region_rev / tot.total_rev')} AS region_share_of_total
    FROM nat JOIN reg USING (region) CROSS JOIN tot
    """,
    priority="P2",
    tags=("agg", "hierarchy", "share"),
)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent decomposition over the region → nation revenue
    hierarchy: each nation's share of its region AND each region's
    share of the total, in one result — the drill-down ratio `ROLLUP`
    doesn't give you (rollup emits subtotals, not normalized shares).
    Each level's revenue is r2-rounded BEFORE becoming a denominator,
    the shared-inputs rule.

    Scale: the fact table collapses once to nation grain; region and
    grand totals cascade from that aggregate (checkpointed — no
    re-scan), and both ratio joins are against #regions-sized /
    1-row broadcast sides."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .localCheckpoint(eager=False)  # region + total cascade from it
    )
    reg = nat.groupBy("region").agg(r2(F.sum("revenue")).alias("region_rev"))
    tot = reg.agg(r2(F.sum("region_rev")).alias("total_rev"))
    return (
        nat.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "revenue",
            r4(F.col("revenue") / F.col("region_rev")).alias("share_of_region"),
            r4(F.col("region_rev") / F.col("total_rev")).alias("region_share_of_total"),
        )
    )


@register(
    "q_ab_proportions",
    oracle=f"""
    WITH spend AS (
      SELECT user_id, user_id % 2 = 0 AS arm_a,
             CAST(ROUND(CAST(CAST((SUM(value)) AS VARCHAR) AS DECIMAL(38,18)), 10) AS DOUBLE) AS tot
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), med AS (
      SELECT CAST(ROUND(CAST(CAST((quantile_cont(tot, 0.5)) AS VARCHAR) AS DECIMAL(38,18)), 10) AS DOUBLE) AS m FROM spend
    ), assign AS (
      SELECT user_id, arm_a,
             CASE WHEN tot > med.m THEN 1 ELSE 0 END AS converted
      FROM spend CROSS JOIN med
    ), arms AS (
      SELECT CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm_a THEN converted ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN NOT arm_a THEN converted ELSE 0 END) AS BIGINT) AS c_b
      FROM assign
    )
    SELECT n_a, c_a, n_b, c_b,
           {R4('CAST(c_a AS DOUBLE) / n_a')} AS rate_a,
           {R4('CAST(c_b AS DOUBLE) / n_b')} AS rate_b,
           CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN NULL
           ELSE {R4('''(CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b))''')} END AS z_stat
    FROM arms
    """,
    priority="P2",
    tags=("agg", "stats", "abtest", "proportions"),
)
def q_ab_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a binary outcome (is the user's total
    purchase spend above the cohort median — ~50/50 by construction,
    so the pooled variance can't degenerate on real data), arms by
    user-id parity — the binary-outcome companion to `q_ab_ttest`'s
    continuous Welch t: pooled-proportion standard error, exact
    integer counts, one r4-rounded statistic, and an explicit NULL
    when ALL or NO users convert (pooled variance 0 — the guard a
    naive implementation turns into a divide-by-zero, as the first
    draft of this very operator did with an ever-purchased outcome).

    Scale: one user-grain aggregate (shuffle on user_id), a 1-row
    median broadcast, then a 1-row conditional combine — the entire
    test is two aggregates regardless of arm sizes."""
    e = load(spark, sf_dir, "events")
    spend = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 10).alias("tot"))
        .withColumn("arm_a", F.col("user_id") % 2 == 0)
        .localCheckpoint(eager=False)  # median + assignment both read it
    )
    med = spend.agg(F.round(F.percentile("tot", F.lit(0.5)), 10).alias("m"))
    assign = spend.crossJoin(F.broadcast(med)).select(
        "user_id",
        "arm_a",
        (F.col("tot") > F.col("m")).cast("int").alias("converted"),
    )
    arms = assign.agg(
        F.sum(F.col("arm_a").cast("long")).alias("n_a"),
        F.sum(F.when(F.col("arm_a"), F.col("converted")).otherwise(0)).alias("c_a"),
        F.sum((~F.col("arm_a")).cast("long")).alias("n_b"),
        F.sum(F.when(~F.col("arm_a"), F.col("converted")).otherwise(0)).alias("c_b"),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    conv = F.col("c_a") + F.col("c_b")
    pool = conv.cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (ra - rb) / F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z_guarded = F.when(
        (conv == 0) | (conv == F.col("n_a") + F.col("n_b")), F.lit(None)
    ).otherwise(r4(z))
    return arms.select(
        "n_a", "c_a", "n_b", "c_b",
        r4(ra).alias("rate_a"), r4(rb).alias("rate_b"),
        z_guarded.alias("z_stat"),
    )


@register(
    "q_feature_cross",
    oracle="""
    WITH crossed AS (
      SELECT o.o_orderpriority || 'x' || c.c_mktsegment AS cross_key,
             COUNT(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    )
    SELECT CASE WHEN n >= 100 THEN cross_key ELSE 'OTHER' END AS feature,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_raw_keys
    FROM crossed
    GROUP BY 1
    """,
    priority="P2",
    tags=("agg", "feature", "cross"),
)
def q_feature_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical feature crossing with rare-level collapse: the
    (priority × segment) cross, levels under the support threshold
    folded into OTHER (with a count of how many raw keys each output
    level absorbs) — the combinatorial-feature step that controls
    cardinality blowup BEFORE one-hot/hashing; thresholding on exact
    counts keeps the vocabulary deterministic.

    Scale: the cross is the fact join's group-by (cardinality ≤
    |A|×|B|); the collapse is a second tiny aggregate over the crossed
    table. At extreme crosses (3+ columns) the same plan holds — the
    threshold is what keeps the output vocabulary bounded."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    crossed = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.concat(F.col("o_orderpriority"), F.lit("x"), F.col("c_mktsegment")).alias(
                "cross_key"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        crossed.groupBy(
            F.when(F.col("n") >= 100, F.col("cross_key")).otherwise("OTHER").alias("feature")
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_raw_keys"),
        )
    )


@register(
    "q_target_encode_loo",
    oracle=f"""
    WITH stats AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(CAST(ROUND(CAST(CAST((o_totalprice * 100) AS VARCHAR) AS DECIMAL(38,18)), 0) AS DOUBLE) AS BIGINT) AS cents,
             CAST(SUM(CAST(CAST(ROUND(CAST(CAST((o_totalprice * 100) AS VARCHAR) AS DECIMAL(38,18)), 0) AS DOUBLE) AS BIGINT))
                  OVER (PARTITION BY o_orderpriority) AS BIGINT) AS grp_cents,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS grp_n
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN grp_n > 1
                THEN {R4('CAST(grp_cents - cents AS DOUBLE) / ((grp_n - 1) * 100)')}
           END AS te_loo
    FROM stats
    """,
    priority="P2",
    tags=("agg", "feature", "target-encoding"),
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding of order priority against total
    price: each row's encoded value is its group's mean EXCLUDING
    itself ((Σ − own)/(n−1)) — the leakage-free form of mean encoding
    (plain group means leak the row's own target into its feature;
    singleton groups honestly NULL). Group sums r10-rounded before the
    subtraction so both engines difference identical doubles.

    Scale: one window over the group key computes sum and count in a
    single exchange — no self-join, no second pass; the LOO arithmetic
    is per-row map work on the windowed values."""
    o = load(spark, sf_dir, "orders")
    # ORDER-EXACT arithmetic: prices become integer cents before the
    # window sum (r10-rounding group sums was NOT enough — engines sum
    # in different orders and the residue survived to the r4 output,
    # caught live by the parity test), one double division at the end.
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    w = Window.partitionBy("o_orderpriority")
    base = o.select("o_orderkey", "o_orderpriority", cents.alias("cents"))
    grp_cents = F.sum("cents").over(w)
    grp_n = F.count(F.lit(1)).over(w)
    te = F.when(
        grp_n > 1,
        r4((grp_cents - F.col("cents")).cast("double") / ((grp_n - 1) * 100)),
    )
    return base.select("o_orderkey", "o_orderpriority", te.alias("te_loo"))


@register(
    "q_stats_merge_pairwise",
    oracle=f"""
    WITH shard AS (
      SELECT o_orderkey % 8 AS shard_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(ROUND(CAST(CAST((o_totalprice * 100) AS VARCHAR) AS DECIMAL(38,18)), 0) AS DOUBLE) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(CAST(CAST(ROUND(CAST(CAST((o_totalprice * 100) AS VARCHAR) AS DECIMAL(38,18)), 0) AS DOUBLE) AS BIGINT) AS DECIMAL(38,0))
                      * CAST(CAST(ROUND(CAST(CAST((o_totalprice * 100) AS VARCHAR) AS DECIMAL(38,18)), 0) AS DOUBLE) AS BIGINT)) AS DECIMAL(38,0)) AS s2
      FROM orders GROUP BY 1
    ), merged AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(s1) AS BIGINT) AS s1,
             CAST(SUM(s2) AS DECIMAL(38,0)) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_shards
      FROM shard
    )
    SELECT n, n_shards,
           {R4('s1 / (n * 100.0)')} AS mean,
           {R4('''CAST(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1) * 10000.0)''')} AS var_samp
    FROM merged
    """,
    priority="P2",
    tags=("agg", "sketch", "mergeable"),
)
def q_stats_merge_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moment sketches made EXPLICIT: 8 shards each emit
    (n, Σx, Σx²) in exact integer cents, the shard sketches merge by
    plain addition, and mean/variance come out of the merged moments —
    the algebra that makes distributed statistics possible at all
    (Spark's partial aggregation does this implicitly; this row shows
    the sketch as DATA you could persist per partition/day and re-merge
    under any regrouping, the same property `q_bitmap_distinct` shows
    for distinct counts). Integer moments ⇒ merge order irrelevant,
    bit-exact on both engines; the two divisions at emission are the
    only doubles.

    Scale: per-shard sketches are O(1) rows each; re-merging N sketches
    is an N-row aggregate — recomputing statistics over a year from
    daily sketches never touches the facts again."""
    o = load(spark, sf_dir, "orders")
    # Σx² in DECIMAL(38,0): bigint overflows at driver scale (cents² ~
    # 2.5e15/row × 10⁶ rows — an overflow this operator hit live), and
    # the exact decimal numerator n·Σx² − (Σx)² converts to the SAME
    # double on both engines, so no cancellation-parity risk either.
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    shard = o.groupBy((F.col("o_orderkey") % 8).alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents.cast("decimal(38,0)") * cents).cast("decimal(38,0)").alias("s2"),
    )
    merged = shard.agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").cast("decimal(38,0)").alias("s2"),
        F.count(F.lit(1)).alias("n_shards"),
    )
    num = (
        F.col("n") * F.col("s2") - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    ).cast("double")
    return merged.select(
        "n",
        "n_shards",
        r4(F.col("s1") / (F.col("n") * 100.0)).alias("mean"),
        r4(num / (F.col("n").cast("double") * (F.col("n") - 1) * 10000.0)).alias(
            "var_samp"
        ),
    )


@register(
    "q_rfm_segmentation",
    oracle=f"""
    WITH anchor AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    cust AS (
      SELECT o_custkey AS c,
             CAST(date_diff('day', MAX(o_orderdate), anchor.mx) AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {R2('SUM(o_totalprice)')} AS monetary
      FROM orders CROSS JOIN anchor
      GROUP BY o_custkey, anchor.mx
    ), scored AS (
      SELECT c, recency_days, n_orders, monetary,
             5 - ntile(4) OVER (ORDER BY recency_days, c) AS r_score,
             ntile(4) OVER (ORDER BY n_orders, c) AS f_score,
             ntile(4) OVER (ORDER BY monetary, c) AS m_score
      FROM cust
    )
    SELECT c AS c_custkey, recency_days, n_orders, monetary,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
    FROM scored
    """,
    priority="P2",
    tags=("agg", "segmentation", "rfm", "banded"),
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile scores for Recency (days
    since last order, against the dataset's max order date as the
    deterministic anchor), Frequency (order count) and Monetary (total
    spend), combined into the classic 3-digit RFM cell — the
    segmentation every CRM/lifecycle analysis starts from.

    All three quartile assignments are EXACT ntile(4) computed via
    banded global row numbers (`operators.banded`, same machinery as
    the `_scaled` twins) — customer grain is ~1.5·SF·10⁵ here but 10⁹
    at warehouse scale, and three unpartitioned ntile windows would
    each serialize it through one task; three banded passes + integer
    tile arithmetic keep every stage parallel with only ≤32-row offset
    windows.

    Scale: one partial-agg pass over orders to customer grain
    (checkpointed — the three banded rank passes and the count re-read
    that grain, never the fact table)."""
    from modforms_db_spark.operators.banded import ntile_from_rn, with_banded_order

    o = load(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            r2(F.sum("o_totalprice")).alias("monetary"),
        )
        .localCheckpoint(eager=False)
    )
    n_df = cust.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    d = with_banded_order(cust, "recency_days", ["c"], rn_name="_rn_r")
    d = with_banded_order(d, "n_orders", ["c"], rn_name="_rn_f")
    d = with_banded_order(d, "monetary", ["c"], rn_name="_rn_m")
    d = d.crossJoin(F.broadcast(n_df))
    n = F.col("_n")
    r_score = 5 - ntile_from_rn(F.col("_rn_r"), n, 4)
    f_score = ntile_from_rn(F.col("_rn_f"), n, 4)
    m_score = ntile_from_rn(F.col("_rn_m"), n, 4)
    return d.select(
        F.col("c").alias("c_custkey"),
        "recency_days",
        "n_orders",
        "monetary",
        r_score.cast("bigint").alias("r_score"),
        f_score.cast("bigint").alias("f_score"),
        m_score.cast("bigint").alias("m_score"),
        (r_score * 100 + f_score * 10 + m_score).cast("bigint").alias("rfm"),
    )


_WILSON_Z2 = "3.8416"  # z² for z = 1.96 (95% two-sided), exact decimal


@register(
    "q_wilson_ranking",
    oracle=f"""
    WITH s AS (
      SELECT l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem GROUP BY l_suppkey
    ), sc AS (
      SELECT l_suppkey, n, k,
             {R4('k * 1.0 / n')} AS p_hat,
             {R4(f'''(k * 1.0 / n + {_WILSON_Z2} / (2 * n)
                  - SQRT({_WILSON_Z2}) * SQRT((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                        + {_WILSON_Z2} / (4 * n * n)))
                 / (1 + {_WILSON_Z2} / n)''')} AS wilson_lo
      FROM s
    )
    SELECT l_suppkey, n, k, p_hat, wilson_lo, rk FROM (
      SELECT *, row_number() OVER (ORDER BY wilson_lo DESC, l_suppkey) AS rk
      FROM sc
    ) WHERE rk <= 20
    """,
    priority="P2",
    tags=("agg", "ranking", "wilson", "proportion"),
)
def q_wilson_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportion ranking with CONFIDENCE: top-20 suppliers by the
    Wilson-score LOWER bound of their non-return rate (l_returnflag ≠
    'R', z=1.96) — the ranking that doesn't let a 3-for-3
    supplier outrank a 950-for-1000 one, the standard fix for sorting
    by raw success rate (review scores, vendor SLAs, variant win
    rates). The bound is rounded 4dp before ranking with a suppkey
    tiebreak, so cross-engine float noise can't reorder.

    Scale: one partial-agg pass to supplier grain; the top-20 is
    orderBy+limit (TakeOrdered), the rank window runs over 20 rows."""
    li = load(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("l_returnflag") != "R").cast("long"))
        .cast("bigint")
        .alias("k"),
    )
    z2 = float(_WILSON_Z2)
    p = F.col("k") * 1.0 / F.col("n")
    n = F.col("n")
    wilson_lo = r4(
        (p + z2 / (2 * n)
         - F.sqrt(F.lit(z2)) * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n)))
        / (1 + z2 / n)
    )
    sc = s.select("l_suppkey", "n", "k", r4(p).alias("p_hat"), wilson_lo.alias("wilson_lo"))
    top = sc.orderBy(F.desc("wilson_lo"), "l_suppkey").limit(20)
    w = Window.orderBy(F.desc("wilson_lo"), "l_suppkey")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "l_suppkey", "n", "k", "p_hat", "wilson_lo", "rk"
    )


@register(
    "q_abc_xyz",
    oracle=f"""
    WITH wk AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS week,
             {R2('SUM(l_quantity)')} AS qty,
             {R2('SUM(l_extendedprice * (1 - l_discount))')} AS rev
      FROM lineitem GROUP BY l_partkey, date_trunc('week', l_shipdate)
    ), part AS (
      SELECT l_partkey, {R2('SUM(rev)')} AS r,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             SUM(qty) AS sd, SUM(qty * qty) AS sd2
      FROM wk GROUP BY l_partkey
    ), xyz AS (
      SELECT l_partkey, r,
             {R4('''SQRT(GREATEST(0.0, sd2 / n_obs - (sd / n_obs) * (sd / n_obs)))
                 / (sd / n_obs)''')} AS cv
      FROM part
    ), ranked AS (
      SELECT l_partkey, r, cv,
             SUM(r) OVER (ORDER BY r DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r,
             SUM(r) OVER () AS tot
      FROM xyz
    ), classed AS (
      SELECT CASE WHEN {R4('(cum_r - r) / tot')} < 0.8 THEN 'A'
                  WHEN {R4('(cum_r - r) / tot')} < 0.95 THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN cv < 0.55 THEN 'X' WHEN cv < 0.65 THEN 'Y' ELSE 'Z' END AS xyz,
             r
      FROM ranked
    )
    SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts, {R2('SUM(r)')} AS revenue
    FROM classed GROUP BY abc, xyz
    """,
    priority="P2",
    tags=("agg", "pareto", "abc-xyz", "banded"),
)
def q_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory matrix — the two-axis classification supply
    planning runs: ABC = revenue concentration (strictly-before
    cumulative share, as `q_pareto_abc`), XYZ = demand VARIABILITY
    (ACTIVE-week demand cv: X < 0.55 steady, Y < 0.65 moderate, else Z
    erratic — bounds explained below). An A/Z cell (high value, erratic demand) is where
    safety stock goes; C/X is where automation goes.

    The variability axis uses the cv over each part's ACTIVE weeks
    (intermittent-demand practice): this demand is sparse-in-time (~30
    active weeks out of ~340), so the textbook zero-week-inclusive cv
    sends every part past any threshold and the axis classifies
    nothing (verified — the vacuity lesson); active-week cv spreads
    0.47–0.70 here and the X/Y/Z bounds (0.55/0.65) are calibrated so
    all classes are exercised (non-vacuity is test-pinned; the bounds
    are a policy knob in any deployment). σ comes from Σd/Σd² moments
    (E[x²]−μ²), the cv is 4-dp-rounded before its class compare, and
    the cumulative revenue runs in exact integer cents through the
    banded window (`operators.banded` — no global sort), the
    `q_pareto_abc_scaled` machinery.

    Scale: ONE fact scan to the checkpointed (part, week) grain; part
    grain, week count, revenue ranks and demand moments all re-derive
    from it."""
    from modforms_db_spark.operators.banded import with_abc_class

    li = load(spark, sf_dir, "lineitem")
    wk = (
        li.groupBy(
            "l_partkey", F.date_trunc("week", "l_shipdate").alias("week")
        )
        .agg(
            r2(F.sum("l_quantity")).alias("qty"),
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "rev"
            ),
        )
    )
    part = wk.groupBy("l_partkey").agg(
        r2(F.sum("rev")).alias("r"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("qty").alias("sd"),
        F.sum(F.col("qty") * F.col("qty")).alias("sd2"),
    )
    mu = F.col("sd") / F.col("n_obs")
    cv = r4(
        F.sqrt(F.greatest(F.lit(0.0), F.col("sd2") / F.col("n_obs") - mu * mu)) / mu
    )
    xyz_df = part.select("l_partkey", "r", cv.alias("cv"))
    classed = with_abc_class(xyz_df, "r", "l_partkey").select(
        "r",
        "abc",
        F.when(F.col("cv") < 0.55, "X")
        .when(F.col("cv") < 0.65, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        r2(F.sum("r")).alias("revenue"),
    )


_KMV_K = 32  # k-minimum-values sketch size
_KMV_SPACE = float(1 << 48)  # 12 hex chars of md5 → [0, 2^48)
_KMV_U = (
    "CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT)"
)
_KMV_EST_SQL = R4(
    f"COALESCE(({_KMV_K} - 1) * {_KMV_SPACE!r} / uk, n_exact * 1.0)"
)


@register(
    "q_agg_kmv_distinct",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS grp, o_custkey,
             {_KMV_U} AS u
      FROM orders
    ), per AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_exact FROM d GROUP BY grp
    ), kth AS (
      SELECT grp, u AS uk FROM (
        SELECT grp, u, row_number() OVER (PARTITION BY grp
          ORDER BY u, o_custkey) AS rn FROM d
      ) WHERE rn = {_KMV_K}
    ), au AS (
      SELECT DISTINCT o_custkey, {_KMV_U} AS u FROM orders
    ), aper AS (
      SELECT CAST('ALL' AS VARCHAR) AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_exact FROM au
    ), akth AS (
      SELECT CAST('ALL' AS VARCHAR) AS grp, u AS uk FROM (
        SELECT u, row_number() OVER (ORDER BY u, o_custkey) AS rn FROM au
      ) WHERE rn = {_KMV_K}
    ), joined AS (
      SELECT per.grp, n_exact, uk FROM per LEFT JOIN kth USING (grp)
      UNION ALL
      SELECT aper.grp, n_exact, uk FROM aper LEFT JOIN akth USING (grp)
    )
    SELECT grp, n_exact,
           uk IS NULL AS exact_regime,
           {_KMV_EST_SQL} AS n_est,
           {R4(f"ABS({_KMV_EST_SQL} - n_exact) / n_exact")} AS rel_err
    FROM joined
    """,
    priority="P2",
    tags=("aggregate", "sketch", "distinct"),
)
def q_agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch audit
    (Bar-Yossef et al. 2002): per order-month, estimate the distinct
    customer count from the {_KMV_K} smallest md5 hash values —
    est = (k−1)·H/u_k with H the hash space — beside the exact count
    and relative error; plus an ALL row whose sketch is the MERGE of
    the per-month sketches (bottom-k of a union = bottom-k of the
    pooled minima — the mergeability HLL shares but with an exact,
    oracle-able definition). Groups with fewer than k values carry the
    sketch itself and are EXACT (`exact_regime` — both regimes present
    at the gate scale: months span 2–212 customers).

    Determinism: u = first 12 hex chars of md5(custkey) as an integer —
    bit-identical both engines; the kth value is selected with a
    (u, custkey) tiebreak so even a hash collision cannot reorder.

    Scale: one distinct shuffle to (month, custkey) grain; per-group
    kth-minimum via a month-partitioned window (bounded groups); the
    global kth via orderBy().limit(k) TakeOrdered — never a global
    window. At 100 TB the per-partition bottom-k is a map-side
    aggregate and only k values per group ever cross the wire — the
    point of the sketch."""
    o = load(spark, sf_dir, "orders")
    u = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    d = (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("grp"), "o_custkey"
        )
        .distinct()
        .select("grp", "o_custkey", u.alias("u"))
        .localCheckpoint(eager=False)  # per-month legs + the ALL sketch
    )
    per = d.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    w = Window.partitionBy("grp").orderBy("u", "o_custkey")
    kth = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == _KMV_K)
        .select("grp", F.col("u").alias("uk"))
    )
    au = d.select("o_custkey", "u").distinct()
    aper = au.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact")).select(
        F.lit("ALL").alias("grp"), "n_exact"
    )
    # Sub-k ALL sketch must fall back to the exact regime like the
    # per-month legs: max(u) over a LIMIT k frame with fewer than k rows
    # is the overall max, not the kth minimum — null it out (review
    # finding; latent at shipped SFs, live on any <k-customer slice).
    akth = (
        au.orderBy("u", "o_custkey")
        .limit(_KMV_K)
        .agg(
            F.when(F.count(F.lit(1)) >= _KMV_K, F.max("u")).alias("uk")
        )
        .select(F.lit("ALL").alias("grp"), "uk")
    )
    joined = per.join(kth, "grp", "left").unionByName(
        aper.join(akth, "grp", "left")
    )
    n_est = r4(
        F.coalesce(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("uk"),
            F.col("n_exact") * 1.0,
        )
    )
    return joined.select(
        "grp",
        "n_exact",
        F.col("uk").isNull().alias("exact_regime"),
        n_est.alias("n_est"),
        r4(F.abs(n_est - F.col("n_exact")) / F.col("n_exact")).alias("rel_err"),
    )


@register(
    "q_feature_mi",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS status,
             CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM orders GROUP BY 1, 2
    ), m AS (
      SELECT pri, status, n_xy,
             CAST(SUM(n_xy) OVER (PARTITION BY pri) AS BIGINT) AS n_x,
             CAST(SUM(n_xy) OVER (PARTITION BY status) AS BIGINT) AS n_y,
             CAST(SUM(n_xy) OVER () AS BIGINT) AS n
      FROM c
    ), t AS (
      SELECT pri, status, n_xy, n_x, n_y, n,
             {R4('n_xy * 1.0 / n')} AS p_xy,
             {R4('ln(n_xy * 1.0 * n / (n_x * 1.0 * n_y))')} AS pmi,
             {R4('(n_xy * 1.0 / n) * ln(n_xy * 1.0 * n / (n_x * 1.0 * n_y))')}
               AS mi_term
      FROM m
    )
    SELECT pri, status, n_xy, n_x, n_y, n, p_xy, pmi, mi_term,
           {R4('SUM(mi_term) OVER ()')} AS mi_total
    FROM t
    """,
    priority="P2",
    tags=("aggregate", "statistics", "feature-selection"),
)
def q_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (order
    priority × order status) from the exact contingency table: per cell
    the joint count, margins, PMI, and MI term p(x,y)·ln(p(x,y)/
    (p(x)p(y))), plus the total MI — the dependence measure feature
    selection ranks candidate features by (beside the chi-square family
    `q_ab_proportions`/`q_srm_check` and `q_term_pmi`'s token-grain
    PMI). All inputs to the logs are exact integers; each term is
    r4-rounded and the total follows `q_srm_check`'s rounded-term-sum
    window precedent.

    Scale: ONE map-side-combined groupBy to the (x, y) grain; margins
    and the total are windows over the contingency frame itself —
    bounded by the label-vocabulary product (15 cells here), never by
    row count, the `q_share_of_parent` discipline. Nothing but the
    grid ever leaves the first aggregation."""
    o = load(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    wx = Window.partitionBy("pri")
    wy = Window.partitionBy("status")
    wall = Window.partitionBy()
    m = c.select(
        "pri",
        "status",
        "n_xy",
        F.sum("n_xy").over(wx).cast("bigint").alias("n_x"),
        F.sum("n_xy").over(wy).cast("bigint").alias("n_y"),
        F.sum("n_xy").over(wall).cast("bigint").alias("n"),
    )
    pmi = F.log(
        F.col("n_xy") * 1.0 * F.col("n") / (F.col("n_x") * 1.0 * F.col("n_y"))
    )
    t = m.select(
        "pri",
        "status",
        "n_xy",
        "n_x",
        "n_y",
        "n",
        r4(F.col("n_xy") * 1.0 / F.col("n")).alias("p_xy"),
        r4(pmi).alias("pmi"),
        r4((F.col("n_xy") * 1.0 / F.col("n")) * pmi).alias("mi_term"),
    )
    return t.select(
        "*", r4(F.sum("mi_term").over(wall)).alias("mi_total")
    )


_BOOT_B = 32  # Poisson-bootstrap resamples
# Poisson(1) CDF quantized to parts-per-million: a hash draw m ∈ [0, 1e6)
# maps to resample weight w = #{thresholds <= m}; exact integer compares,
# so both engines draw the SAME weight for the same (orderkey, b).
_BOOT_CDF = (367879, 735759, 919699, 981012, 996340, 999406)
_BOOT_W_SQL = (
    "(CASE WHEN m < 367879 THEN 0 WHEN m < 735759 THEN 1"
    " WHEN m < 919699 THEN 2 WHEN m < 981012 THEN 3"
    " WHEN m < 996340 THEN 4 WHEN m < 999406 THEN 5 ELSE 6 END)"
)


@register(
    "q_bootstrap_poisson",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS pri, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), pt AS (
      SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_orders,
             {R4('SUM(cents) * 1.0 / COUNT(*) / 100')} AS point_mean
      FROM base GROUP BY pri
    ), draws AS (
      SELECT pri, cents, b,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
               || '_' || CAST(b AS VARCHAR)), 1, 6)) AS BIGINT)
               % 1000000 AS m
      FROM base, unnest(generate_series(0, {_BOOT_B - 1})) AS t(b)
    ), cells AS (
      SELECT pri, b,
             {R4(f'SUM({_BOOT_W_SQL} * cents) * 1.0'
                 f' / SUM({_BOOT_W_SQL}) / 100')} AS mean_b
      FROM draws WHERE {_BOOT_W_SQL} > 0 GROUP BY pri, b
    ), ranked AS (
      SELECT pri, mean_b,
             row_number() OVER (PARTITION BY pri ORDER BY mean_b, b) AS rn
      FROM cells
    ), ci AS (
      SELECT pri,
             MAX(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
             MAX(CASE WHEN rn = {_BOOT_B - 1} THEN mean_b END) AS ci_hi
      FROM ranked GROUP BY pri
    )
    SELECT pt.pri, n_orders, point_mean, ci_lo, ci_hi,
           {R4('ci_hi - ci_lo')} AS ci_width
    FROM pt JOIN ci ON pt.pri = ci.pri
    """,
    priority="P2",
    tags=("aggregate", "statistics", "bootstrap"),
)
def q_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value
    per priority (Chamandy et al. 2012, "Estimating uncertainty for
    massive data streams" — the bootstrap that works in ONE distributed
    pass: each row joins resample b with weight ~ Poisson(1),
    independently per row, so no global resample coordination): 32
    resample means per group, CI = the [2nd, 31st] order statistics
    (the ~94% interval). Every draw is a deterministic md5 hash mapped
    through the integer-quantized Poisson CDF — both engines draw
    identical weights, and the CI bounds are order statistics of
    ROUNDED means with a b tiebreak, so no float-summation-order term
    exists anywhere (the reason this op reports order-statistic CIs
    rather than a bootstrap stddev).

    Scale: the point estimate and the resample explode share one
    checkpointed (pri, orderkey, cents) projection — one orders scan;
    the explode is ×32 but filters w=0 draws (36.8%) before the
    shuffle, and the per-(pri, b) sums are exact-integer map-side
    combines; the final window runs over 32 rows per group."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("pri"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).localCheckpoint(eager=False)  # point estimate + resample explode
    pt = base.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        r4(F.sum("cents") * 1.0 / F.count(F.lit(1)) / 100).alias("point_mean"),
    )
    m = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("_"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    w = (
        F.when(m < _BOOT_CDF[0], 0)
        .when(m < _BOOT_CDF[1], 1)
        .when(m < _BOOT_CDF[2], 2)
        .when(m < _BOOT_CDF[3], 3)
        .when(m < _BOOT_CDF[4], 4)
        .when(m < _BOOT_CDF[5], 5)
        .otherwise(6)
        .cast("bigint")
    )
    draws = (
        base.select(
            "pri",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
            "o_orderkey",
        )
        .select("pri", "cents", "b", w.alias("w"))
        .where(F.col("w") > 0)
    )
    cells = draws.groupBy("pri", "b").agg(
        r4(F.sum(F.col("w") * F.col("cents")) * 1.0 / F.sum("w") / 100).alias(
            "mean_b"
        )
    )
    wr = Window.partitionBy("pri").orderBy("mean_b", "b")
    ranked = cells.withColumn("rn", F.row_number().over(wr))
    ci = ranked.groupBy("pri").agg(
        F.max(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == _BOOT_B - 1, F.col("mean_b"))).alias(
            "ci_hi"
        ),
    )
    return pt.join(ci, "pri").select(
        "pri",
        "n_orders",
        "point_mean",
        "ci_lo",
        "ci_hi",
        r4(F.col("ci_hi") - F.col("ci_lo")).alias("ci_width"),
    )


@register(
    "q_agg_listagg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    priority="P2",
    tags=("aggregate", "string", "api"),
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`listagg(...) WITHIN GROUP (ORDER BY ...)` — the SQL:2016
    ordered string aggregation added natively in Spark 4.0, as a
    first-class API row beside `q_agg_string`'s composed form
    (collect_list → array_sort → array_join, the pre-4.0 idiom). Same
    semantics, one call; the oracle is DuckDB's `string_agg(...ORDER
    BY)`. The row pins that the native form stays deterministic: the
    WITHIN GROUP order is part of the aggregate, so shuffle layout
    cannot reorder the joined string.

    Scale: broadcast dim join + map-side-combinable ordered aggregate
    over bounded per-group lists (25 nations / 5 regions) — the label
    assembly shape; a data-sized group would cap or bucket first."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    j.createOrReplaceTempView("mfdb_listagg_nr")
    return spark.sql(
        """
        SELECT r_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                 AS nations,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM mfdb_listagg_nr GROUP BY r_name
        """
    )


_COLLAPSE_K = 40  # keep the top-K categories, collapse the tail


@register(
    "q_rare_collapse",
    oracle=f"""
    WITH g AS (
      SELECT p_brand, p_type, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM part GROUP BY 1, 2
    ), topk AS (
      SELECT p_brand, p_type FROM g
      ORDER BY c DESC, p_brand, p_type LIMIT {_COLLAPSE_K}
    )
    SELECT CASE WHEN t.p_brand IS NOT NULL
                THEN g.p_brand || '/' || g.p_type
                ELSE '__other__' END AS category,
           CAST(SUM(g.c) AS BIGINT) AS n_parts,
           CAST(COUNT(*) AS BIGINT) AS n_source_cats,
           {R2('SUM(g.cents) / (100.0 * SUM(g.c))')} AS avg_price
    FROM g LEFT JOIN topk t
      ON g.p_brand = t.p_brand AND g.p_type = t.p_type
    GROUP BY 1
    """,
    priority="P2",
    tags=("aggregate", "feature-eng", "category"),
)
def q_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category collapse (the keep-top-K encoder step): the
    brand × type cross feature keeps its {_COLLAPSE_K} most frequent
    categories and folds the long tail into `__other__` — the
    cardinality cap applied before one-hot/target encoding so unseen
    or rare levels cannot blow up the feature space. Deterministic
    boundary: ties at rank K break on (count DESC, brand, type).
    106–150 source categories exist at the shipped SFs, so both the
    kept and collapsed branches are always live.

    Scale: one scan to the bounded (brand, type) grain (map-side
    combined, exact integer cents); the top-K frame is
    `orderBy().limit(K)` — TakeOrdered, never a global window — and
    the membership join + re-aggregate run entirely on the
    category-domain-bounded frame.
    """
    p = load(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
    g = (
        p.groupBy("p_brand", "p_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum(cents).cast("bigint").alias("cents"),
        )
        .localCheckpoint(eager=False)  # top-K election + membership join
    )
    topk = (
        g.orderBy(F.col("c").desc(), "p_brand", "p_type")
        .limit(_COLLAPSE_K)
        .select("p_brand", "p_type", F.lit(True).alias("kept"))
    )
    j = g.join(F.broadcast(topk), ["p_brand", "p_type"], "left")
    category = F.when(
        F.col("kept"), F.concat_ws("/", "p_brand", "p_type")
    ).otherwise(F.lit("__other__"))
    return j.groupBy(category.alias("category")).agg(
        F.sum("c").cast("bigint").alias("n_parts"),
        F.count(F.lit(1)).cast("bigint").alias("n_source_cats"),
        r2(F.sum("cents") / (100.0 * F.sum("c"))).alias("avg_price"),
    )


_FHASH_B = 32  # 2^5 hash buckets; sign bit is hash bit 5


@register(
    "q_feature_hashing",
    oracle=f"""
    WITH f AS (
      SELECT feat, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT 'b=' || p_brand AS feat FROM part
        UNION ALL
        SELECT 't=' || p_type AS feat FROM part
      ) GROUP BY 1
    ), h AS (
      SELECT feat, n,
             CAST(('0x' || substr(md5(feat), 1, 12)) AS BIGINT) AS u
      FROM f
    ), b AS (
      SELECT u % {_FHASH_B} AS bucket,
             CAST(SUM(n) AS BIGINT) AS n_hits,
             CAST(COUNT(*) AS BIGINT) AS n_feature_values,
             CAST(SUM(CASE WHEN (u >> 5) & 1 = 0 THEN n ELSE -n END)
                  AS BIGINT) AS signed_sum
      FROM h GROUP BY 1
    )
    SELECT s.bucket,
           COALESCE(n_hits, 0) AS n_hits,
           COALESCE(n_feature_values, 0) AS n_feature_values,
           COALESCE(signed_sum, 0) AS signed_sum,
           COALESCE(n_feature_values, 0) > 1 AS collision
    FROM (SELECT UNNEST(generate_series(0, {_FHASH_B - 1})) AS bucket) s
    LEFT JOIN b ON b.bucket = s.bucket
    """,
    priority="P2",
    tags=("aggregate", "feature-eng", "hashing"),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009):
    categorical features (brand, type) hash into {_FHASH_B} buckets
    with a ±1 sign bit, producing the signed per-bucket accumulator a
    linear model trains on — no vocabulary, fixed width, collisions
    accounted (`collision` = bucket carries >1 distinct source value;
    the signed sum is the trick's unbiasedness device). Dense spine:
    every bucket row exists even when nothing hashed into it (zero
    hits keep the vector width honest — house curve/report rule).

    Determinism: u = first 12 hex chars of md5(feature string), the
    KMV device; bucket = u mod B, sign = hash bit 5 — exact integer
    arithmetic, bit-identical in both engines.

    Scale: one pass per feature column folded into a single union scan
    (column-pruned), map-side combined to the bounded feature-value
    grain BEFORE hashing, so the bucket aggregate sees vocabulary-
    not row-count; the spine join is a {_FHASH_B}-row broadcast.
    """
    p = load(spark, sf_dir, "part")
    feats = p.selectExpr(
        "stack(2, concat('b=', p_brand), concat('t=', p_type)) AS (feat)"
    )
    f = feats.groupBy("feat").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    u = F.conv(F.substring(F.md5(F.col("feat")), 1, 12), 16, 10).cast("bigint")
    h = f.select("feat", "n", u.alias("u"))
    sign_neg = F.shiftright(F.col("u"), 5) % 2 == 1
    b = h.groupBy((F.col("u") % _FHASH_B).alias("bucket")).agg(
        F.sum("n").cast("bigint").alias("n_hits"),
        F.count(F.lit(1)).cast("bigint").alias("n_feature_values"),
        F.sum(F.when(sign_neg, -F.col("n")).otherwise(F.col("n")))
        .cast("bigint")
        .alias("signed_sum"),
    )
    spine = spark.range(_FHASH_B).select(F.col("id").alias("bucket"))
    return spine.join(F.broadcast(b), "bucket", "left").select(
        "bucket",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.coalesce("n_feature_values", F.lit(0))
        .cast("bigint")
        .alias("n_feature_values"),
        F.coalesce("signed_sum", F.lit(0)).cast("bigint").alias("signed_sum"),
        (F.coalesce("n_feature_values", F.lit(0)) > 1).alias("collision"),
    )


# q_sketch_set_ops reuses the KMV device (_KMV_K, _KMV_SPACE, md5
# 12-hex) — same sketch, different algebra: union via merged bottom-k,
# intersection via inclusion-exclusion on the ROUNDED estimates.
_SKO_U = "CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT)"
_SKO_EST = f"COALESCE(({_KMV_K} - 1) * {_KMV_SPACE!r} / uk, n_exact * 1.0)"


@register(
    "q_sketch_set_ops",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT o_orderstatus AS st, o_custkey, {_SKO_U} AS u
      FROM orders
    ), per AS (
      SELECT st, CAST(COUNT(*) AS BIGINT) AS n_exact FROM d GROUP BY st
    ), kth AS (
      SELECT st, u AS uk FROM (
        SELECT st, u, row_number() OVER (PARTITION BY st
          ORDER BY u, o_custkey) AS rn FROM d
      ) WHERE rn = {_KMV_K}
    ), leg AS (
      SELECT per.st, n_exact, uk, {R4(_SKO_EST)} AS est
      FROM per LEFT JOIN kth USING (st)
    ), pairs AS (
      SELECT a.st AS sa, b.st AS sb, a.n_exact AS exact_a,
             b.n_exact AS exact_b, a.est AS est_a, b.est AS est_b
      FROM leg a JOIN leg b ON a.st < b.st
    ), ud AS (
      SELECT p.sa, p.sb, d.o_custkey, d.u
      FROM pairs p JOIN d ON d.st IN (p.sa, p.sb)
      GROUP BY 1, 2, 3, 4
    ), uper AS (
      SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM ud GROUP BY 1, 2
    ), ukth AS (
      SELECT sa, sb, u AS uk FROM (
        SELECT sa, sb, u, row_number() OVER (PARTITION BY sa, sb
          ORDER BY u, o_custkey) AS rn FROM ud
      ) WHERE rn = {_KMV_K}
    ), un AS (
      SELECT uper.sa, uper.sb, n_exact AS exact_union,
             {R4(_SKO_EST)} AS est_union
      FROM uper LEFT JOIN ukth USING (sa, sb)
    ), inter AS (
      SELECT a.st AS sa, b.st AS sb, CAST(COUNT(*) AS BIGINT)
        AS exact_intersect
      FROM d a JOIN d b
        ON a.o_custkey = b.o_custkey AND a.st < b.st
      GROUP BY 1, 2
    )
    SELECT p.sa || '&' || p.sb AS pair,
           exact_a, exact_b, exact_union,
           COALESCE(exact_intersect, 0) AS exact_intersect,
           est_a, est_b, est_union,
           {R4('est_a + est_b - est_union')} AS est_intersect
    FROM pairs p
    JOIN un ON un.sa = p.sa AND un.sb = p.sb
    LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
    """,
    priority="P2",
    tags=("aggregate", "sketch", "setops"),
)
def q_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on KMV distinct sketches: for every pair of order
    statuses, the estimated distinct-customer size of each side, of
    their UNION (bottom-k of the pooled sketch — the mergeability that
    makes KMV a one-pass distributed structure), and of their
    INTERSECTION via inclusion–exclusion on the rounded estimates —
    each beside its exact truth. The exact legs double as the oracle
    for the estimator's accuracy; the sub-k regime null-guards `uk`
    and falls back to the exact count (same review-hardened rule as
    `q_agg_kmv_distinct`, pinned by a tiny-parquet law test).

    Scale: one distinct shuffle to (status, custkey) grain feeds
    every leg off a checkpoint; per-set and per-pair kth-minima are
    windows over STATUS-bounded groups (3 statuses / 3 pairs); the
    exact-intersection self-join runs on the deduplicated key grain.
    At 100 TB only k hashes per set cross the wire for the sketch
    legs — the point of the sketch; the exact legs are the audit.
    """
    o = load(spark, sf_dir, "orders")
    u = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12), 16, 10
    ).cast("bigint")
    d = (
        o.select(F.col("o_orderstatus").alias("st"), "o_custkey")
        .distinct()
        .select("st", "o_custkey", u.alias("u"))
        .localCheckpoint(eager=False)  # per-set, union, intersect legs
    )
    per = d.groupBy("st").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    w = Window.partitionBy("st").orderBy("u", "o_custkey")
    kth = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == _KMV_K)
        .select("st", F.col("u").alias("uk"))
    )
    est = r4(
        F.coalesce(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col("uk"),
            F.col("n_exact") * 1.0,
        )
    )
    leg = per.join(kth, "st", "left").select("st", "n_exact", est.alias("est"))
    a, b = leg.alias("a"), leg.alias("b")
    pairs = a.join(b, F.col("a.st") < F.col("b.st")).select(
        F.col("a.st").alias("sa"),
        F.col("b.st").alias("sb"),
        F.col("a.n_exact").alias("exact_a"),
        F.col("b.n_exact").alias("exact_b"),
        F.col("a.est").alias("est_a"),
        F.col("b.est").alias("est_b"),
    )
    ud = (
        F.broadcast(pairs.select("sa", "sb"))
        .join(d, (d["st"] == F.col("sa")) | (d["st"] == F.col("sb")))
        .select("sa", "sb", "o_custkey", "u")
        .distinct()
    )
    uper = ud.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    wu = Window.partitionBy("sa", "sb").orderBy("u", "o_custkey")
    ukth = (
        ud.withColumn("rn", F.row_number().over(wu))
        .where(F.col("rn") == _KMV_K)
        .select("sa", "sb", F.col("u").alias("uk"))
    )
    un = (
        uper.join(ukth, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            F.col("n_exact").alias("exact_union"),
            est.alias("est_union"),
        )
    )
    da, db = d.alias("da"), d.alias("db")
    inter = (
        da.join(
            db,
            (F.col("da.o_custkey") == F.col("db.o_custkey"))
            & (F.col("da.st") < F.col("db.st")),
        )
        .groupBy(F.col("da.st").alias("sa"), F.col("db.st").alias("sb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersect"))
    )
    out = (
        pairs.join(un, ["sa", "sb"])
        .join(inter, ["sa", "sb"], "left")
        .select(
            F.concat_ws("&", "sa", "sb").alias("pair"),
            "exact_a",
            "exact_b",
            "exact_union",
            F.coalesce("exact_intersect", F.lit(0))
            .cast("bigint")
            .alias("exact_intersect"),
            "est_a",
            "est_b",
            "est_union",
            r4(F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersect"
            ),
        )
    )
    return out


_CHI2_CRIT_DF8 = 15.507  # chi-square 0.95 quantile, df = 8
_CHI2_DEP_SEGS = ("AUTOMOBILE", "BUILDING")  # planted-dependence slice


@register(
    "q_chi2_independence",
    oracle=f"""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderstatus AS st
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), t AS (
      SELECT 'organic' AS test, seg, st FROM j
      UNION ALL
      SELECT 'planted', seg,
             CASE WHEN seg IN ('AUTOMOBILE', 'BUILDING') THEN 'F'
                  ELSE st END
      FROM j
    ), cell AS (
      SELECT test, seg, st, CAST(COUNT(*) AS BIGINT) AS o
      FROM t GROUP BY 1, 2, 3
    ), rm AS (
      SELECT test, seg, CAST(SUM(o) AS BIGINT) AS r FROM cell GROUP BY 1, 2
    ), cm AS (
      SELECT test, st, CAST(SUM(o) AS BIGINT) AS c FROM cell GROUP BY 1, 2
    ), nn AS (
      SELECT test, CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT seg) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT st) AS BIGINT) AS nc
      FROM cell GROUP BY 1
    ), grid AS (
      SELECT rm.test, rm.seg, cm.st, rm.r, cm.c, nn.n, nn.nr, nn.nc,
             COALESCE(cell.o, 0) AS o
      FROM rm JOIN cm ON rm.test = cm.test
      JOIN nn ON rm.test = nn.test
      LEFT JOIN cell ON cell.test = rm.test AND cell.seg = rm.seg
                    AND cell.st = cm.st
    ), stat AS (
      SELECT test, MAX(n) AS n, MAX(nr) AS nr, MAX(nc) AS nc,
             {R4('SUM(POW(o - r * 1.0 * c / n, 2) / (r * 1.0 * c / n))')}
               AS chi2
      FROM grid GROUP BY test
    )
    SELECT test, n,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
           chi2,
           chi2 > {_CHI2_CRIT_DF8!r} AS reject,
           {R4(f'SQRT(chi2 / (n * LEAST(nr - 1, nc - 1)))')} AS cramers_v
    FROM stat
    """,
    priority="P2",
    tags=("aggregate", "statistics", "test"),
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence on the market-segment ×
    order-status contingency table, with Cramér's V effect size —
    the categorical-association sibling of `q_ab_proportions` (2×2
    z-test) and `q_feature_mi` (information-theoretic): observed cell
    counts vs expected row·col/n margins, df = (r−1)(c−1) = 8,
    α = 0.05 critical value {_CHI2_CRIT_DF8}. The organic table is
    independent by fixture construction (accept); a planted test
    collapses two segments' status onto 'F' (reject) — both verdict
    directions live at every SF by construction, the `q_ks_test`
    device. Dense expected grid: absent cells enter as o = 0 (a
    missing cell is evidence AGAINST independence, not missing data).

    All counts are exact BIGINTs off ONE joined pass; the statistic is
    a fixed double formula over them, r4-rounded before the threshold.

    Scale: one broadcast-dim join + map-side-combined cell counts
    (bounded by the category domain product); margins and the
    statistic run on the bounded cell frame — rows never re-shuffle.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderstatus").alias("st")
    )
    planted = j.select(
        "seg",
        F.when(F.col("seg").isin(*_CHI2_DEP_SEGS), F.lit("F"))
        .otherwise(F.col("st"))
        .alias("st"),
    )
    t = j.select(F.lit("organic").alias("test"), "seg", "st").unionByName(
        planted.select(F.lit("planted").alias("test"), "seg", "st")
    )
    cell = (
        t.groupBy("test", "seg", "st")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint(eager=False)  # margins + grid legs
    )
    rm = cell.groupBy("test", "seg").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    cm = cell.groupBy("test", "st").agg(F.sum("o").cast("bigint").alias("c"))
    nn = cell.groupBy("test").agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("seg").cast("bigint").alias("nr"),
        F.countDistinct("st").cast("bigint").alias("nc"),
    )
    grid = (
        rm.join(cm, "test")
        .join(F.broadcast(nn), "test")
        .join(cell, ["test", "seg", "st"], "left")
        .select(
            "test",
            "r",
            "c",
            "n",
            "nr",
            "nc",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
    )
    e = F.col("r") * 1.0 * F.col("c") / F.col("n")
    stat = grid.groupBy("test").agg(
        F.max("n").alias("n"),
        F.max("nr").alias("nr"),
        F.max("nc").alias("nc"),
        r4(F.sum(F.pow(F.col("o") - e, 2) / e)).alias("chi2"),
    )
    return stat.select(
        "test",
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("df"),
        "chi2",
        (F.col("chi2") > _CHI2_CRIT_DF8).alias("reject"),
        r4(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            )
        ).alias("cramers_v"),
    )


_ANOVA_CRIT = {4: 2.3719, 5: 2.2141}  # F(df1, inf) 0.95 quantiles
_ANOVA_CRIT_SQL = (
    "CASE k - 1 WHEN 4 THEN 2.3719 WHEN 5 THEN 2.2141 END"
)
_ANOVA_SHIFT_SEG = "MACHINERY"  # planted +3000.00 copy of this segment


@register(
    "q_anova_oneway",
    oracle=f"""
    WITH y AS (
      SELECT 'organic' AS test, c_mktsegment AS grp,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
      UNION ALL
      SELECT 'planted', grp, cents FROM (
        SELECT c_mktsegment AS grp,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
        UNION ALL
        SELECT 'zz-shift', CAST(ROUND(c_acctbal * 100) AS BIGINT) + 300000
        FROM customer WHERE c_mktsegment = '{_ANOVA_SHIFT_SEG}'
      )
    ), g AS (
      SELECT test, grp, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(cents) AS BIGINT) AS s_g,
             CAST(SUM(cents * cents) AS BIGINT) AS ss_g
      FROM y GROUP BY 1, 2
    ), tot AS (
      SELECT test, CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             CAST(SUM(ss_g) AS BIGINT) AS ss,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(POW(s_g * 1.0, 2) / n_g) AS sum_sq_means
      FROM g GROUP BY 1
    ), stat AS (
      SELECT test, n, k,
             sum_sq_means - POW(s * 1.0, 2) / n AS ssb,
             ss - sum_sq_means AS ssw
      FROM tot
    )
    SELECT test, n, CAST(k - 1 AS BIGINT) AS df1,
           CAST(n - k AS BIGINT) AS df2,
           {R4('(ssb / (k - 1)) / (ssw / (n - k))')} AS f_stat,
           {R4('(ssb / (k - 1)) / (ssw / (n - k))')} > {_ANOVA_CRIT_SQL}
             AS reject
    FROM stat
    """,
    priority="P2",
    tags=("aggregate", "statistics", "test"),
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of account balance across market segments —
    the k-group generalization of `q_ab_ttest`: between/within sum of
    squares from EXACT integer-cent moments (n, Σy, Σy² per group),
    F = (SSB/df1)/(SSW/df2) against the asymptotic α = 0.05 critical
    value for the test's df1 ({_ANOVA_CRIT}; df2 ≥ 145 at every
    shipped SF so the ∞ asymptote is safe — observed F sits well off
    the boundary). Fixture balances are iid across segments, so the
    organic test accepts; a planted +3000.00 (≈1 sd) copy of one
    segment rides along as group 'zz-shift'
    (reject) — both verdict directions live at every SF (the
    `q_ks_test` device).

    Scale: one pass to the (test, group) moment grain — three
    map-side-combinable integer sums per group — then a k-row combine;
    the F statistic is one double formula over exact scalars,
    r4-rounded before the threshold. The same shape tests billions of
    rows because only k moment triples ever cross the wire.
    """
    c = load(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    base = c.select(
        F.col("c_mktsegment").alias("grp"), cents.alias("cents")
    ).localCheckpoint(eager=False)  # organic + planted + shifted legs
    shifted = base.where(F.col("grp") == _ANOVA_SHIFT_SEG).select(
        F.lit("zz-shift").alias("grp"),
        (F.col("cents") + 300000).alias("cents"),
    )
    y = base.select(F.lit("organic").alias("test"), "grp", "cents").unionByName(
        base.unionByName(shifted).select(
            F.lit("planted").alias("test"), "grp", "cents"
        )
    )
    g = y.groupBy("test", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("s_g"),
        F.sum(d38("cents") * F.col("cents")).alias("ss_g"),
    )
    tot = g.groupBy("test").agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("ss_g").alias("ss"),  # decimal(38,0) through: see d38
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.pow(F.col("s_g") * 1.0, 2) / F.col("n_g")).alias(
            "sum_sq_means"
        ),
    )
    ssb = F.col("sum_sq_means") - F.pow(F.col("s") * 1.0, 2) / F.col("n")
    ssw = F.col("ss") - F.col("sum_sq_means")
    f_stat = r4((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))))
    return tot.select(
        "test",
        "n",
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df2"),
        f_stat.alias("f_stat"),
        (
            f_stat
            > F.when(F.col("k") - 1 == 4, F.lit(_ANOVA_CRIT[4])).when(
                F.col("k") - 1 == 5, F.lit(_ANOVA_CRIT[5])
            )
        ).alias("reject"),
    )


@register(
    "q_lorenz_gini",
    oracle=f"""
    WITH g AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rn,
             SUM(cents) OVER (ORDER BY cents, o_custkey) AS cum
      FROM g
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS tot,
             CAST(SUM(rn * cents) AS BIGINT) AS sixi
      FROM r
    )
    SELECT s.n AS n_customers,
           {R2('s.tot / 100.0')} AS total_revenue,
           {R4('(2.0 * s.sixi - (s.n + 1.0) * s.tot) / (s.n * 1.0 * s.tot)')}
             AS gini,
           {R4('b50.cum * 1.0 / s.tot')} AS bottom_half_share,
           {R4('1.0 - t90.cum * 1.0 / s.tot')} AS top_decile_share
    FROM s
    JOIN r b50 ON b50.rn = s.n // 2
    JOIN r t90 ON t90.rn = s.n - s.n // 10
    """,
    priority="P2",
    tags=("aggregate", "concentration", "banded"),
)
def q_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient + Lorenz-curve landmarks of revenue
    concentration across customers — the inequality measure beside
    `q_hhi_concentration` (HHI is share-of-squares; Gini is
    rank-weighted and reads the whole curve): per-customer revenue in
    EXACT integer cents, global ascending rank and running sum via the
    banded-order device (`operators/banded.py` — never a single-task
    global window), then G = (2Σi·xᵢ − (n+1)Σx)/(nΣx) plus the bottom-
    half and top-decile shares read off the Lorenz curve at n/2 and
    n − n/10.

    All moments are exact BIGINTs (Σi·xᵢ fits comfortably at shipped
    SFs; a 100 TB deployment promotes to DECIMAL(38) in the same
    shape); the three ratios are r4/r2-rounded finals.

    Scale: one shuffle to the customer grain, banded rank/cumsum (32
    value-range bands, per-band windows, ≤32-row offset prefix), one
    1-row moment combine, and two single-rank landmark lookups joined
    off the checkpointed banded frame.
    """
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    g = o.groupBy("o_custkey").agg(F.sum(cents).cast("bigint").alias("cents"))
    from modforms_db_spark.operators.banded import with_banded_order

    r = with_banded_order(
        g,
        "cents",
        ["o_custkey"],
        cumsum_col="cents",
        rn_name="rn",
        cum_name="cum",
    ).localCheckpoint(eager=False)  # moments + two landmark lookups
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum(d38("rn") * F.col("cents")).alias("sixi"),
    )
    b50 = r.join(
        F.broadcast(s), F.col("rn") == F.floor(F.col("n") / 2)
    ).select(F.col("cum").alias("cum_b50"))
    t90 = r.join(
        F.broadcast(s),
        F.col("rn") == F.col("n") - F.floor(F.col("n") / 10),
    ).select(F.col("cum").alias("cum_t90"))
    return (
        s.crossJoin(F.broadcast(b50))
        .crossJoin(F.broadcast(t90))
        .select(
            F.col("n").alias("n_customers"),
            r2(F.col("tot") / 100.0).alias("total_revenue"),
            r4(
                (2.0 * F.col("sixi") - (F.col("n") + 1.0) * F.col("tot"))
                / (F.col("n") * 1.0 * F.col("tot"))
            ).alias("gini"),
            r4(F.col("cum_b50") * 1.0 / F.col("tot")).alias(
                "bottom_half_share"
            ),
            r4(1.0 - F.col("cum_t90") * 1.0 / F.col("tot")).alias(
                "top_decile_share"
            ),
        )
    )


_BLOOM_M = 8192  # filter bits (256 x 32-bit words)
_BLOOM_W = 32  # bits per word — shifts stay < 32 (DuckDB << overflows at 63)
_BLOOM_K = 3  # hash functions
_BLOOM_POS = (
    "CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' "
    "|| CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) % 8192"
)


@register(
    "q_bloom_fpr_audit",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    ), queries AS (
      SELECT k + 10000000 AS k FROM members
    ), mpos AS (
      SELECT DISTINCT {_BLOOM_POS} AS pos
      FROM members CROSS JOIN
           (SELECT UNNEST(generate_series(0, {_BLOOM_K - 1})) AS seed)
    ), words AS (
      SELECT pos // {_BLOOM_W} AS word,
             CAST(bit_or(CAST(1 AS BIGINT) << (pos % {_BLOOM_W}))
                  AS BIGINT) AS w
      FROM mpos GROUP BY 1
    ), qpos AS (
      SELECT q.k, {_BLOOM_POS} AS pos
      FROM queries q CROSS JOIN
           (SELECT UNNEST(generate_series(0, {_BLOOM_K - 1})) AS seed)
    ), qtest AS (
      SELECT qpos.k,
             MIN(CASE WHEN w.w IS NULL THEN 0
                      ELSE (w.w >> (qpos.pos % {_BLOOM_W})) & 1 END) AS hit
      FROM qpos LEFT JOIN words w ON qpos.pos // {_BLOOM_W} = w.word
      GROUP BY qpos.k
    ), s AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM qtest) AS n_queries,
             (SELECT CAST(SUM(bit_count(w)) AS BIGINT) FROM words)
               AS bits_set,
             (SELECT CAST(SUM(hit) AS BIGINT) FROM qtest) AS false_pos
    )
    SELECT n_members, n_queries, bits_set, false_pos,
           {R4('false_pos * 1.0 / n_queries')} AS observed_fpr,
           {R4(f'POW(1.0 - POW(1.0 - 1.0 / {_BLOOM_M}, '
               f'{_BLOOM_K}.0 * n_members), {_BLOOM_K})')}
             AS theoretical_fpr
    FROM s
    """,
    priority="P2",
    tags=("aggregate", "sketch", "bloom"),
)
def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive-rate audit: build an
    m = {_BLOOM_M}-bit, k = {_BLOOM_K}-hash filter over the 'F'-status
    customer keys as {_BLOOM_M // _BLOOM_W} bit-or'd 32-bit words
    (exact integer bit algebra — 32-bit shifts keep both engines in
    range), probe it with guaranteed non-members (the same keys offset
    by 10⁷), and report observed vs theoretical FPR
    (1 − (1 − 1/m)^kn)^k. The capacity audit behind
    `q_join_bloom_prefilter`: at sf0.001 the filter is generously
    sized (FPR ≈ 0), at sf0.01 it operates near design load, at sf0.1
    it saturates (FPR → 1) — the audit EXISTS to catch that third
    regime before a prefilter silently stops filtering.

    Scale: the filter is a {_BLOOM_M // _BLOOM_W}-row aggregate
    (map-side bit_or partials — the mergeability that makes Bloom
    filters distributed-friendly) broadcast to the probe side; probes
    are a per-row hash + 3-row min — one linear pass each side.
    """
    o = load(spark, sf_dir, "orders")
    members = (
        o.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)  # build + query-derivation legs
    )
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    ).alias("seed")
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("seed").cast("string"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % _BLOOM_M
    )
    mpos = members.select("k", seeds).select(pos.alias("pos")).distinct()
    words = mpos.groupBy(
        (F.col("pos") / _BLOOM_W).cast("bigint").alias("word")
    ).agg(
        F.expr(f"bit_or(shiftleft(CAST(1 AS BIGINT), pos % {_BLOOM_W}))")
        .cast("bigint")
        .alias("w")
    )
    queries = members.select((F.col("k") + 10000000).alias("k"))
    qpos = queries.select("k", seeds).select("k", pos.alias("pos"))
    qtest = (
        qpos.join(
            F.broadcast(words),
            (F.col("pos") / _BLOOM_W).cast("bigint") == F.col("word"),
            "left",
        )
        .select(
            "k",
            F.when(F.col("w").isNull(), 0)
            .otherwise(
                F.expr(f"(w >> (pos % {_BLOOM_W})) & 1").cast("int")
            )
            .alias("bit"),
        )
        .groupBy("k")
        .agg(F.min("bit").alias("hit"))
    )
    nm = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    bs = words.agg(
        F.sum(F.bit_count("w")).cast("bigint").alias("bits_set")
    )
    qs = qtest.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("hit").cast("bigint").alias("false_pos"),
    )
    theo = r4(
        F.pow(
            1.0
            - F.pow(
                F.lit(1.0 - 1.0 / _BLOOM_M),
                float(_BLOOM_K) * F.col("n_members"),
            ),
            float(_BLOOM_K),
        )
    )
    return (
        nm.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(bs))
        .select(
            "n_members",
            "n_queries",
            "bits_set",
            "false_pos",
            r4(F.col("false_pos") * 1.0 / F.col("n_queries")).alias(
                "observed_fpr"
            ),
            theo.alias("theoretical_fpr"),
        )
    )


_DID_SPLIT_TS = "2024-01-16 00:00:00"  # pre/post boundary (events midpoint)
_DID_EFFECT = 25.0  # planted treatment effect on the treated-post cell
_DID_Z = 1.96  # two-sided alpha = 0.05


@register(
    "q_diff_in_diff",
    oracle=f"""
    WITH base AS (
      SELECT (user_id % 2 = 0) AS treated,
             (ts >= TIMESTAMP '{_DID_SPLIT_TS}') AS post,
             value
      FROM events
    ), y AS (
      SELECT 'organic' AS test, treated, post, value FROM base
      UNION ALL
      SELECT 'planted', treated, post,
             CASE WHEN treated AND post THEN value + {_DID_EFFECT!r}
                  ELSE value END
      FROM base
    ), cell AS (
      SELECT test, treated, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             {R4('AVG(value)')} AS m,
             {R4('VAR_SAMP(value)')} AS v
      FROM y GROUP BY 1, 2, 3
    ), wide AS (
      SELECT test,
             MAX(CASE WHEN treated AND post THEN m END) AS tp,
             MAX(CASE WHEN treated AND NOT post THEN m END) AS ta,
             MAX(CASE WHEN NOT treated AND post THEN m END) AS cp,
             MAX(CASE WHEN NOT treated AND NOT post THEN m END) AS ca,
             MAX(CASE WHEN treated AND post THEN v / n END) AS se_tp,
             MAX(CASE WHEN treated AND NOT post THEN v / n END) AS se_ta,
             MAX(CASE WHEN NOT treated AND post THEN v / n END) AS se_cp,
             MAX(CASE WHEN NOT treated AND NOT post THEN v / n END) AS se_ca
      FROM cell GROUP BY test
    )
    SELECT test,
           {R4('(tp - ta) - (cp - ca)')} AS did,
           {R4('SQRT(se_tp + se_ta + se_cp + se_ca)')} AS se,
           ABS({R4('(tp - ta) - (cp - ca)')})
             > {_DID_Z!r} * {R4('SQRT(se_tp + se_ta + se_cp + se_ca)')}
             AS significant
    FROM wide
    """,
    priority="P2",
    tags=("aggregate", "statistics", "causal"),
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (the 2×2 causal design):
    treated = even user ids, post = second half of the event window —
    DiD = (T̄post − T̄pre) − (C̄post − C̄pre) with the four-cell
    standard error √(Σ s²ᵢ/nᵢ) and a z-test at α = 0.05. The
    parallel-trends causal layer beside `q_ab_ttest` (which compares
    groups at one time) and `q_period_over_period` (which compares
    times for one group): DiD nets out both the group baseline and
    the common time shock. Fixture values are iid, so the organic
    estimate is null (accept); a planted +{_DID_EFFECT} effect on the
    treated-post cell rejects — both directions at every SF (the
    `q_ks_test` device).

    Cell means/variances r4-rounded before the estimator; the
    estimator and SE are fixed formulas over the four rounded cells.

    Scale: ONE pass to the 2×2×2 cell grain (map-side combined — the
    whole design is eight aggregate rows), then scalar math. Billions
    of events cost one scan.
    """
    e = load(spark, sf_dir, "events")
    base = e.select(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (F.col("ts") >= F.lit(_DID_SPLIT_TS).cast("timestamp")).alias(
            "post"
        ),
        "value",
    ).localCheckpoint(eager=False)  # organic + planted legs
    planted = base.select(
        "treated",
        "post",
        F.when(
            F.col("treated") & F.col("post"), F.col("value") + _DID_EFFECT
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    y = base.select(F.lit("organic").alias("test"), "*").unionByName(
        planted.select(F.lit("planted").alias("test"), "*")
    )
    cell = y.groupBy("test", "treated", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.avg("value")).alias("m"),
        r4(F.var_samp("value")).alias("v"),
    )
    def pick(tr: bool, po: bool, col: str):
        return F.max(
            F.when((F.col("treated") == tr) & (F.col("post") == po), F.col(col))
        )
    wide = cell.groupBy("test").agg(
        pick(True, True, "m").alias("tp"),
        pick(True, False, "m").alias("ta"),
        pick(False, True, "m").alias("cp"),
        pick(False, False, "m").alias("ca"),
        (pick(True, True, "v") / pick(True, True, "n")).alias("se_tp"),
        (pick(True, False, "v") / pick(True, False, "n")).alias("se_ta"),
        (pick(False, True, "v") / pick(False, True, "n")).alias("se_cp"),
        (pick(False, False, "v") / pick(False, False, "n")).alias("se_ca"),
    )
    did = r4(
        (F.col("tp") - F.col("ta")) - (F.col("cp") - F.col("ca"))
    )
    se = r4(
        F.sqrt(
            F.col("se_tp") + F.col("se_ta") + F.col("se_cp") + F.col("se_ca")
        )
    )
    return wide.select(
        "test",
        did.alias("did"),
        se.alias("se"),
        (F.abs(did) > _DID_Z * se).alias("significant"),
    )


@register(
    "q_cuped",
    oracle=f"""
    WITH u AS (
      SELECT user_id, (user_id % 2 = 0) AS grp,
             {R4(f"AVG(CASE WHEN ts < TIMESTAMP '{_DID_SPLIT_TS}'"
                 " THEN value END)")} AS pre,
             {R4(f"AVG(CASE WHEN ts >= TIMESTAMP '{_DID_SPLIT_TS}'"
                 " THEN value END)")} AS post
      FROM events GROUP BY 1, 2
    ), both_u AS (
      SELECT * FROM u WHERE pre IS NOT NULL AND post IS NOT NULL
    ), th AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             {R4('(SUM(pre * post) - SUM(pre) * SUM(post) / COUNT(*))'
                 ' / (SUM(pre * pre) - SUM(pre) * SUM(pre) / COUNT(*))')}
               AS theta,
             {R4('AVG(pre)')} AS mean_pre
      FROM both_u
    ), adj AS (
      SELECT grp, post,
             post - theta * (pre - mean_pre) AS post_adj, theta, n_all
      FROM both_u CROSS JOIN th
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           {R4('AVG(post)')} AS mean_post,
           {R4('AVG(post_adj)')} AS mean_post_adj,
           {R4('VAR_SAMP(post)')} AS var_post,
           {R4('VAR_SAMP(post_adj)')} AS var_post_adj,
           {R4('1.0 - VAR_SAMP(post_adj) / VAR_SAMP(post)')}
             AS var_reduction,
           MAX(theta) AS theta
    FROM adj GROUP BY grp
    """,
    priority="P2",
    tags=("aggregate", "statistics", "experiment"),
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013 — the standard
    pre-experiment covariate adjustment every large A/B platform
    applies): per user, the pre-period mean is the covariate for the
    post-period metric; θ = cov(pre, post)/var(pre) is fit POOLED
    across both arms (assignment-independent, so the adjustment is
    unbiased), and each arm reports its raw and adjusted post means,
    variances, and the realized variance-reduction fraction — the
    sensitivity gain that lets the same experiment detect a smaller
    effect (`q_ab_ttest`'s power upgrade; split boundary and arm rule
    shared with `q_diff_in_diff`).

    Per-user pre/post means are r4-rounded BEFORE the θ fit, so every
    downstream moment is arithmetic on engine-identical doubles; the
    θ ratio itself is r4-rounded before adjustment.

    Scale: one pass to the user grain (conditional means, map-side
    combined), a 1-row pooled θ broadcast back onto the bounded user
    frame, then per-arm moment aggregates — the covariate fit costs
    one extra 1-row aggregate over the same user-grain frame (kept to
    a single scan by the checkpoint).
    """
    e = load(spark, sf_dir, "events")
    post_f = F.col("ts") >= F.lit(_DID_SPLIT_TS).cast("timestamp")
    u = (
        e.groupBy(
            "user_id", (F.col("user_id") % 2 == 0).alias("grp")
        )
        .agg(
            r4(F.avg(F.when(~post_f, F.col("value")))).alias("pre"),
            r4(F.avg(F.when(post_f, F.col("value")))).alias("post"),
        )
        .where(F.col("pre").isNotNull() & F.col("post").isNotNull())
        .localCheckpoint(eager=False)  # theta fit + per-arm aggregates
    )
    n = F.count(F.lit(1))
    th = u.agg(
        n.cast("bigint").alias("n_all"),
        r4(
            (F.sum(F.col("pre") * F.col("post")) - F.sum("pre") * F.sum("post") / n)
            / (F.sum(F.col("pre") * F.col("pre")) - F.sum("pre") * F.sum("pre") / n)
        ).alias("theta"),
        r4(F.avg("pre")).alias("mean_pre"),
    )
    adj = u.crossJoin(F.broadcast(th)).select(
        "grp",
        "post",
        (
            F.col("post") - F.col("theta") * (F.col("pre") - F.col("mean_pre"))
        ).alias("post_adj"),
        "theta",
    )
    return adj.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        r4(F.avg("post")).alias("mean_post"),
        r4(F.avg("post_adj")).alias("mean_post_adj"),
        r4(F.var_samp("post")).alias("var_post"),
        r4(F.var_samp("post_adj")).alias("var_post_adj"),
        r4(1.0 - F.var_samp("post_adj") / F.var_samp("post")).alias(
            "var_reduction"
        ),
        F.max("theta").alias("theta"),
    )


_MDE_Z_ALPHA = 1.96  # two-sided alpha = 0.05
_MDE_Z_BETA = 0.8416  # 80% power
_MDE_TARGET = 0.20  # fixture-calibrated relative target effect


@register(
    "q_mde_power",
    oracle=f"""
    WITH t AS (
      SELECT event_type, value FROM events
      UNION ALL
      SELECT 'zz-sparse', value FROM events
      WHERE event_type = 'purchase' AND event_id % 41 = 0
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             {R4('AVG(value)')} AS mean_v,
             {R4('VAR_SAMP(value)')} AS var_v
      FROM t GROUP BY 1
    )
    SELECT event_type, n, mean_v, var_v,
           {R4(f'({_MDE_Z_ALPHA!r} + {_MDE_Z_BETA!r})'
               ' * SQRT(2.0 * var_v / (n / 2.0))')} AS mde_abs,
           {R4(f'({_MDE_Z_ALPHA!r} + {_MDE_Z_BETA!r})'
               ' * SQRT(2.0 * var_v / (n / 2.0)) / mean_v')} AS mde_rel,
           {R4(f'({_MDE_Z_ALPHA!r} + {_MDE_Z_BETA!r})'
               ' * SQRT(2.0 * var_v / (n / 2.0)) / mean_v')}
             <= {_MDE_TARGET!r} AS powered_for_target
    FROM s
    """,
    priority="P2",
    tags=("aggregate", "statistics", "experiment"),
)
def q_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect / power planning per metric stream:
    with the observed variance and an even 50/50 split of the
    available n, the smallest true difference a two-sided α = 0.05
    test detects with 80% power is (z_{{α/2}} + z_β)·√(2σ²/(n/2)) —
    reported absolute and relative, plus the go/no-go flag against the
    fixture-calibrated {_MDE_TARGET:.0%} relative target. The
    pre-experiment sizing read BEFORE `q_ab_ttest` runs and the reason
    `q_cuped` exists (variance reduction shrinks the MDE at fixed n).
    A planted 1-in-41 'zz-sparse' slice of the purchase stream rides
    along so an underpowered stream exists beside the powered organic
    ones at the sf0.01 gate scale and above (the `q_ks_test` device —
    fixture streams are volume-uniform, so organic verdicts never
    split within one SF); at sf0.001 every stream is honestly
    underpowered for a 20% effect (~200 events each).

    Variance and mean are r4-rounded before the closed-form, which is
    then one fixed double formula per 5-row group.

    Scale: one map-side-combined moment pass to the TYPE grain; the
    sizing math is free at any corpus size.
    """
    e = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).localCheckpoint(eager=False)  # organic + planted-sparse legs
    sparse = e.where(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 41 == 0)
    ).select(F.lit("zz-sparse").alias("event_type"), "value")
    t = e.select("event_type", "value").unionByName(sparse)
    s = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.avg("value")).alias("mean_v"),
        r4(F.var_samp("value")).alias("var_v"),
    )
    mde = r4(
        (_MDE_Z_ALPHA + _MDE_Z_BETA)
        * F.sqrt(2.0 * F.col("var_v") / (F.col("n") / 2.0))
    )
    mde_rel = r4(
        (_MDE_Z_ALPHA + _MDE_Z_BETA)
        * F.sqrt(2.0 * F.col("var_v") / (F.col("n") / 2.0))
        / F.col("mean_v")
    )
    return s.select(
        "event_type",
        "n",
        "mean_v",
        "var_v",
        mde.alias("mde_abs"),
        mde_rel.alias("mde_rel"),
        (mde_rel <= _MDE_TARGET).alias("powered_for_target"),
    )


@register(
    "q_levene_test",
    oracle=f"""
    WITH y AS (
      SELECT 'organic' AS test, c_mktsegment AS grp,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
      UNION ALL
      SELECT 'planted', grp, cents FROM (
        SELECT c_mktsegment AS grp,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
        UNION ALL
        SELECT 'zz-spread', CAST(ROUND(c_acctbal * 100) AS BIGINT) * 3
        FROM customer WHERE c_mktsegment = '{_ANOVA_SHIFT_SEG}'
      )
    ), med AS (
      SELECT test, grp,
             CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS m2
      FROM y GROUP BY 1, 2
    ), z AS (
      SELECT y.test, y.grp, ABS(2 * y.cents - med.m2) AS z
      FROM y JOIN med ON y.test = med.test AND y.grp = med.grp
    ), g AS (
      SELECT test, grp, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(z) AS BIGINT) AS s_g,
             CAST(SUM(z * z) AS BIGINT) AS ss_g
      FROM z GROUP BY 1, 2
    ), tot AS (
      SELECT test, CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             CAST(SUM(ss_g) AS BIGINT) AS ss,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(POW(s_g * 1.0, 2) / n_g) AS sum_sq_means
      FROM g GROUP BY 1
    ), stat AS (
      SELECT test, n, k,
             sum_sq_means - POW(s * 1.0, 2) / n AS ssb,
             ss - sum_sq_means AS ssw
      FROM tot
    )
    SELECT test, n, CAST(k - 1 AS BIGINT) AS df1,
           CAST(n - k AS BIGINT) AS df2,
           {R4('(ssb / (k - 1)) / (ssw / (n - k))')} AS w_stat,
           {R4('(ssb / (k - 1)) / (ssw / (n - k))')} > {_ANOVA_CRIT_SQL}
             AS reject
    FROM stat
    """,
    priority="P2",
    tags=("aggregate", "statistics", "test"),
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test of variance
    homogeneity across market segments — the dispersion sibling of
    `q_anova_oneway` (equal-variance is that test's standing
    assumption; this is the test OF the assumption): W = the one-way
    ANOVA F statistic applied to absolute deviations from each
    group's MEDIAN, against the same asymptotic F(df1, inf) critical
    values. Fixture balances are iid across segments (organic
    accepts); a x3-scaled copy of one segment rides along as
    'zz-spread' (spread x3 -> reject), keeping both verdicts live at
    every SF (the `q_ks_test` device).

    Exactness: deviations ride in integer HALF-cents — 2x the group
    median of integer cents is itself an exact integer (either
    middle-value or middle-pair sum), so z = |2·cents − 2·med| is
    integer and the W statistic is one double formula over exact
    integer moments (n, Σz, Σz² per group), r4-rounded before the
    threshold.

    Scale: one pass to the (test, group) median grain (exact
    percentile over ≤11 groups), medians broadcast back onto the
    base rows, then three map-side-combinable integer sums
    per group — only k moment triples cross the wire.
    """
    c = load(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    base = c.select(F.col("c_mktsegment").alias("grp"), cents.alias("cents"))
    spread = base.where(F.col("grp") == _ANOVA_SHIFT_SEG).select(
        F.lit("zz-spread").alias("grp"),
        (F.col("cents") * 3).alias("cents"),
    )
    y = base.select(F.lit("organic").alias("test"), "grp", "cents").unionByName(
        base.unionByName(spread).select(
            F.lit("planted").alias("test"), "grp", "cents"
        )
    ).localCheckpoint(eager=False)  # median grain + deviation pass
    med = y.groupBy("test", "grp").agg(
        (2 * F.percentile("cents", F.lit(0.5))).cast("bigint").alias("m2")
    )
    z = y.join(F.broadcast(med), ["test", "grp"]).select(
        "test", "grp", F.abs(2 * F.col("cents") - F.col("m2")).alias("z")
    )
    g = z.groupBy("test", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("z").cast("bigint").alias("s_g"),
        F.sum(d38("z") * F.col("z")).alias("ss_g"),
    )
    tot = g.groupBy("test").agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("ss_g").alias("ss"),  # decimal(38,0) through: see d38
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.pow(F.col("s_g") * 1.0, 2) / F.col("n_g")).alias(
            "sum_sq_means"
        ),
    )
    stat = tot.select(
        "test",
        "n",
        "k",
        (F.col("sum_sq_means") - F.pow(F.col("s") * 1.0, 2) / F.col("n")).alias(
            "ssb"
        ),
        (F.col("ss") - F.col("sum_sq_means")).alias("ssw"),
    )
    w = r4(
        (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k")))
    )
    crit = F.when(F.col("k") - 1 == 4, F.lit(_ANOVA_CRIT[4])).when(
        F.col("k") - 1 == 5, F.lit(_ANOVA_CRIT[5])
    )
    return stat.select(
        "test",
        "n",
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df2"),
        w.alias("w_stat"),
        (w > crit).alias("reject"),
    )


_PAIRED_EFFECT = 20.0  # planted per-user shift (t >= 6 at every SF)


@register(
    "q_ttest_paired",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             {R4(f"AVG(CASE WHEN ts < TIMESTAMP '{_DID_SPLIT_TS}'"
                 " THEN value END)")} AS pre,
             {R4(f"AVG(CASE WHEN ts >= TIMESTAMP '{_DID_SPLIT_TS}'"
                 " THEN value END)")} AS post
      FROM events GROUP BY 1
    ), d0 AS (
      SELECT CAST(ROUND((post - pre) * 10000) AS BIGINT) AS d4
      FROM u WHERE pre IS NOT NULL AND post IS NOT NULL
    ), d AS (
      SELECT 'organic' AS test, d4 FROM d0
      UNION ALL
      SELECT 'planted', d4 + {int(_PAIRED_EFFECT * 10000)} FROM d0
    ), s AS (
      SELECT test, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d4) AS BIGINT) AS sd4,
             CAST(SUM(d4 * d4) AS BIGINT) AS ssq4
      FROM d GROUP BY 1
    )
    SELECT test, n,
           {R4('sd4 / (n * 10000.0)')} AS mean_d,
           {R4('SQRT((ssq4 - 1.0 * sd4 * sd4 / n) / (n - 1)) / 10000.0')}
             AS sd_d,
           {R4('(1.0 * sd4 / n)'
               ' / SQRT(((ssq4 - 1.0 * sd4 * sd4 / n) / (n - 1)) / n)')}
             AS t_stat,
           ABS({R4('(1.0 * sd4 / n)'
               ' / SQRT(((ssq4 - 1.0 * sd4 * sd4 / n) / (n - 1)) / n)')})
             > {_DID_Z!r} AS reject
    FROM s
    """,
    priority="P2",
    tags=("aggregate", "statistics", "experiment"),
)
def q_ttest_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test on per-user pre/post metric means — the
    within-subject sibling of `q_ab_ttest` (pairing removes
    between-user variance, so the same effect needs far fewer users)
    and the significance test on exactly the deltas `q_diff_in_diff`
    and `q_cuped` model; split boundary shared with both. Users with
    activity in only one window drop out (no pair). Fixture windows
    are iid (organic accepts); a +{_PAIRED_EFFECT} per-user shifted
    copy rides as test 'planted' (t >= 6 at every SF — reject),
    keeping both verdicts live (the `q_ks_test` device).

    Exactness: per-user means are r4-rounded, so each delta is a
    4-dp-quantized double carried as EXACT integer ten-thousandths
    (the `q_vec_product_quantize` rule — aggregates OF rounded
    doubles ride integer-quantized units); mean, sd, and t are each
    one fixed double formula over the integer moments (n, Σd, Σd²),
    r4-rounded before the {_DID_Z} threshold.

    Scale: one map-side-combined pass to the user grain, one 2-row
    moment combine; nothing but moment triples crosses the wire.
    """
    e = load(spark, sf_dir, "events")
    post_f = F.col("ts") >= F.lit(_DID_SPLIT_TS).cast("timestamp")
    u = (
        e.groupBy("user_id")
        .agg(
            r4(F.avg(F.when(~post_f, F.col("value")))).alias("pre"),
            r4(F.avg(F.when(post_f, F.col("value")))).alias("post"),
        )
        .where(F.col("pre").isNotNull() & F.col("post").isNotNull())
    )
    d0 = u.select(
        F.round((F.col("post") - F.col("pre")) * 10000, 0)
        .cast("bigint")
        .alias("d4")
    ).localCheckpoint(eager=False)  # organic + planted legs
    d = d0.select(F.lit("organic").alias("test"), "d4").unionByName(
        d0.select(
            F.lit("planted").alias("test"),
            (F.col("d4") + int(_PAIRED_EFFECT * 10000)).alias("d4"),
        )
    )
    s = d.groupBy("test").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d4").cast("bigint").alias("sd4"),
        F.sum(d38("d4") * F.col("d4")).alias("ssq4"),
    )
    var_units = (
        F.col("ssq4") - 1.0 * F.col("sd4") * F.col("sd4") / F.col("n")
    ) / (F.col("n") - 1)
    t = r4((1.0 * F.col("sd4") / F.col("n")) / F.sqrt(var_units / F.col("n")))
    return s.select(
        "test",
        "n",
        r4(F.col("sd4") / (F.col("n") * 10000.0)).alias("mean_d"),
        r4(F.sqrt(var_units) / 10000.0).alias("sd_d"),
        t.alias("t_stat"),
        (F.abs(t) > _DID_Z).alias("reject"),
    )


@register(
    "q_corr_spearman",
    oracle=f"""
    WITH t AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS y
      FROM lineitem
    ), grain AS (
      SELECT g, x, y, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2, 3
    ), xm AS (
      SELECT g, x,
             2 * COALESCE(SUM(cx) OVER (PARTITION BY g ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cx + 1 AS rx2
      FROM (SELECT g, x, CAST(SUM(c) AS BIGINT) AS cx
            FROM grain GROUP BY 1, 2)
    ), ym AS (
      SELECT g, y,
             2 * COALESCE(SUM(cy) OVER (PARTITION BY g ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cy + 1 AS ry2
      FROM (SELECT g, y, CAST(SUM(c) AS BIGINT) AS cy
            FROM grain GROUP BY 1, 2)
    ), s AS (
      SELECT grain.g, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * rx2) AS BIGINT) AS sx,
             CAST(SUM(c * ry2) AS BIGINT) AS sy,
             CAST(SUM(c * rx2 * rx2) AS BIGINT) AS sxx,
             CAST(SUM(c * ry2 * ry2) AS BIGINT) AS syy,
             CAST(SUM(c * rx2 * ry2) AS BIGINT) AS sxy
      FROM grain
      JOIN xm ON grain.g = xm.g AND grain.x = xm.x
      JOIN ym ON grain.g = ym.g AND grain.y = ym.y
      GROUP BY 1
    )
    SELECT g, n,
           {R4('''(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy))''')} AS spearman_rho
    FROM s
    """,
    priority="P2",
    tags=("aggregate", "statistics", "rank"),
)
def q_corr_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount per
    return flag — the monotone-association member of the correlation
    family (`q_agg_stats`' Pearson sees only linear association;
    Spearman sees any monotone one, and is outlier-immune): Pearson
    over tie-averaged ranks, with EVERY rank computed exactly from
    the (value, count) marginal grain — average rank of a tied value
    = below-count + (count+1)/2, carried as 2x-integers so ties never
    produce a float. The whole statistic is one double formula over
    seven exact BIGINT moments.

    Scale: the fact scan reduces map-side to the (group, qty,
    discount-bps) grain — bounded by the VALUE DOMAINS (50 x 11), not
    row count; rank windows run on the tiny marginals. The same shape
    ranks billions of rows because only the grain enters any window
    (quantize continuous features to fixed bins first — the
    `q_ks_test` discipline).
    """
    t = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("y"),
    )
    grain = t.groupBy("g", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)  # both marginals + the joined pass
    wx = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    xm = (
        grain.groupBy("g", "x")
        .agg(F.sum("c").cast("bigint").alias("cx"))
        .select(
            "g",
            "x",
            (
                2 * F.coalesce(F.sum("cx").over(wx), F.lit(0))
                + F.col("cx")
                + 1
            ).alias("rx2"),
        )
    )
    wy = Window.partitionBy("g").orderBy("y").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ym = (
        grain.groupBy("g", "y")
        .agg(F.sum("c").cast("bigint").alias("cy"))
        .select(
            "g",
            "y",
            (
                2 * F.coalesce(F.sum("cy").over(wy), F.lit(0))
                + F.col("cy")
                + 1
            ).alias("ry2"),
        )
    )
    s = (
        grain.join(xm, ["g", "x"])
        .join(ym, ["g", "y"])
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(d38("c") * F.col("rx2")).alias("sx"),
            F.sum(d38("c") * F.col("ry2")).alias("sy"),
            F.sum(d38("c") * F.col("rx2") * F.col("rx2")).alias("sxx"),
            F.sum(d38("c") * F.col("ry2") * F.col("ry2")).alias("syy"),
            F.sum(d38("c") * F.col("rx2") * F.col("ry2")).alias("sxy"),
        )
    )
    n = F.col("n")
    rho = r4(
        (n * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy"))
        / F.sqrt(
            (n * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
            * (n * 1.0 * F.col("syy") - F.col("sy") * 1.0 * F.col("sy"))
        )
    )
    return s.select("g", "n", rho.alias("spearman_rho"))


@register(
    "q_kendall_tau",
    oracle=f"""
    WITH t AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS y
      FROM lineitem
    ), grain AS (
      SELECT g, x, y, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2, 3
    ), nn AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM grain GROUP BY 1
    ), conc AS (
      SELECT a.g,
             CAST(SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS nd
      FROM grain a JOIN grain b ON a.g = b.g AND b.x > a.x
      GROUP BY 1
    ), tie AS (
      SELECT g,
             CAST(SUM(cx * (cx - 1) / 2) AS BIGINT) AS tx
      FROM (SELECT g, x, CAST(SUM(c) AS BIGINT) AS cx
            FROM grain GROUP BY 1, 2) GROUP BY 1
    ), tie_y AS (
      SELECT g,
             CAST(SUM(cy * (cy - 1) / 2) AS BIGINT) AS ty
      FROM (SELECT g, y, CAST(SUM(c) AS BIGINT) AS cy
            FROM grain GROUP BY 1, 2) GROUP BY 1
    )
    SELECT nn.g, nn.n, conc.nc, conc.nd,
           {R4('''(conc.nc - conc.nd)
                 / SQRT((nn.n * (nn.n - 1) / 2 - tie.tx) * 1.0
                        * (nn.n * (nn.n - 1) / 2 - tie_y.ty))''')}
             AS kendall_tau_b
    FROM nn JOIN conc ON nn.g = conc.g
    JOIN tie ON nn.g = tie.g JOIN tie_y ON nn.g = tie_y.g
    """,
    priority="P2",
    tags=("aggregate", "statistics", "rank"),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between quantity and discount per return flag —
    the pairwise-concordance member of the rank family beside
    `q_corr_spearman` (tau has the cleaner probabilistic reading:
    P(concordant) − P(discordant), with tau-b's tie correction for
    the heavily quantized domains): concordant/discordant pair MASSES
    come from a self-join of the (x, y, count) grain — c_a·c_b pairs
    per grain cell — never from row pairs, so the O(n²) definition
    costs O(|domain|²). All masses and tie terms are exact BIGINT;
    tau is one double formula, r4-rounded.

    Scale: grain bounded by value domains (50 x 11 cells/group), so
    the "quadratic" join is a constant ~300k cell pairs regardless of
    row count — the same trick that makes `q_ks_test` linear.
    """
    t = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("y"),
    )
    grain = t.groupBy("g", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)  # n + pairs + both tie marginals
    nn = grain.groupBy("g").agg(F.sum("c").cast("bigint").alias("n"))
    a = grain.select("g", "x", "y", "c")
    b = grain.select(
        F.col("g").alias("gb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("c").alias("cb"),
    )
    conc = (
        a.join(b, (F.col("g") == F.col("gb")) & (F.col("xb") > F.col("x")))
        .groupBy("g")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("y"), F.col("c") * F.col("cb"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("nc"),
            F.sum(
                F.when(F.col("yb") < F.col("y"), F.col("c") * F.col("cb"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("nd"),
        )
    )
    tx = (
        grain.groupBy("g", "x")
        .agg(F.sum("c").cast("bigint").alias("cx"))
        .groupBy("g")
        .agg(
            F.sum(F.col("cx") * (F.col("cx") - 1) / 2)
            .cast("bigint")
            .alias("tx")
        )
    )
    ty = (
        grain.groupBy("g", "y")
        .agg(F.sum("c").cast("bigint").alias("cy"))
        .groupBy("g")
        .agg(
            F.sum(F.col("cy") * (F.col("cy") - 1) / 2)
            .cast("bigint")
            .alias("ty")
        )
    )
    j = nn.join(conc, "g").join(tx, "g").join(ty, "g")
    n0 = F.col("n") * (F.col("n") - 1) / 2
    tau = r4(
        (F.col("nc") - F.col("nd"))
        / F.sqrt((n0 - F.col("tx")) * 1.0 * (n0 - F.col("ty")))
    )
    return j.select("g", "n", "nc", "nd", tau.alias("kendall_tau_b"))


@register(
    "q_partial_corr",
    oracle=f"""
    WITH t AS (
      SELECT l_returnflag AS g,
             CAST(ROUND(l_extendedprice) AS BIGINT)
               + 1000 * CAST(l_quantity AS BIGINT) AS x,
             30 * CAST(ROUND(l_discount * 100) AS BIGINT)
               + 20 * CAST(l_quantity AS BIGINT) AS y,
             CAST(l_quantity AS BIGINT) AS z
      FROM lineitem
    ), m AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(z) AS BIGINT) AS sz,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(z * z) AS BIGINT) AS szz,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * z) AS BIGINT) AS sxz,
             CAST(SUM(y * z) AS BIGINT) AS syz
      FROM t GROUP BY 1
    ), r AS (
      SELECT g, n,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               AS rxy,
             (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
               / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               AS rxz,
             (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
               / SQRT((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                      * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               AS ryz
      FROM m
    )
    SELECT g, n, {R4('rxy')} AS r_xy,
           {R4('rxz')} AS r_xz, {R4('ryz')} AS r_yz,
           {R4('''(rxy - rxz * ryz)
                 / SQRT((1 - rxz * rxz) * (1 - ryz * ryz))''')}
             AS r_xy_given_z
    FROM r
    """,
    priority="P2",
    tags=("aggregate", "statistics", "corr"),
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation with a PLANTED confounder
    structure — the textbook spurious-correlation demo, on the
    engine: x (price + 1000·qty) and y (30·discount-bps + 20·qty)
    are independent given quantity, but both load on it, so the raw
    r_xy is strongly positive while r_xy.z ≈ the raw price-discount
    correlation ≈ 0 — the confounder-adjusted association
    `q_agg_stats`' raw Pearson can't give:
    r_xy.z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)), all three
    pairwise correlations from one pass of exact integer moments (11
    BIGINT sums total; the law test pins raw-high/partial-low, both
    directions live at every SF).

    Every correlation is one double formula over exact integers
    (explicit DOUBLE casts — DuckDB's `x * 1.0` promotes to DECIMAL
    and overflows at large moments); the partial is one more rational
    formula over those, r4 at output.

    Scale: single map-side-combined moment pass; 3 rows of math after.
    """
    q_ = F.col("l_quantity").cast("bigint")
    t = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        (F.round("l_extendedprice", 0).cast("bigint") + 1000 * q_).alias("x"),
        (30 * F.round(F.col("l_discount") * 100, 0).cast("bigint") + 20 * q_)
        .alias("y"),
        q_.alias("z"),
    )
    m = t.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("y")).alias("sy"),
        F.sum(d38("z")).alias("sz"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
        F.sum(d38("y") * F.col("y")).alias("syy"),
        F.sum(d38("z") * F.col("z")).alias("szz"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
        F.sum(d38("x") * F.col("z")).alias("sxz"),
        F.sum(d38("y") * F.col("z")).alias("syz"),
    )
    n = F.col("n") * 1.0

    def corr_of(sab, sa, sb, saa, sbb):
        return (n * F.col(sab) - F.col(sa) * 1.0 * F.col(sb)) / F.sqrt(
            (n * F.col(saa) - F.col(sa) * 1.0 * F.col(sa))
            * (n * F.col(sbb) - F.col(sb) * 1.0 * F.col(sb))
        )

    r = m.select(
        "g",
        "n",
        corr_of("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr_of("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        corr_of("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    partial = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(
        (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("ryz") * F.col("ryz"))
    )
    return r.select(
        "g",
        "n",
        r4(F.col("rxy")).alias("r_xy"),
        r4(F.col("rxz")).alias("r_xz"),
        r4(F.col("ryz")).alias("r_yz"),
        r4(partial).alias("r_xy_given_z"),
    )


_CMH_KNUTH = 2654435761
_CMH_MOD = 4294967296
_CMH_PRICE_CUT = 300000
_CMH_BOOST_PCT = 30
_CMH_CRIT_R4 = 3.8415  # chi2(1) alpha=0.05, compared on the r4'd stat


@register(
    "q_cmh_test",
    oracle=f"""
    WITH t AS (
      SELECT v.variant,
             o.o_orderpriority AS stratum,
             ((o.o_orderkey * {_CMH_KNUTH}) % {_CMH_MOD}) % 2 AS arm,
             (o.o_totalprice > {_CMH_PRICE_CUT}
              OR (v.variant = 'planted'
                  AND ((o.o_orderkey * {_CMH_KNUTH}) % {_CMH_MOD}) % 2 = 1
                  AND ((o.o_orderkey * 31 * {_CMH_KNUTH}) % {_CMH_MOD}) % 100
                      < {_CMH_BOOST_PCT})) AS outcome
      FROM orders o
      CROSS JOIN (VALUES ('organic'), ('planted')) v(variant)
    ), cells AS (
      SELECT variant, stratum,
             CAST(SUM(CASE WHEN arm = 1 AND outcome THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN outcome THEN 1 ELSE 0 END) AS BIGINT) AS m1,
             CAST(COUNT(*) AS BIGINT) AS nk
      FROM t GROUP BY 1, 2
    ), terms AS (
      SELECT variant, a, nk,
             CAST(ROUND(1e4 * CAST(n1 AS DOUBLE) * m1 / nk) AS BIGINT)
               AS e_i,
             CAST(ROUND(1e4 * CAST(n1 AS DOUBLE) * (nk - n1) * m1 * (nk - m1)
                        / (CAST(nk AS DOUBLE) * nk * (nk - 1))) AS BIGINT)
               AS v_i,
             CAST(ROUND(1e4 * CAST(a AS DOUBLE) * (nk - n1 - m1 + a) / nk)
                  AS BIGINT) AS ad_i,
             CAST(ROUND(1e4 * CAST(n1 - a AS DOUBLE) * (m1 - a) / nk)
                  AS BIGINT) AS bc_i
      FROM cells
    ), s AS (
      SELECT variant,
             CAST(SUM(nk) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS sum_a,
             CAST(SUM(e_i) AS BIGINT) AS se_i,
             CAST(SUM(v_i) AS BIGINT) AS sv_i,
             CAST(SUM(ad_i) AS BIGINT) AS sad_i,
             CAST(SUM(bc_i) AS BIGINT) AS sbc_i
      FROM terms GROUP BY 1
    )
    SELECT variant, n, sum_a,
           {R4('POW(ABS(sum_a - se_i / 1e4) - 0.5, 2) / (sv_i / 1e4)')}
             AS cmh_chi2,
           {R4('CAST(sad_i AS DOUBLE) / sbc_i')} AS or_mh,
           {R4('POW(ABS(sum_a - se_i / 1e4) - 0.5, 2) / (sv_i / 1e4)')}
             > {_CMH_CRIT_R4} AS reject
    FROM s
    """,
    priority="P2",
    tags=("aggregate", "statistics", "experiment"),
)
def q_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 association test
    (continuity-corrected) plus the Mantel-Haenszel common odds
    ratio: does the treatment arm move the high-value-order rate once
    order priority is held fixed — the stratum-adjusted companion to
    `q_ab_proportions` (pooled) and `q_partial_corr` (continuous
    confounder). Arms are the deterministic Knuth hash of the
    order key (order-level randomization keeps the organic null
    clean — a customer-key split is cluster-randomized and the plain
    CMH variance undercounts intra-customer correlation); the organic variant is a true
    null (hash independent of price) and a planted variant boosts
    arm-1 success by ~{_CMH_BOOST_PCT}pp via a second independent
    hash, so accept AND reject verdicts are live at every SF (house
    planted-ground-truth rule for test operators).

    Per-stratum E[a], Var[a] and the OR numerator/denominator terms
    are rounded to integer 1e-4 units before summation (partial-sum
    order can't move them); the chi2 and OR are single double
    formulas over those integer sums, r4-rounded before the
    {_CMH_CRIT_R4} threshold compare.

    Scale: one scan of orders (variants ride a 2-row broadcast cross
    join, not a second scan), partial+final aggregation to the
    (variant, stratum) 2x2 grain — 10 cells of math regardless of
    row count.
    """
    o = load(spark, sf_dir, "orders")
    variants = spark.createDataFrame(
        [("organic",), ("planted",)], "variant string"
    )
    arm = (
        F.col("o_orderkey") * F.lit(_CMH_KNUTH).cast("bigint") % _CMH_MOD
    ) % 2
    boost = (
        F.col("o_orderkey") * 31 * F.lit(_CMH_KNUTH).cast("bigint") % _CMH_MOD
    ) % 100 < _CMH_BOOST_PCT
    outcome = (F.col("o_totalprice") > _CMH_PRICE_CUT) | (
        (F.col("variant") == "planted") & (arm == 1) & boost
    )
    t = o.crossJoin(F.broadcast(variants)).select(
        "variant",
        F.col("o_orderpriority").alias("stratum"),
        arm.alias("arm"),
        outcome.alias("outcome"),
    )
    cells = t.groupBy("variant", "stratum").agg(
        F.sum(F.when((F.col("arm") == 1) & F.col("outcome"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("outcome"), 1).otherwise(0))
        .cast("bigint")
        .alias("m1"),
        F.count(F.lit(1)).cast("bigint").alias("nk"),
    )
    n1d = F.col("n1").cast("double")
    nkd = F.col("nk").cast("double")
    terms = cells.select(
        "variant",
        "a",
        "nk",
        F.round(F.lit(1e4) * n1d * F.col("m1") / F.col("nk"))
        .cast("bigint")
        .alias("e_i"),
        F.round(
            F.lit(1e4)
            * n1d
            * (F.col("nk") - F.col("n1"))
            * F.col("m1")
            * (F.col("nk") - F.col("m1"))
            / (nkd * F.col("nk") * (F.col("nk") - 1))
        )
        .cast("bigint")
        .alias("v_i"),
        F.round(
            F.lit(1e4)
            * F.col("a").cast("double")
            * (F.col("nk") - F.col("n1") - F.col("m1") + F.col("a"))
            / F.col("nk")
        )
        .cast("bigint")
        .alias("ad_i"),
        F.round(
            F.lit(1e4)
            * (F.col("n1") - F.col("a")).cast("double")
            * (F.col("m1") - F.col("a"))
            / F.col("nk")
        )
        .cast("bigint")
        .alias("bc_i"),
    )
    s = terms.groupBy("variant").agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum("e_i").cast("bigint").alias("se_i"),
        F.sum("v_i").cast("bigint").alias("sv_i"),
        F.sum("ad_i").cast("bigint").alias("sad_i"),
        F.sum("bc_i").cast("bigint").alias("sbc_i"),
    )
    chi2 = F.pow(
        F.abs(F.col("sum_a") - F.col("se_i") / 1e4) - 0.5, F.lit(2)
    ) / (F.col("sv_i") / 1e4)
    return s.select(
        "variant",
        "n",
        "sum_a",
        r4(chi2).alias("cmh_chi2"),
        r4(F.col("sad_i").cast("double") / F.col("sbc_i")).alias("or_mh"),
        (r4(chi2) > _CMH_CRIT_R4).alias("reject"),
    )


_EFF_SHIFT = 4  # planted arm-1 quantity shift; d~0.28, clear of the 0.2 edge


@register(
    "q_effect_sizes",
    oracle=f"""
    WITH t AS (
      SELECT v.variant,
             ((l.l_orderkey * {_CMH_KNUTH}) % {_CMH_MOD}) % 2 AS arm,
             CAST(l.l_quantity AS BIGINT)
               + CASE WHEN v.variant = 'planted'
                       AND ((l.l_orderkey * {_CMH_KNUTH}) % {_CMH_MOD}) % 2
                           = 1
                      THEN {_EFF_SHIFT} ELSE 0 END AS q
      FROM lineitem l
      CROSS JOIN (VALUES ('organic'), ('planted')) v(variant)
    ), cells AS (
      SELECT variant, arm, q, CAST(COUNT(*) AS BIGINT) AS c
      FROM t GROUP BY 1, 2, 3
    ), mom AS (
      SELECT variant, arm,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * q) AS BIGINT) AS s1,
             CAST(SUM(c * q * q) AS BIGINT) AS s2
      FROM cells GROUP BY 1, 2
    ), wide AS (
      SELECT a.variant,
             a.n AS n_a, a.s1 AS s1a, a.s2 AS s2a,
             b.n AS n_b, b.s1 AS s1b, b.s2 AS s2b
      FROM mom a JOIN mom b
        ON a.variant = b.variant AND a.arm = 0 AND b.arm = 1
    ), cliff AS (
      SELECT c0.variant,
             CAST(SUM(CASE WHEN c1.q > c0.q THEN c1.c * c0.c ELSE 0 END)
                  AS BIGINT) AS gt,
             CAST(SUM(CASE WHEN c1.q < c0.q THEN c1.c * c0.c ELSE 0 END)
                  AS BIGINT) AS lt
      FROM cells c0 JOIN cells c1
        ON c0.variant = c1.variant AND c0.arm = 0 AND c1.arm = 1
      GROUP BY 1
    ), stats AS (
      SELECT w.variant, w.n_a, w.n_b,
             CAST(s1a AS DOUBLE) / n_a AS mean_a,
             CAST(s1b AS DOUBLE) / n_b AS mean_b,
             SQRT((CAST(n_a * s2a - s1a * s1a AS DOUBLE) / n_a
                   + CAST(n_b * s2b - s1b * s1b AS DOUBLE) / n_b)
                  / (n_a + n_b - 2)) AS sd_pooled,
             CAST(gt - lt AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
               AS cliffs_delta
      FROM wide w JOIN cliff ON cliff.variant = w.variant
    )
    SELECT variant, n_a, n_b,
           {R4('mean_a')} AS mean_a, {R4('mean_b')} AS mean_b,
           {R4('sd_pooled')} AS sd_pooled,
           {R4('(mean_b - mean_a) / sd_pooled')} AS cohens_d,
           {R4('''(mean_b - mean_a) / sd_pooled
                 * (1 - 3.0 / (4 * (n_a + n_b) - 9))''')} AS hedges_g,
           {R4('cliffs_delta')} AS cliffs_delta,
           CASE WHEN ABS({R4('(mean_b - mean_a) / sd_pooled')}) < 0.2
                  THEN 'negligible'
                WHEN ABS({R4('(mean_b - mean_a) / sd_pooled')}) < 0.5
                  THEN 'small'
                WHEN ABS({R4('(mean_b - mean_a) / sd_pooled')}) < 0.8
                  THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM stats
    """,
    priority="P2",
    tags=("aggregate", "statistics", "experiment"),
)
def q_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect-size panel for a two-arm comparison of line
    quantity: Cohen's d (pooled SD), the Hedges' g small-sample
    correction, and the rank-based Cliff's delta, with the Cohen
    magnitude label — the "how big, in units a reader can compare
    across metrics" companion to the accept/reject tests
    (`q_ab_ttest`, `q_mann_whitney`) and the input `q_mde_power`'s
    sizing needs. Arms are the Knuth hash of the order key; the
    organic variant is a true null (d ~ 0) and the planted variant
    shifts arm-1 quantity by +{_EFF_SHIFT} (d ~ 0.28, 'small' by
    design, clear of the 0.2 boundary at every SF), so both magnitude regimes are live at every SF.

    Everything flows from the (variant, arm, quantity) marginal
    grain: moments are exact BIGINT sums of a bounded integer domain,
    Cliff's delta is the exact cross product of the two <=53-cell
    marginals (never row x row), and every output double is one
    fixed formula over those integers, r4-rounded before the
    magnitude thresholds.

    Scale: one scan of lineitem to the marginal grain (variants ride
    a 2-row broadcast cross join); all statistics on <=212 grain
    rows regardless of corpus size.
    """
    li = load(spark, sf_dir, "lineitem")
    variants = spark.createDataFrame(
        [("organic",), ("planted",)], "variant string"
    )
    arm = (
        F.col("l_orderkey") * F.lit(_CMH_KNUTH).cast("bigint") % _CMH_MOD
    ) % 2
    q = F.col("l_quantity").cast("bigint") + F.when(
        (F.col("variant") == "planted") & (arm == 1), _EFF_SHIFT
    ).otherwise(0)
    cells = (
        li.crossJoin(F.broadcast(variants))
        .select("variant", arm.alias("arm"), q.alias("q"))
        .groupBy("variant", "arm", "q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # moments + both Cliff legs
    )
    mom = cells.groupBy("variant", "arm").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(d38("c") * F.col("q")).alias("s1"),
        F.sum(d38("c") * F.col("q") * F.col("q")).alias("s2"),
    )
    a, b = mom.alias("a"), mom.alias("b")
    wide = a.join(
        b,
        (F.col("a.variant") == F.col("b.variant"))
        & (F.col("a.arm") == 0)
        & (F.col("b.arm") == 1),
    ).select(
        F.col("a.variant").alias("variant"),
        F.col("a.n").alias("n_a"),
        F.col("a.s1").alias("s1a"),
        F.col("a.s2").alias("s2a"),
        F.col("b.n").alias("n_b"),
        F.col("b.s1").alias("s1b"),
        F.col("b.s2").alias("s2b"),
    )
    c0, c1 = cells.alias("c0"), cells.alias("c1")
    cliff = (
        c0.join(
            c1,
            (F.col("c0.variant") == F.col("c1.variant"))
            & (F.col("c0.arm") == 0)
            & (F.col("c1.arm") == 1),
        )
        .groupBy(F.col("c0.variant").alias("variant"))
        .agg(
            F.sum(
                F.when(
                    F.col("c1.q") > F.col("c0.q"),
                    d38(F.col("c1.c")) * F.col("c0.c"),
                ).otherwise(0)
            ).alias("gt"),
            F.sum(
                F.when(
                    F.col("c1.q") < F.col("c0.q"),
                    d38(F.col("c1.c")) * F.col("c0.c"),
                ).otherwise(0)
            ).alias("lt"),
        )
    )
    mean_a = F.col("s1a").cast("double") / F.col("n_a")
    mean_b = F.col("s1b").cast("double") / F.col("n_b")
    sd_pooled = F.sqrt(
        (
            (F.col("n_a") * F.col("s2a") - F.col("s1a") * F.col("s1a"))
            .cast("double")
            / F.col("n_a")
            + (F.col("n_b") * F.col("s2b") - F.col("s1b") * F.col("s1b"))
            .cast("double")
            / F.col("n_b")
        )
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    d = (mean_b - mean_a) / sd_pooled
    g = d * (1 - 3.0 / (4 * (F.col("n_a") + F.col("n_b")) - 9))
    delta = (F.col("gt") - F.col("lt")).cast("double") / (
        F.col("n_a").cast("double") * F.col("n_b")
    )
    d_r = r4(d)
    return (
        wide.join(cliff, "variant")
        .select(
            "variant",
            "n_a",
            "n_b",
            r4(mean_a).alias("mean_a"),
            r4(mean_b).alias("mean_b"),
            r4(sd_pooled).alias("sd_pooled"),
            d_r.alias("cohens_d"),
            r4(g).alias("hedges_g"),
            r4(delta).alias("cliffs_delta"),
            F.when(F.abs(d_r) < 0.2, "negligible")
            .when(F.abs(d_r) < 0.5, "small")
            .when(F.abs(d_r) < 0.8, "medium")
            .otherwise("large")
            .alias("magnitude"),
        )
    )


_AMS_K = 16  # independent sign estimators
# 16 distinct odd 32-bit multipliers, each followed by an xxhash-style
# avalanche finalizer before the sign bit: RAW multiplicative bits (low OR
# top) equidistribute over the fixture's dense key intervals, so interval
# sums cancel to O(log n) instead of O(sqrt F2) and the estimate collapsed
# 6-20x low — caught twice at regime check before the finalizer landed
_AMS_MULT = tuple(((2654435761 + 2 * j * 1013904223) % 4294967296) | 1
                  for j in range(_AMS_K))


@register(
    "q_ams_f2",
    oracle=f"""
    WITH g AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ), js AS (
      SELECT UNNEST(range(0, {_AMS_K})) AS j,
             UNNEST({list(_AMS_MULT)}) AS m
    ), h1 AS (
      SELECT js.j, g.c, (g.k * js.m) % {_CMH_MOD} AS h
      FROM g CROSS JOIN js
    ), h2 AS (
      SELECT j, c, (xor(h, h >> 16) * 1013904223) % {_CMH_MOD} AS h FROM h1
    ), h3 AS (
      SELECT j, c, (xor(h, h >> 13) * 1000000007) % {_CMH_MOD} AS h FROM h2
    ), z AS (
      SELECT j,
             CAST(SUM((1 - 2 * (xor(h, h >> 16) & 1)) * c) AS BIGINT) AS z
      FROM h3 GROUP BY 1
    ), f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(c * c) AS BIGINT) AS f2_exact
      FROM g
    ), e AS (
      SELECT quantile_cont(CAST(z * z AS DOUBLE), 0.5) AS f2_ams FROM z
    )
    SELECT f.n_keys, f.f2_exact, e.f2_ams,
           {R4('ABS(e.f2_ams - f.f2_exact) / f.f2_exact')} AS rel_err,
           {R4('ABS(e.f2_ams - f.f2_exact) / f.f2_exact')} < 1.0
             AS within_bound
    FROM f CROSS JOIN e
    """,
    priority="P2",
    tags=("aggregate", "sketch", "cardinality"),
)
def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch vs the
    exact F2 of the join key: F2 = sum of squared key frequencies IS
    the self-join output size, so this is the one-pass mergeable
    sketch an optimizer consults to predict shuffle fanout before
    running a join — the frequency-moment member of the house sketch
    shelf (HLL distinct, CMS point counts, KMV set ops, Bloom
    membership). {_AMS_K} deterministic sign estimators (sign j =
    bit j of the Knuth hash), median of the squared sums; the exact
    F2 rides the same grain for the honest error column.

    Every Z_j is an exact BIGINT sum (signs are +-1 integers), the
    median of {_AMS_K} exact squares interpolates identically in both
    engines, and rel_err is r4-rounded before the bound compare.

    Scale: one pass to the key grain; the sketch itself is {_AMS_K}
    counters that merge by addition across partitions/shards (the
    point of AMS at 100 TB — the exact grain is the audit, the
    sketch is what you'd actually ship).
    """
    g = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    aggs = [F.sum(d38("c") * F.col("c")).cast("bigint").alias("f2_exact"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys")]
    for j, m in enumerate(_AMS_MULT):
        h = F.col("k") * F.lit(m).cast("bigint") % _CMH_MOD
        h = h.bitwiseXOR(F.shiftright(h, 16)) * 1013904223 % _CMH_MOD
        h = h.bitwiseXOR(F.shiftright(h, 13)) * 1000000007 % _CMH_MOD
        sign = 1 - 2 * h.bitwiseXOR(F.shiftright(h, 16)).bitwiseAND(1)
        aggs.append(F.sum(sign * F.col("c")).cast("bigint").alias(f"z{j}"))
    wide = g.agg(*aggs)
    # square in DOUBLE: a long z_j > ~3e9 would overflow the int64
    # product per-term (see d38) — the estimate is double math anyway
    zz = F.array(
        *[F.col(f"z{j}").cast("double") * F.col(f"z{j}") for j in range(_AMS_K)]
    )
    est = wide.select(
        "n_keys",
        "f2_exact",
        F.explode(zz.cast("array<double>")).alias("zz"),
    ).groupBy("n_keys", "f2_exact").agg(
        F.expr("percentile(zz, 0.5)").alias("f2_ams")
    )
    rel = r4(
        F.abs(F.col("f2_ams") - F.col("f2_exact")) / F.col("f2_exact")
    )
    return est.select(
        "n_keys",
        "f2_exact",
        "f2_ams",
        rel.alias("rel_err"),
        (rel < 1.0).alias("within_bound"),
    )


_IPW_EST_SQL = """CASE e.estimator
             WHEN 'naive' THEN
               CAST(m.s1 AS DOUBLE) / (m.n1 * 10000.0)
               - CAST(m.s0 AS DOUBLE) / ((m.n - m.n1) * 10000.0)
             WHEN 'ipw_ht' THEN
               CAST(m.wt - m.wc AS DOUBLE) * 100.0 / (240.0 * m.n * 10000.0)
             ELSE
               CAST(m.wt AS DOUBLE) / (m.sum_kt * 10000.0)
               - CAST(m.wc AS DOUBLE) / (m.sum_kc * 10000.0)
           END"""


@register(
    "q_ipw_ate",
    oracle=f"""
    WITH u AS (
      SELECT user_id * 100 + DAY(CAST(ts AS DATE)) AS uk,
             CAST(ROUND({R4('AVG(value)')} * 10000) AS BIGINT) AS y_q
      FROM events GROUP BY 1
    ), a AS (
      SELECT uk % 4 AS s,
             CASE WHEN (uk * 2654435761) % 9973 % 100
                       < 20 + 20 * (uk % 4) THEN 1 ELSE 0 END AS t,
             y_q
      FROM u
    ), o AS (
      SELECT s, t, y_q + 500000 * t + 300000 * s AS y,
             240 // (20 + 20 * s) AS kt, 240 // (80 - 20 * s) AS kc
      FROM a
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN t = 1 THEN y END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN t = 0 THEN y END) AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN t = 1 THEN y * kt END) AS BIGINT) AS wt,
             CAST(SUM(CASE WHEN t = 0 THEN y * kc END) AS BIGINT) AS wc,
             CAST(SUM(CASE WHEN t = 1 THEN kt END) AS BIGINT) AS sum_kt,
             CAST(SUM(CASE WHEN t = 0 THEN kc END) AS BIGINT) AS sum_kc
      FROM o
    )
    SELECT e.estimator, m.n AS n_units, m.n1 AS n_treated,
           {R4(_IPW_EST_SQL)} AS est,
           {R4('(' + _IPW_EST_SQL + ') - 50.0')} AS bias_vs_tau
    FROM m CROSS JOIN (
      VALUES ('naive'), ('ipw_ht'), ('ipw_hajek')
    ) e(estimator)
    """,
    priority="P2",
    tags=("experiment", "causal", "ipw"),
)
def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average-treatment-effect estimation
    on a deterministically CONFOUNDED observational design (Horvitz &
    Thompson 1952; Hajek 1971) — the causal-inference member of the
    experimentation family: `q_cuped`/`q_diff_in_diff` assume a
    randomized split; this operator is the non-randomized case, where
    the naive arm-mean difference is biased and reweighting recovers
    the planted effect. Units are (user, day) activity cells; the
    design (all deterministic, both regimes live at every SF): stratum
    s = unit % 4 shifts the outcome by +30·s, treatment propensity
    rises with the stratum (20/40/60/80 % via an avalanched unit
    hash — two-level prime mod, the `q_ams_f2` lesson: a raw mod-100
    multiplicative hash collapses to a day-only function on this key
    shape), and treatment adds the true τ = +50. High-outcome strata
    are over-treated, so `naive` reads ≈ +30 too high; `ipw_ht`
    (unnormalized 1/e weights) and `ipw_hajek` (self-normalized)
    de-bias it. The Hajek estimator with ESTIMATED per-stratum
    propensities is algebraically the blocked/stratified estimator,
    so that variant is not reported separately.

    Parity discipline: per-unit outcomes ride as exact integer
    ten-thousandths; the model propensities (20+20s)/100 have
    1/e ∝ 240/(20+20s) ∈ {12,6,4,3} and 1/(1−e) ∝ 240/(80−20s) ∈
    {3,4,6,12} — all INTEGER, so every estimator is a ratio of
    exact BIGINT masses with one double division under r4.

    Scale: one pass to the unit grain (map-side combined), then a
    1-row mass aggregate; the 3-row estimator panel is a literal
    cross join. The same shape prices any observational read at
    100 TB — the masses are add-mergeable partials.
    """
    e = load(spark, sf_dir, "events")
    u = (
        e.groupBy(
            (
                F.col("user_id") * 100
                + F.dayofmonth(F.col("ts").cast("date"))
            ).alias("uk")
        )
        .agg(
            F.round(r4(F.avg("value")) * 10000, 0)
            .cast("bigint")
            .alias("y_q")
        )
    )
    s = F.pmod(F.col("uk"), 4)
    t = F.when(
        F.pmod(F.pmod(F.col("uk") * F.lit(2654435761).cast("bigint"), 9973), 100)
        < 20 + 20 * s,
        1,
    ).otherwise(0)
    o = u.select(
        s.alias("s"),
        t.alias("t"),
        (F.col("y_q") + F.lit(500000) * t + F.lit(300000) * s).alias("y"),
    ).select(
        "s",
        "t",
        "y",
        (F.lit(240) / (20 + 20 * F.col("s"))).cast("bigint").alias("kt"),
        (F.lit(240) / (80 - 20 * F.col("s"))).cast("bigint").alias("kc"),
    )
    t1 = F.col("t") == 1
    m = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("n1"),
        F.sum(F.when(t1, F.col("y"))).cast("bigint").alias("s1"),
        F.sum(F.when(~t1, F.col("y"))).cast("bigint").alias("s0"),
        F.sum(F.when(t1, d38("y") * F.col("kt"))).alias("wt"),
        F.sum(F.when(~t1, d38("y") * F.col("kc"))).alias("wc"),
        F.sum(F.when(t1, F.col("kt"))).cast("bigint").alias("sum_kt"),
        F.sum(F.when(~t1, F.col("kc"))).cast("bigint").alias("sum_kc"),
    )
    est = spark.createDataFrame(
        [("naive",), ("ipw_ht",), ("ipw_hajek",)], "estimator string"
    )
    raw = (
        F.when(
            F.col("estimator") == "naive",
            F.col("s1").cast("double") / (F.col("n1") * 10000.0)
            - F.col("s0").cast("double")
            / ((F.col("n") - F.col("n1")) * 10000.0),
        )
        .when(
            F.col("estimator") == "ipw_ht",
            (F.col("wt") - F.col("wc")).cast("double")
            * 100.0
            / (240.0 * F.col("n") * 10000.0),
        )
        .otherwise(
            F.col("wt").cast("double") / (F.col("sum_kt") * 10000.0)
            - F.col("wc").cast("double") / (F.col("sum_kc") * 10000.0)
        )
    )
    return m.crossJoin(F.broadcast(est)).select(
        "estimator",
        F.col("n").alias("n_units"),
        F.col("n1").alias("n_treated"),
        r4(raw).alias("est"),
        r4(raw - 50.0).alias("bias_vs_tau"),
    )


_PVM_SPLIT = "1998-01-01"  # period boundary (orders span 1995..2001)


@register(
    "q_price_volume_mix",
    oracle=f"""
    WITH o AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN o.o_orderdate < TIMESTAMP '{_PVM_SPLIT}'
                  THEN 1 ELSE 2 END AS period,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), m AS (
      SELECT seg,
             CAST(SUM(CASE WHEN period = 1 THEN cents END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN period = 2 THEN cents END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS v1,
             CAST(SUM(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS v2
      FROM o GROUP BY 1
    )
    SELECT seg, v1, v2, s1, s2,
           CAST(s2 - s1 AS BIGINT) AS delta_cents,
           {R4('''(CAST(s2 AS DOUBLE) * v1 / v2 - s1) / 100.0''')}
             AS price_effect,
           {R4('''(CAST(s1 AS DOUBLE) * v2 / v1 - s1) / 100.0''')}
             AS volume_effect,
           {R4('''(CAST(s2 AS DOUBLE) * (v2 - v1) / v2
                  - CAST(s1 AS DOUBLE) * (v2 - v1) / v1) / 100.0''')}
             AS cross_effect
    FROM m WHERE v1 > 0 AND v2 > 0
    """,
    priority="P2",
    tags=("agg", "bridge", "decomposition"),
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge per market segment — the FP&A
    waterfall that explains a period-over-period revenue move
    (`q_period_over_period` reports THAT revenue moved; this says
    WHY): with p = average order value and v = order count,
    ΔR = (p₂−p₁)·v₁ (price effect) + p₁·(v₂−v₁) (volume effect)
    + (p₂−p₁)·(v₂−v₁) (cross/mix effect) — an exact algebraic
    identity, so the three effects telescope to the exact-cents
    delta (law-pinned to 4-dp tolerance, the only rounding in
    play).

    Each effect reduces to exact BIGINT masses with ONE double
    division (e.g. price = S₂·v₁/v₂ − S₁) — no p̄ intermediate, no
    float accumulation; the boundary is a fixed calendar split with
    both periods populated at every SF.

    Scale: one pass to the (segment, period) mass grain behind a
    broadcast customer-dim join; the bridge math runs on the
    5-row segment frame.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(
            F.col("o_orderdate") < F.lit(_PVM_SPLIT).cast("timestamp"), 1
        )
        .otherwise(2)
        .alias("period"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    m = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("seg")
        .agg(
            F.sum(F.when(F.col("period") == 1, F.col("cents")))
            .cast("bigint")
            .alias("s1"),
            F.sum(F.when(F.col("period") == 2, F.col("cents")))
            .cast("bigint")
            .alias("s2"),
            F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("v1"),
            F.sum(F.when(F.col("period") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("v2"),
        )
    )
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    v1, v2 = F.col("v1"), F.col("v2")
    return m.where((v1 > 0) & (v2 > 0)).select(
        "seg",
        "v1",
        "v2",
        "s1",
        "s2",
        (F.col("s2") - F.col("s1")).cast("bigint").alias("delta_cents"),
        r4((s2 * v1 / v2 - F.col("s1")) / 100.0).alias("price_effect"),
        r4((s1 * v2 / v1 - F.col("s1")) / 100.0).alias("volume_effect"),
        r4(
            (s2 * (v2 - v1) / v2 - s1 * (v2 - v1) / v1) / 100.0
        ).alias("cross_effect"),
    )


_DEFF_VARIANT_SQL = """
      SELECT 'organic' AS variant, user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      UNION ALL
      SELECT 'planted', user_id,
             CAST(ROUND(value * 100) AS BIGINT) + 2000 * (user_id % 7)
      FROM events
"""


@register(
    "q_design_effect",
    oracle=f"""
    WITH pool AS ({_DEFF_VARIANT_SQL}
    ), cl AS (
      SELECT variant, user_id,
             CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(v) AS BIGINT) AS s_i,
             CAST(SUM(v * v) AS BIGINT) AS ss_i,
             CAST(ROUND({R4('CAST(SUM(v) AS DOUBLE) * SUM(v) / COUNT(*)')}
                  * 10000) AS BIGINT) AS bterm_q
      FROM pool GROUP BY 1, 2
    ), m AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(SUM(s_i) AS BIGINT) AS s,
             CAST(SUM(ss_i) AS BIGINT) AS ss,
             CAST(SUM(bterm_q) AS BIGINT) AS bsum_q,
             CAST(SUM(n_i * n_i) AS BIGINT) AS nn
      FROM cl GROUP BY 1
    ), d AS (
      SELECT variant, k, n,
             (bsum_q / 10000.0 - CAST(s AS DOUBLE) * s / n) / (k - 1) AS msb,
             (ss - bsum_q / 10000.0) / (n - k) AS msw,
             (CAST(n AS DOUBLE) - CAST(nn AS DOUBLE) / n) / (k - 1) AS m0
      FROM m
    )
    SELECT variant, k AS n_clusters, n AS n_rows,
           {R4('(msb - msw) / (msb + (m0 - 1) * msw)')} AS icc,
           {R4('''1.0 + (CAST(n AS DOUBLE) / k - 1.0)
                 * ((msb - msw) / (msb + (m0 - 1) * msw))''')} AS deff,
           {R4('''n / (1.0 + (CAST(n AS DOUBLE) / k - 1.0)
                 * ((msb - msw) / (msb + (m0 - 1) * msw)))''')} AS n_effective
    FROM d
    """,
    priority="P2",
    tags=("experiment", "sampling", "design-effect"),
)
def q_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-sampling design effect (Kish DEFF = 1 + (m̄−1)·ICC):
    when units arrive in clusters (users, sessions, classrooms),
    n correlated rows carry less information than n independent
    ones, and powering an experiment by raw row count overstates
    precision — the sizing correction `q_mde_power` needs whenever
    randomization is by CLUSTER. ICC comes from the one-way ANOVA
    estimator with the unequal-cluster-size m₀ correction; DEFF and
    the effective sample size follow. Organic event values are iid
    across users (ICC ≈ 0, DEFF ≈ 1 — the honest negative); the
    planted variant shifts each user's values by 20·(user % 7), a
    real between-cluster component, so ICC ≫ 0 and DEFF ≫ 1 — both
    regimes live at every SF, law-pinned.

    All moments are exact BIGINT cents (sums, squares, cluster
    sums); the only per-cluster float — S_i²/n_i — rides as
    r4→integer ten-thousandths so the between-cluster sum is
    order-exact; ICC/DEFF are single formulas on those masses.

    Scale: one pass to the cluster grain (map-side combined), then
    a per-variant 1-row reduce — the same shape prices DEFF on a
    billion clusters.
    """
    e = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("v"),
        )
        .localCheckpoint(eager=False)  # both variants, one scan
    )
    pool = e.select(
        F.lit("organic").alias("variant"), "user_id", "v"
    ).unionByName(
        e.select(
            F.lit("planted").alias("variant"),
            "user_id",
            (F.col("v") + 2000 * (F.col("user_id") % 7)).alias("v"),
        )
    )
    cl = pool.groupBy("variant", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("v").cast("bigint").alias("s_i"),
        F.sum(d38("v") * F.col("v")).alias("ss_i"),
    )
    cl = cl.select(
        "*",
        F.round(
            r4(F.col("s_i").cast("double") * F.col("s_i") / F.col("n_i"))
            * 10000,
            0,
        )
        .cast("bigint")
        .alias("bterm_q"),
    )
    m = cl.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("s_i").cast("bigint").alias("s"),
        F.sum("ss_i").alias("ss"),  # decimal(38,0) through: see d38
        F.sum(d38("bterm_q")).alias("bsum_q"),
        F.sum(d38("n_i") * F.col("n_i")).alias("nn"),
    )
    bsum = F.col("bsum_q") / 10000.0
    msb = (bsum - F.col("s").cast("double") * F.col("s") / F.col("n")) / (
        F.col("k") - 1
    )
    msw = (F.col("ss") - bsum) / (F.col("n") - F.col("k"))
    m0 = (
        F.col("n").cast("double") - F.col("nn").cast("double") / F.col("n")
    ) / (F.col("k") - 1)
    icc = (msb - msw) / (msb + (m0 - 1) * msw)
    deff = 1.0 + (F.col("n").cast("double") / F.col("k") - 1.0) * icc
    return m.select(
        "variant",
        F.col("k").alias("n_clusters"),
        F.col("n").alias("n_rows"),
        r4(icc).alias("icc"),
        r4(deff).alias("deff"),
        r4(F.col("n") / deff).alias("n_effective"),
    )


_SIMPSON_STRAT_SQL = """
      SELECT user_id % 2 AS grp,
             CASE WHEN DAY(CAST(ts AS DATE)) < 16 THEN 'early'
                  ELSE 'late' END AS stratum,
             event_id, event_type
      FROM events WHERE event_type IN ('click', 'purchase')
"""


@register(
    "q_simpson_paradox",
    oracle=f"""
    WITH base AS ({_SIMPSON_STRAT_SQL}
    ), pool AS (
      SELECT 'organic' AS variant, grp, stratum,
             event_type = 'purchase' AS success
      FROM base
      UNION ALL
      SELECT 'planted', grp, stratum,
             CASE
               WHEN stratum = 'late' AND event_type = 'purchase'
                    AND event_id % 4 <> 0 THEN FALSE
               WHEN grp = 0 AND event_type = 'click'
                    AND event_id % 8 = 0 THEN TRUE
               ELSE event_type = 'purchase'
             END
      FROM base
      WHERE NOT (grp = 0 AND stratum = 'early' AND event_id % 3 <> 0)
        AND NOT (grp = 1 AND stratum = 'late' AND event_id % 3 <> 0)
    ), per AS (
      SELECT variant, stratum, grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM pool GROUP BY 1, 2, 3
    ), cells AS (
      SELECT * FROM per
      UNION ALL
      SELECT variant, 'ALL', grp,
             CAST(SUM(n) AS BIGINT), CAST(SUM(c) AS BIGINT)
      FROM per GROUP BY 1, 3
    ), wide AS (
      SELECT variant, stratum,
             CAST(SUM(CASE WHEN grp = 0 THEN n END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN grp = 1 THEN n END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN grp = 0 THEN c END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN grp = 1 THEN c END) AS BIGINT) AS c_b
      FROM cells GROUP BY 1, 2
    ), diffed AS (
      SELECT variant, stratum, n_a, n_b,
             {R4('CAST(c_a AS DOUBLE) / n_a')} AS rate_a,
             {R4('CAST(c_b AS DOUBLE) / n_b')} AS rate_b,
             {R4('CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b')}
               AS diff
      FROM wide
    )
    SELECT d.*,
           (MIN(CASE WHEN stratum <> 'ALL' THEN diff END)
              OVER (PARTITION BY variant) > 0
            AND MAX(CASE WHEN stratum = 'ALL' THEN diff END)
              OVER (PARTITION BY variant) < 0)
           OR
           (MAX(CASE WHEN stratum <> 'ALL' THEN diff END)
              OVER (PARTITION BY variant) < 0
            AND MIN(CASE WHEN stratum = 'ALL' THEN diff END)
              OVER (PARTITION BY variant) > 0)
             AS reversal
    FROM diffed d
    """,
    priority="P2",
    tags=("experiment", "simpson", "stratified"),
)
def q_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector: does the aggregate A-vs-B
    conversion comparison REVERSE the verdict every stratum agrees
    on? (`q_cmh_test` adjusts for strata; this flags when skipping
    that adjustment flips the sign — the aggregation trap itself.)
    Conversion = purchase share among click/purchase exposures,
    groups = user parity, strata = early/late month halves. Organic
    exposure is balanced and stratum rates are iid, so no reversal
    (the honest negative). The planted variant builds the classic
    Berkeley structure deterministically from the same rows: late
    purchases are mostly relabeled (late stratum becomes genuinely
    harder), group A is boosted a little in BOTH strata (wins every
    stratum) but exposed mostly late while B is exposed mostly
    early — so B wins the aggregate and the reversal flag fires,
    law-pinned at every SF.

    All masses exact; rates and diffs are single divisions under
    r4 rounded BEFORE the sign comparisons; the verdict windows run
    on the 6-row (variant, stratum) frame.

    Scale: one events pass to the (variant, stratum, group) cell
    grain (map-side combined); everything after is arithmetic on a
    bounded frame.
    """
    base = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            (F.col("user_id") % 2).alias("grp"),
            F.when(
                F.dayofmonth(F.col("ts").cast("date")) < 16, "early"
            )
            .otherwise("late")
            .alias("stratum"),
            "event_id",
            "event_type",
        )
    )
    organic = base.select(
        F.lit("organic").alias("variant"),
        "grp",
        "stratum",
        (F.col("event_type") == "purchase").alias("success"),
    )
    planted_success = (
        F.when(
            (F.col("stratum") == "late")
            & (F.col("event_type") == "purchase")
            & (F.col("event_id") % 4 != 0),
            F.lit(False),
        )
        .when(
            (F.col("grp") == 0)
            & (F.col("event_type") == "click")
            & (F.col("event_id") % 8 == 0),
            F.lit(True),
        )
        .otherwise(F.col("event_type") == "purchase")
    )
    planted = base.where(
        ~((F.col("grp") == 0) & (F.col("stratum") == "early") & (F.col("event_id") % 3 != 0))
        & ~((F.col("grp") == 1) & (F.col("stratum") == "late") & (F.col("event_id") % 3 != 0))
    ).select(
        F.lit("planted").alias("variant"),
        "grp",
        "stratum",
        planted_success.alias("success"),
    )
    pool = organic.unionByName(planted)
    per = pool.groupBy("variant", "stratum", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("success"), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    ).localCheckpoint(eager=False)  # strata partition the pool, so the
    # ALL row is the SUM of the 12-row cell frame — no second pool pass
    allr = per.groupBy("variant", "grp").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("c"),
    ).select("variant", F.lit("ALL").alias("stratum"), "grp", "n", "c")
    cells = per.unionByName(allr)
    wide = cells.groupBy("variant", "stratum").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("n"))).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("n"))).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("c"))).cast("bigint").alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("c"))).cast("bigint").alias("c_b"),
    )
    diff = r4(
        F.col("c_a").cast("double") / F.col("n_a")
        - F.col("c_b").cast("double") / F.col("n_b")
    )
    diffed = wide.select(
        "variant",
        "stratum",
        "n_a",
        "n_b",
        r4(F.col("c_a").cast("double") / F.col("n_a")).alias("rate_a"),
        r4(F.col("c_b").cast("double") / F.col("n_b")).alias("rate_b"),
        diff.alias("diff"),
    )
    wv = Window.partitionBy("variant")
    strat_diff = F.when(F.col("stratum") != "ALL", F.col("diff"))
    all_diff = F.when(F.col("stratum") == "ALL", F.col("diff"))
    reversal = (
        (F.min(strat_diff).over(wv) > 0) & (F.max(all_diff).over(wv) < 0)
    ) | ((F.max(strat_diff).over(wv) < 0) & (F.min(all_diff).over(wv) > 0))
    return diffed.select("*", reversal.alias("reversal"))


@register(
    "q_agg_histogram_log",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR(LOG2(o_totalprice)) AS BIGINT) AS bucket,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0
    ), lims AS (
      SELECT CAST(MIN(bucket) AS BIGINT) AS lo,
             CAST(MAX(bucket) AS BIGINT) AS hi
      FROM b
    ), spine AS (
      SELECT UNNEST(generate_series(lims.lo, lims.hi)) AS bucket FROM lims
    )
    SELECT s.bucket,
           CAST(POWER(2.0, s.bucket) AS BIGINT) AS lower_bound,
           CAST(COALESCE(COUNT(b.cents), 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(b.cents), 0) AS BIGINT) AS cents
    FROM spine s LEFT JOIN b ON b.bucket = s.bucket
    GROUP BY 1
    """,
    priority="P2",
    tags=("agg", "histogram", "log"),
)
def q_agg_histogram_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned histogram of order value — the heavy-tail
    companion to `q_agg_histogram`'s equi-width bins: monetary and
    count distributions span orders of magnitude, where linear bins
    put everything in bucket 0 and power-of-two bins (the jemalloc/
    HdrHistogram trick) give constant RELATIVE resolution. Bucket =
    ⌊log₂ x⌋ — an exact integer boundary both engines agree on at
    every representable double except exact powers of two, where
    log₂ is exact anyway — reported on the dense [min,max] bucket
    spine (house rule: holes are signal), with exact-cents mass per
    bucket.

    Scale: a per-row projection plus a partial+final aggregate on a
    grain bounded by the VALUE RANGE (≈60 buckets for anything that
    fits in a double), never row count; the spine is generated from
    a 1-row min/max reduce.
    """
    b = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.floor(F.log2("o_totalprice")).cast("bigint").alias("bucket"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
        .localCheckpoint(eager=False)  # limits + counts, one scan
    )
    lims = b.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = lims.select(
        F.explode(F.sequence("lo", "hi")).alias("bucket")
    )
    return (
        spine.join(b, "bucket", "left")
        .groupBy("bucket")
        .agg(
            F.pow(F.lit(2.0), F.col("bucket")).cast("bigint").alias("lower_bound"),
            F.count("cents").cast("bigint").alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents"),
        )
        .select("bucket", "lower_bound", "n_orders", "cents")
    )


_IV_EST_SQL = """CASE e.estimator
      WHEN 'naive' THEN
        CAST(m.sy_t AS DOUBLE) / (m.n_t * 10000.0)
        - CAST(m.sy_c AS DOUBLE) / ((m.n - m.n_t) * 10000.0)
      WHEN 'itt' THEN
        CAST(m.sy1 AS DOUBLE) / (m.n1 * 10000.0)
        - CAST(m.sy0 AS DOUBLE) / ((m.n - m.n1) * 10000.0)
      WHEN 'first_stage' THEN
        CAST(m.st1 AS DOUBLE) / m.n1
        - CAST(m.st0 AS DOUBLE) / (m.n - m.n1)
      ELSE
        (CAST(m.sy1 AS DOUBLE) / (m.n1 * 10000.0)
         - CAST(m.sy0 AS DOUBLE) / ((m.n - m.n1) * 10000.0))
        / (CAST(m.st1 AS DOUBLE) / m.n1
           - CAST(m.st0 AS DOUBLE) / (m.n - m.n1))
    END"""


@register(
    "q_causal_iv",
    oracle=f"""
    WITH u AS (
      SELECT user_id * 100 + DAY(CAST(ts AS DATE)) AS uk,
             CAST(ROUND({R4('AVG(value)')} * 10000) AS BIGINT) AS y_q
      FROM events GROUP BY 1
    ), a AS (
      SELECT uk % 4 AS s,
             CASE WHEN (uk * 2654435761) % 9973 % 100 < 50
                  THEN 1 ELSE 0 END AS z,
             (uk * 48271) % 9973 % 100 AS h2,
             y_q
      FROM u
    ), o AS (
      SELECT s, z,
             CASE WHEN h2 < 10 + 15 * s + 30 * z THEN 1 ELSE 0 END AS t,
             y_q
      FROM a
    ), w AS (
      SELECT s, z, t,
             y_q + 500000 * t + 300000 * s AS y
      FROM o
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z) AS BIGINT) AS n1,
             CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(SUM(CASE WHEN t = 1 THEN y END) AS BIGINT) AS sy_t,
             CAST(SUM(CASE WHEN t = 0 THEN y END) AS BIGINT) AS sy_c,
             CAST(SUM(CASE WHEN z = 1 THEN y END) AS BIGINT) AS sy1,
             CAST(SUM(CASE WHEN z = 0 THEN y END) AS BIGINT) AS sy0,
             CAST(SUM(CASE WHEN z = 1 THEN t ELSE 0 END) AS BIGINT) AS st1,
             CAST(SUM(CASE WHEN z = 0 THEN t ELSE 0 END) AS BIGINT) AS st0
      FROM w
    )
    SELECT e.estimator, m.n AS n_units, m.n1 AS n_instrumented,
           {R4(_IV_EST_SQL)} AS est,
           CASE WHEN e.estimator IN ('naive', 'wald_iv')
                THEN {R4('(' + _IV_EST_SQL + ') - 50.0')} END AS bias_vs_tau
    FROM m CROSS JOIN (
      VALUES ('naive'), ('itt'), ('first_stage'), ('wald_iv')
    ) e(estimator)
    """,
    priority="P2",
    tags=("experiment", "causal", "iv"),
)
def q_causal_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable (Wald/2SLS-with-binary-everything) LATE
    estimation — the third causal identification strategy beside
    `q_ipw_ate` (reweighting needs the confounder OBSERVED) and
    `q_diff_in_diff` (needs parallel trends): when treatment uptake
    is confounded but a random INSTRUMENT shifts it, τ = ITT /
    first-stage. The deterministic design on (user, day) units:
    stratum s confounds (shifts outcome +30·s AND uptake +15%·s),
    the instrument Z (50% avalanched hash, independent of s) adds
    +30 pts of uptake, treatment adds the true τ = +50. `naive`
    (treated-vs-untreated) is biased by the confounder; `itt` is
    diluted by non-compliance; `first_stage` is the compliance
    share; `wald_iv` = itt/first_stage recovers τ — all four panel
    rows from ONE set of exact BIGINT masses (outcomes ride as
    integer ten-thousandths, the `q_ipw_ate` discipline; the second
    hash uses a different multiplier so instrument and uptake noise
    are independent).

    Scale: one pass to the unit grain, a 1-row mass reduce, a
    4-row literal panel.
    """
    e = load(spark, sf_dir, "events")
    u = e.groupBy(
        (
            F.col("user_id") * 100 + F.dayofmonth(F.col("ts").cast("date"))
        ).alias("uk")
    ).agg(
        F.round(r4(F.avg("value")) * 10000, 0).cast("bigint").alias("y_q")
    )
    s = F.pmod(F.col("uk"), 4)
    z = F.when(
        F.pmod(F.pmod(F.col("uk") * F.lit(2654435761).cast("bigint"), 9973), 100)
        < 50,
        1,
    ).otherwise(0)
    h2 = F.pmod(F.pmod(F.col("uk") * F.lit(48271).cast("bigint"), 9973), 100)
    a = u.select(s.alias("s"), z.alias("z"), h2.alias("h2"), "y_q")
    t = F.when(F.col("h2") < 10 + 15 * F.col("s") + 30 * F.col("z"), 1).otherwise(0)
    w = a.select(
        "s",
        "z",
        t.alias("t"),
        (F.col("y_q") + 500000 * t + 300000 * F.col("s")).alias("y"),
    )
    z1, t1 = F.col("z") == 1, F.col("t") == 1
    m = w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("n1"),
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(F.when(t1, F.col("y"))).cast("bigint").alias("sy_t"),
        F.sum(F.when(~t1, F.col("y"))).cast("bigint").alias("sy_c"),
        F.sum(F.when(z1, F.col("y"))).cast("bigint").alias("sy1"),
        F.sum(F.when(~z1, F.col("y"))).cast("bigint").alias("sy0"),
        F.sum(F.when(z1, F.col("t")).otherwise(0)).cast("bigint").alias("st1"),
        F.sum(F.when(~z1, F.col("t")).otherwise(0)).cast("bigint").alias("st0"),
    )
    est_panel = spark.createDataFrame(
        [("naive",), ("itt",), ("first_stage",), ("wald_iv",)],
        "estimator string",
    )
    ny = F.col("sy_t").cast("double") / (F.col("n_t") * 10000.0) - F.col(
        "sy_c"
    ).cast("double") / ((F.col("n") - F.col("n_t")) * 10000.0)
    itt = F.col("sy1").cast("double") / (F.col("n1") * 10000.0) - F.col(
        "sy0"
    ).cast("double") / ((F.col("n") - F.col("n1")) * 10000.0)
    fs = F.col("st1").cast("double") / F.col("n1") - F.col("st0").cast(
        "double"
    ) / (F.col("n") - F.col("n1"))
    raw = (
        F.when(F.col("estimator") == "naive", ny)
        .when(F.col("estimator") == "itt", itt)
        .when(F.col("estimator") == "first_stage", fs)
        .otherwise(itt / fs)
    )
    return m.crossJoin(F.broadcast(est_panel)).select(
        "estimator",
        F.col("n").alias("n_units"),
        F.col("n1").alias("n_instrumented"),
        r4(raw).alias("est"),
        F.when(
            F.col("estimator").isin("naive", "wald_iv"), r4(raw - 50.0)
        ).alias("bias_vs_tau"),
    )


_VIF_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def _vif_oracle() -> str:
    """Closed-form 3-variable VIF from the r4-rounded correlation
    triangle (the q_agg_corr_matrix device): rounding the correlations
    FIRST makes the downstream algebra bit-identical cross-engine."""
    a, b, c = _VIF_COLS
    m = (
        f"SELECT {R4(f'corr({a}, {b})')} AS r12, "
        f"{R4(f'corr({a}, {c})')} AS r13, "
        f"{R4(f'corr({b}, {c})')} AS r23 FROM lineitem"
    )
    def r2(x, y, z):  # R² of the var whose partners correlate x,y; partners z
        return f"(({x})*({x}) + ({y})*({y}) - 2.0*({x})*({y})*({z})) / (1.0 - ({z})*({z}))"
    rows = []
    for feat, (x, y, z) in zip(
        _VIF_COLS,
        (("r12", "r13", "r23"), ("r12", "r23", "r13"), ("r13", "r23", "r12")),
    ):
        expr = R4(r2(x, y, z))
        rows.append(
            f"SELECT '{feat}' AS feature, {expr} AS r2_4, "
            f"CASE WHEN {expr} >= 1.0 THEN 0.0 "
            f"ELSE {R4(f'1.0 / (1.0 - {expr})')} END AS vif4, "
            f"{expr} >= 1.0 AS collinear FROM m"
        )
    return f"WITH m AS ({m}) " + " UNION ALL ".join(rows)


@register(
    "q_vif",
    oracle=_vif_oracle(),
    priority="P2",
    tags=("agg", "stats", "multicollinearity", "feature-screening"),
)
def q_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-inflation factors for the three lineitem features —
    the multicollinearity screen run before any regression /
    feature-selection step (`q_grouped_ols`, `q_feature_cross`
    consumers): VIF_i = 1/(1 − R²_i) where R²_i regresses feature i
    on the other two, in closed form from the 3×3 correlation
    triangle. extendedprice ≈ quantity × unit-price makes its VIF
    land well above the classic 5-10 alarm band while discount sits
    near 1 — both regimes present at every SF.

    Determinism: the three correlations are r4-rounded FIRST (the
    `q_agg_corr_matrix` device), so the closed-form algebra runs on
    identical 4-dp inputs cross-engine; R² is re-rounded before the
    VIF division (round-before-threshold) and R² ≥ 1 (exact
    collinearity) null-guards to vif 0 with a `collinear` flag.

    Scale: ONE aggregate pass computes all three correlations (fused
    moment accumulators, map-side combined); the algebra runs on a
    1-row frame."""
    a, b, c = _VIF_COLS
    li = load(spark, sf_dir, "lineitem")
    m = li.agg(
        r4(F.corr(a, b)).alias("r12"),
        r4(F.corr(a, c)).alias("r13"),
        r4(F.corr(b, c)).alias("r23"),
    ).localCheckpoint(eager=False)  # three per-feature rows — one agg pass

    def r2of(x: str, y: str, z: str):
        xx, yy, zz = F.col(x), F.col(y), F.col(z)
        return r4((xx * xx + yy * yy - 2.0 * xx * yy * zz) / (1.0 - zz * zz))

    rows = []
    for feat, (x, y, z) in zip(
        _VIF_COLS,
        (("r12", "r13", "r23"), ("r12", "r23", "r13"), ("r13", "r23", "r12")),
    ):
        e = r2of(x, y, z)
        rows.append(
            m.select(
                F.lit(feat).alias("feature"),
                e.alias("r2_4"),
                F.when(e >= 1.0, F.lit(0.0))
                .otherwise(r4(1.0 / (1.0 - e)))
                .alias("vif4"),
                (e >= 1.0).alias("collinear"),
            )
        )
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionByName(r_)
    return out


_BT_MODELS = 8
_BT_TRIALS = 40
_BT_ROUNDS = 3


def _bt_oracle() -> str:
    """Unrolled Bradley-Terry minorization-maximization: per round,
    r_a ← W_a / Σ_{b≠a} n_ab/(r_a + r_b), sum-normalized to k and
    r10-rounded (the PageRank per-round discipline) so three chained
    rounds are engine-identical."""
    head = f"""
    WITH models AS MATERIALIZED (
      SELECT CAST(n_nationkey AS BIGINT) AS m FROM nation
      WHERE n_nationkey < {_BT_MODELS}
    ),
    matches AS MATERIALIZED (
      SELECT a.m AS ma, b.m AS mb, t.t,
             ((a.m * 131 + b.m * 17 + t.t) * 2654435761) % 100
               < 50 + 5 * (a.m - b.m) AS a_wins
      FROM models a JOIN models b ON a.m < b.m
      CROSS JOIN (SELECT unnest(generate_series(0, {_BT_TRIALS - 1})) AS t) t
    ),
    wins AS MATERIALIZED (
      SELECT m, CAST(SUM(w) AS BIGINT) AS w FROM (
        SELECT ma AS m, CASE WHEN a_wins THEN 1 ELSE 0 END AS w FROM matches
        UNION ALL
        SELECT mb AS m, CASE WHEN a_wins THEN 0 ELSE 1 END AS w FROM matches
      ) GROUP BY m
    ),
    nab AS MATERIALIZED (
      SELECT ma, mb, CAST(COUNT(*) AS BIGINT) AS n FROM matches GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT ma AS m, mb AS o, n FROM nab
      UNION ALL
      SELECT mb AS m, ma AS o, n FROM nab
    ),
    r0 AS (SELECT m, 1.0 AS r FROM models)"""
    its = []
    for k in range(1, _BT_ROUNDS + 1):
        its.append(f""",
    d{k} AS (
      SELECT p.m, SUM(p.n / (ra.r + rb.r)) AS denom
      FROM pairs p
      JOIN r{k - 1} ra ON p.m = ra.m
      JOIN r{k - 1} rb ON p.o = rb.m
      GROUP BY p.m
    ),
    u{k} AS (
      SELECT w.m, w.w / d.denom AS r
      FROM wins w JOIN d{k} d ON w.m = d.m
    ),
    r{k} AS (
      SELECT m, {R('r * ' + str(_BT_MODELS)
                   + '.0 / (SELECT SUM(r) FROM u' + str(k) + ')', 10)} AS r
      FROM u{k}
    )""")
    tail = f"""
    SELECT w.m AS model, w.w AS wins, r.r AS rating10,
           CAST(row_number() OVER (ORDER BY r.r DESC, w.m) AS BIGINT) AS rank
    FROM wins w JOIN r{_BT_ROUNDS} r ON w.m = r.m
    """
    return head + "".join(its) + tail


@register(
    "q_elo_bradley_terry",
    oracle=_bt_oracle(),
    priority="P2",
    tags=("agg", "statistics", "ranking", "iterative"),
)
def q_elo_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise win/loss records —
    the arena-style model-ranking computation (chat-eval leaderboards
    fit exactly this): 8 contenders with PLANTED strengths (win
    probability 50 + 5·Δstrength %, deterministic Knuth-hash trials,
    40 per pair), then 3 minorization-maximization rounds of
    r_a ← W_a / Σ_b n_ab/(r_a + r_b), sum-normalized each round. The
    recovered rating ORDER matches the planted strengths — the
    estimator works, and the driver hash pins it.

    Determinism: match outcomes and win counts are exact integers; each
    round's ratings are r10-rounded after normalization (the PageRank
    per-round discipline), so chained rounds cannot drift cross-engine.

    Scale: the iteration runs on k-row state (k models) with k²-row
    pair stats — at any data size the expensive part is the ONE
    aggregation from raw match logs to (pair, wins) counts, map-side
    combined; rounds never touch raw matches again."""
    models = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_nationkey") < _BT_MODELS)
        .select(F.col("n_nationkey").cast("bigint").alias("m"))
    )
    b = models.select(F.col("m").alias("mb"))
    trials = models.sparkSession.range(_BT_TRIALS).select(
        F.col("id").alias("t")
    )
    a_wins = (
        F.pmod(
            (F.col("m") * 131 + F.col("mb") * 17 + F.col("t"))
            * F.lit(2654435761).cast("bigint"),
            F.lit(100),
        )
        < 50 + 5 * (F.col("m") - F.col("mb"))
    )
    matches = (
        models.crossJoin(b)
        .where(F.col("m") < F.col("mb"))
        .crossJoin(trials)
        .select(
            F.col("m").alias("ma"), "mb", "t", a_wins.alias("a_wins")
        )
        .localCheckpoint(eager=False)  # wins + pair-count legs
    )
    wins = (
        matches.select(
            F.col("ma").alias("m"), F.col("a_wins").cast("int").alias("w")
        )
        .unionByName(
            matches.select(
                F.col("mb").alias("m"),
                (~F.col("a_wins")).cast("int").alias("w"),
            )
        )
        .groupBy("m")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .localCheckpoint(eager=False)  # every round + final join
    )
    nab = matches.groupBy("ma", "mb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    pairs = nab.select(
        F.col("ma").alias("m"), F.col("mb").alias("o"), "n"
    ).unionByName(
        nab.select(F.col("mb").alias("m"), F.col("ma").alias("o"), "n")
    ).localCheckpoint(eager=False)  # reused every round
    r = models.select("m", F.lit(1.0).alias("r")).localCheckpoint(
        eager=False
    )
    for _ in range(_BT_ROUNDS):
        ra = r.select(F.col("m").alias("m_a"), F.col("r").alias("r_a"))
        rb = r.select(F.col("m").alias("m_b"), F.col("r").alias("r_b"))
        denom = (
            pairs.join(ra, pairs.m == ra.m_a)
            .join(rb, pairs.o == rb.m_b)
            .groupBy("m")
            .agg(F.sum(F.col("n") / (F.col("r_a") + F.col("r_b"))).alias("denom"))
        )
        u = wins.join(denom, "m").select(
            "m", (F.col("w") / F.col("denom")).alias("r")
        )
        tot = u.agg(F.sum("r").alias("s"))
        r = (
            u.crossJoin(F.broadcast(tot))
            .select(
                "m",
                F.round(F.col("r") * float(_BT_MODELS) / F.col("s"), 10)
                .alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    w = Window.orderBy(F.desc("r"), F.asc("m"))
    return (
        wins.join(r, "m")
        .select(
            F.col("m").alias("model"),
            F.col("w").alias("wins"),
            F.col("r").alias("rating10"),
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
    )


_GINI_THRESHOLDS = (150, 200, 250, 300, 350, 400, 450)


@register(
    "q_gini_split",
    oracle=f"""
    WITH d AS (
      SELECT n_chars, CAST(lang = 'en' AS INT) AS y FROM documents
    ), th AS (
      SELECT unnest(ARRAY{list(_GINI_THRESHOLDS)}) AS thr
    ), sides AS (
      SELECT th.thr,
             CAST(SUM(CASE WHEN d.n_chars <= th.thr THEN 1 ELSE 0 END)
               AS BIGINT) AS nl,
             CAST(SUM(CASE WHEN d.n_chars <= th.thr THEN y ELSE 0 END)
               AS BIGINT) AS pl,
             CAST(SUM(CASE WHEN d.n_chars > th.thr THEN 1 ELSE 0 END)
               AS BIGINT) AS nr,
             CAST(SUM(CASE WHEN d.n_chars > th.thr THEN y ELSE 0 END)
               AS BIGINT) AS pr
      FROM d CROSS JOIN th GROUP BY th.thr
    ), g AS (
      SELECT thr, nl, nr,
             CASE WHEN nl = 0 OR nr = 0 THEN 0.5
                  ELSE {R4(
                      '(nl * (2.0 * pl / nl * (1.0 - CAST(pl AS DOUBLE) / nl))'
                      ' + nr * (2.0 * pr / nr * (1.0 - CAST(pr AS DOUBLE) / nr)))'
                      ' / (nl + nr)')}
             END AS wgini4
      FROM sides
    )
    SELECT thr, nl, nr, wgini4,
           CAST(row_number() OVER (ORDER BY wgini4, thr) AS BIGINT) = 1
             AS is_best
    FROM g
    """,
    priority="P2",
    tags=("agg", "statistics", "decision-stump", "feature-screening"),
)
def q_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search: weighted Gini impurity of the
    binary label (lang = 'en') at each candidate threshold over
    n_chars, best split flagged — the inner loop of every tree
    learner, run as ONE aggregate pass (each threshold is a
    conditional count, so the scan is not repeated per candidate —
    the formulation that makes distributed tree training feasible).
    The fixture's label is nearly independent of length, so the best
    split's gain is small — itself the informative reading (don't
    stump on this feature), and the ordering is still fully
    deterministic.

    Determinism: all side/positive counts are exact integers; each
    weighted Gini is one double formula over them, r4-rounded BEFORE
    the best-split ranking (round-before-threshold); empty sides pin
    impurity to the 0.5 maximum rather than dividing by zero.

    Scale: thresholds arrive as a broadcast literal dim; one
    conditional-aggregate pass over the fact regardless of candidate
    count; the argmin runs on the |thresholds|-row frame."""
    d = load(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("y")
    )
    th = d.sparkSession.createDataFrame(
        [(t,) for t in _GINI_THRESHOLDS], "thr int"
    )
    left = F.col("n_chars") <= F.col("thr")
    sides = (
        d.crossJoin(F.broadcast(th))
        .groupBy("thr")
        .agg(
            F.sum(left.cast("int")).cast("bigint").alias("nl"),
            F.sum(F.when(left, F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("pl"),
            F.sum((~left).cast("int")).cast("bigint").alias("nr"),
            F.sum(F.when(~left, F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("pr"),
        )
    )
    nl, pl, nr, pr = (F.col(c) for c in ("nl", "pl", "nr", "pr"))
    wg = F.when((nl == 0) | (nr == 0), F.lit(0.5)).otherwise(
        r4(
            (
                nl * (2.0 * pl / nl * (1.0 - pl.cast("double") / nl))
                + nr * (2.0 * pr / nr * (1.0 - pr.cast("double") / nr))
            )
            / (nl + nr)
        )
    )
    w = Window.orderBy("wgini4", "thr")
    return (
        sides.select("thr", "nl", "nr", wg.alias("wgini4"))
        .withColumn(
            "is_best", F.row_number().over(w).cast("bigint") == 1
        )
    )


_CTR_ALPHA = 5.0   # Beta prior pseudo-successes
_CTR_BETA = 20.0   # Beta prior pseudo-failures


@register(
    "q_ctr_smoothing",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS conv,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS views
      FROM events GROUP BY user_id
    )
    SELECT user_id, conv, views,
           CASE WHEN views = 0 THEN 0.0
                ELSE {R4('conv * 1.0 / views')} END AS raw_rate4,
           {R4(f'(conv + {_CTR_ALPHA!r}) / (views + {_CTR_ALPHA!r} + {_CTR_BETA!r})')}
             AS smoothed4,
           views < 20 AS low_volume
    FROM u
    """,
    priority="P2",
    tags=("agg", "statistics", "smoothing", "feature-engineering"),
)
def q_ctr_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-prior rate smoothing (empirical-Bayes CTR shrinkage): each
    user's purchase-per-view rate shrunk toward the Beta(5, 20) prior
    mean — (conv + α)/(views + α + β) — the standard fix for the
    sparse-key rate-feature trap (a 1-view 1-purchase user is NOT a
    100% converter; the raw and smoothed columns sit side by side with
    a low-volume flag so the shrinkage is visible exactly where it
    matters). The Bayesian sibling of `q_target_encode_loo`.

    Determinism: counts exact; both rates are single double formulas
    over them (prior constants are shared literals), r4-rounded;
    views = 0 null-guards the raw rate.

    Scale: one conditional-count aggregate keyed by user — map-side
    combined; no joins, no windows."""
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("bigint")
            .alias("conv"),
            F.sum((F.col("event_type") == "view").cast("int"))
            .cast("bigint")
            .alias("views"),
        )
    )
    return u.select(
        "user_id",
        "conv",
        "views",
        F.when(F.col("views") == 0, F.lit(0.0))
        .otherwise(r4(F.col("conv") * 1.0 / F.col("views")))
        .alias("raw_rate4"),
        r4(
            (F.col("conv") + _CTR_ALPHA)
            / (F.col("views") + _CTR_ALPHA + _CTR_BETA)
        ).alias("smoothed4"),
        (F.col("views") < 20).alias("low_volume"),
    )


_XI_PAIRS = (
    ("l_quantity", "l_extendedprice"),  # dependent (price ≈ qty × unit)
    ("l_quantity", "l_discount"),       # independent → ξ ≈ 0
    ("l_quantity", "l_quantity"),       # planted perfect dependence → ξ → 1
)


def _xi_oracle() -> str:
    legs = []
    for x, y in _XI_PAIRS:
        legs.append(f"""
      SELECT l_returnflag AS grp, '{x}->{y}' AS pair,
             {x} AS x, {y} AS y
      FROM lineitem""")
    return f"""
    WITH obs AS ({" UNION ALL ".join(legs)}),
    ranked AS (
      SELECT grp, pair, x,
             COUNT(*) OVER (PARTITION BY grp, pair ORDER BY y
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      FROM obs
    ), seq AS (
      SELECT grp, pair, r,
             lag(r) OVER (PARTITION BY grp, pair ORDER BY x, r) AS r_prev
      FROM ranked
    ), s AS (
      SELECT grp, pair,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ABS(r - r_prev)) AS BIGINT) AS sd
      FROM seq WHERE r_prev IS NOT NULL GROUP BY 1, 2
    )
    SELECT grp, pair, n + 1 AS n,
           {R4('1.0 - 3.0 * sd / (CAST(n + 1 AS DOUBLE) * (n + 1) - 1)')}
             AS xi4
    FROM s
    """


@register(
    "q_xi_correlation",
    oracle=_xi_oracle(),
    priority="P2",
    tags=("agg", "statistics", "dependence"),
)
def q_xi_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ (2021) — the rank-based dependence coefficient
    that detects ANY functional relationship y = f(x), not just
    monotone ones (Pearson and Spearman both miss non-monotone f):
    ξ = 1 − 3·Σ|r_{{i+1}} − r_i|/(n² − 1) where r_i = #{{y_j ≤ y_i}}
    and the sequence runs in x-order. Computed per return-flag group
    for three pairs that pin the coefficient's range organically:
    quantity→price (dependent, ξ markedly > 0), quantity→discount
    (independent, ξ ≈ 0), and quantity→quantity (perfect dependence,
    ξ → 1 — the planted calibration leg).

    Determinism: ranks come from a RANGE-frame count (exact ≤-count,
    tie-safe), and the sequence orders by (x, r) — ties in x order by
    the y-rank itself, the deterministic minimal-|Δr| estimator
    variant. This matters because the fixture's
    (l_orderkey, l_linenumber) is NOT unique (6000 rows / 4599
    distinct pairs at sf0.001 — discovered when the first cut's
    "unique-key" tiebreak produced plan-dependent sums); rows tying
    on BOTH x and r are interchangeable in Σ|Δr|, so (x, r) is a
    sufficient total order even with full-duplicate rows. Σ|Δr| is an
    exact bigint; ξ is one division.

    Scale: two partitioned windows per (group, pair) — a rank pass and
    a lag pass — never global; the per-group frames shuffle once
    each."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    ).localCheckpoint(eager=False)  # one scan for all three pair legs
    obs = None
    for x, y in _XI_PAIRS:
        leg = li.select(
            F.col("l_returnflag").alias("grp"),
            F.lit(f"{x}->{y}").alias("pair"),
            F.col(x).alias("x"),
            F.col(y).alias("y"),
        )
        obs = leg if obs is None else obs.unionByName(leg)
    wr = (
        Window.partitionBy("grp", "pair")
        .orderBy("y")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    ranked = obs.select(
        "grp",
        "pair",
        "x",
        F.count(F.lit(1)).over(wr).alias("r"),
    )
    ws = Window.partitionBy("grp", "pair").orderBy("x", "r")
    seq = ranked.select(
        "grp", "pair", "r", F.lag("r").over(ws).alias("r_prev")
    )
    s = (
        seq.where(F.col("r_prev").isNotNull())
        .groupBy("grp", "pair")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.abs(F.col("r") - F.col("r_prev")))
            .cast("bigint")
            .alias("sd"),
        )
    )
    n1 = F.col("n") + 1
    return s.select(
        "grp",
        "pair",
        n1.cast("bigint").alias("n"),
        r4(1.0 - 3.0 * F.col("sd") / (n1.cast("double") * n1 - 1)).alias(
            "xi4"
        ),
    )


_TOST_DELTA = 7.0    # equivalence margin (value units; mean ≈ 45)
_TOST_Z = 1.6449     # one-sided 5% normal point


@register(
    "q_tost_equivalence",
    oracle=f"""
    WITH base AS (
      SELECT event_id, value FROM events
    ), arms AS (
      SELECT 'equivalent' AS scope,
             CASE WHEN (event_id * 2654435761) % 2 = 0 THEN 'a' ELSE 'b' END
               AS arm,
             value
      FROM base
      UNION ALL
      SELECT 'shifted' AS scope, 'a' AS arm, value FROM base
      UNION ALL
      SELECT 'shifted' AS scope, 'b' AS arm, value + 20 AS value FROM base
    ), g AS (
      SELECT scope, arm, CAST(COUNT(*) AS BIGINT) AS n,
             {R('AVG(value)', 10)} AS mean,
             {R('VAR_SAMP(value)', 10)} AS var
      FROM arms GROUP BY 1, 2
    ), w AS (
      SELECT a.scope, a.n AS n_a, b.n AS n_b,
             {R4('a.mean - b.mean')} AS diff4,
             {R4(f'(a.mean - b.mean + {_TOST_DELTA!r})'
                 ' / SQRT(a.var / a.n + b.var / b.n)')} AS t_low4,
             {R4(f'(a.mean - b.mean - {_TOST_DELTA!r})'
                 ' / SQRT(a.var / a.n + b.var / b.n)')} AS t_high4
      FROM (SELECT * FROM g WHERE arm = 'a') a
      JOIN (SELECT * FROM g WHERE arm = 'b') b ON a.scope = b.scope
    )
    SELECT scope, n_a, n_b, diff4, t_low4, t_high4,
           t_low4 > {_TOST_Z!r} AND t_high4 < -{_TOST_Z!r} AS equivalent
    FROM w
    """,
    priority="P2",
    tags=("agg", "stats", "abtest", "equivalence"),
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided Welch tests) — the A/B
    question `q_ab_ttest` CANNOT answer: "prove the treatment did NOT
    move the metric by more than δ" (a non-significant difference test
    is absence of evidence; TOST is evidence of absence — the
    no-regression gate for infra rollouts and model swaps). Declares
    equivalence iff BOTH one-sided statistics clear the ±δ = 5.0
    margin at the 5% level.

    Both verdicts at every SF: a deterministic hash split of the FULL
    event population (same distribution — DECLARES equivalent; the
    click-only slice was tried first and is genuinely underpowered at
    sf0.001, where an unlucky 210-row split differs by 21 — TOST
    correctly refusing to certify a small sample is the method
    working, but the branch contract wants a powered example) and a
    planted +20-shifted copy (exceeds the margin — FAILS). Group
    moments are r10-rounded before the two t formulas (the q_ab_ttest
    device); both statistics r4 before the threshold.

    Scale: per-scope 1-row moment aggregates off one scan of the
    filtered stream, joined broadcast-style — the test costs one scan
    regardless of arm sizes."""
    base = (
        load(spark, sf_dir, "events")
        .select("event_id", "value")
        .localCheckpoint(eager=False)  # three arm legs — one scan
    )
    arms = (
        base.select(
            F.lit("equivalent").alias("scope"),
            F.when(
                F.pmod(
                    F.col("event_id") * F.lit(2654435761).cast("bigint"),
                    F.lit(2),
                )
                == 0,
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("arm"),
            "value",
        )
        .unionByName(
            base.select(
                F.lit("shifted").alias("scope"),
                F.lit("a").alias("arm"),
                "value",
            )
        )
        .unionByName(
            base.select(
                F.lit("shifted").alias("scope"),
                F.lit("b").alias("arm"),
                (F.col("value") + 20).alias("value"),
            )
        )
    )
    g = arms.groupBy("scope", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("value"), 10).alias("mean"),
        F.round(F.var_samp("value"), 10).alias("var"),
    )
    a = g.where(F.col("arm") == "a").select(
        "scope",
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = g.where(F.col("arm") == "b").select(
        F.col("scope").alias("scope_b"),
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    se = F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    diff = F.col("mean_a") - F.col("mean_b")
    t_low = r4((diff + _TOST_DELTA) / se)
    t_high = r4((diff - _TOST_DELTA) / se)
    return (
        a.join(F.broadcast(b), a.scope == b.scope_b)
        .select(
            "scope",
            "n_a",
            "n_b",
            r4(diff).alias("diff4"),
            t_low.alias("t_low4"),
            t_high.alias("t_high4"),
            ((t_low > _TOST_Z) & (t_high < -_TOST_Z)).alias("equivalent"),
        )
    )


# Wald SPRT literals, integer 1e-8ths (shared across both engines so the
# cumulative walk is exact bigint arithmetic — the libm ulp dodge):
# H0 p=0.05 vs H1 p=0.10, alpha = beta = 0.05.
_SPRT_L1 = 69314718     # round(ln(0.10/0.05) * 1e8)  — per conversion
_SPRT_L0 = -5406722     # round(ln(0.90/0.95) * 1e8)  — per non-conversion
_SPRT_A = 294443898     # round(ln((1-beta)/alpha) * 1e8) — reject-H0 line
# accept-H0 line is the negative by symmetry (ln(beta/(1-alpha)))


@register(
    "q_sprt_monitor",
    oracle=f"""
    WITH base AS (
      SELECT epoch_us(ts) AS ord, event_id,
             (event_id * 2654435761) % 1000 AS h, event_type
      FROM events
    ), streams AS (
      SELECT 'organic_purchase' AS stream, ord, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM base
      UNION ALL
      SELECT 'null_5pct' AS stream, ord, event_id,
             CASE WHEN h < 50 THEN 1 ELSE 0 END AS x
      FROM base
      UNION ALL
      SELECT 'alt_10pct' AS stream, ord, event_id,
             CASE WHEN h < 100 THEN 1 ELSE 0 END AS x
      FROM base
    ), inc AS (
      SELECT stream, ord, event_id,
             CASE WHEN x = 1 THEN {_SPRT_L1} ELSE {_SPRT_L0} END AS llr_inc
      FROM streams
    ), walk AS (
      SELECT stream,
             CAST(SUM(llr_inc) OVER (PARTITION BY stream ORDER BY ord, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr8,
             CAST(ROW_NUMBER() OVER (PARTITION BY stream ORDER BY ord, event_id)
                  AS BIGINT) AS rn
      FROM inc
    ), crossed AS (
      SELECT stream, CAST(MIN(rn) AS BIGINT) AS n_decide,
             CAST(MIN_BY(llr8, rn) AS BIGINT) AS llr8_decide
      FROM walk
      WHERE llr8 >= {_SPRT_A} OR llr8 <= -{_SPRT_A}
      GROUP BY 1
    ), totals AS (
      SELECT stream, CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(llr_inc) AS BIGINT) AS llr8_final
      FROM inc GROUP BY 1
    )
    SELECT t.stream, t.n_obs,
           CASE WHEN c.stream IS NULL THEN 'undecided'
                WHEN c.llr8_decide > 0 THEN 'reject_h0'
                ELSE 'accept_h0' END AS decision,
           COALESCE(c.n_decide, t.n_obs) AS n_decide,
           COALESCE(c.llr8_decide, t.llr8_final) AS llr8_decide
    FROM totals t LEFT JOIN crossed c ON t.stream = c.stream
    """,
    priority="P2",
    tags=("agg", "stats", "abtest", "sequential"),
)
def q_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test (SPRT) — the SEQUENTIAL
    A/B decision every other test here lacks: `q_ab_ttest` /
    `q_ab_proportions` / `q_tost_equivalence` are fixed-horizon (peek
    early and the error rates are void); SPRT is the test you may
    look at after EVERY observation, stopping the moment the
    cumulative log-likelihood ratio leaves the (ln B, ln A) corridor
    with both error rates still controlled at 5%. Monitors a 5%-vs-10%
    conversion hypothesis along the time-ordered event stream and
    reports, per stream: the verdict, how many observations it took,
    and the LLR at the stopping point.

    Three streams keep every verdict branch live at every SF: a
    planted 5% Knuth-hash conversion ACCEPTS H0, a planted 10% one
    REJECTS H0, and the organic purchase share (~20%) rejects fastest
    — sequential tests stop sooner the further truth is from H0. The
    LLR walk is exact bigint arithmetic over shared integer-1e-8ths
    log-likelihood literals (the libm ulp dodge), so the stopping row
    is identical cross-engine by construction; 'undecided' (corridor
    never left) is handled, not assumed away.

    Scale: the walk is a per-stream prefix sum in (ts, event_id)
    order — the banded-window device (32 value-range bands on the
    timestamp, per-band windows + band-grain offsets), so no global
    single-task sort; the decision extraction is a 1-row-per-stream
    conditional aggregate. In production the monitor would read the
    live stream and stop physically; this batch form is the audit
    twin that replays the decision path."""
    from modforms_db_spark.operators.banded import with_banded_order

    base = (
        load(spark, sf_dir, "events")
        .select(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ord"),
            "event_id",
            F.pmod(
                F.col("event_id") * F.lit(2654435761).cast("bigint"),
                F.lit(1000),
            ).alias("h"),
            "event_type",
        )
    )
    streams = (
        base.select(
            F.lit("organic_purchase").alias("stream"),
            "ord",
            "event_id",
            (F.col("event_type") == "purchase").cast("int").alias("x"),
        )
        .unionByName(
            base.select(
                F.lit("null_5pct").alias("stream"),
                "ord",
                "event_id",
                (F.col("h") < 50).cast("int").alias("x"),
            )
        )
        .unionByName(
            base.select(
                F.lit("alt_10pct").alias("stream"),
                "ord",
                "event_id",
                (F.col("h") < 100).cast("int").alias("x"),
            )
        )
    )
    inc = streams.select(
        "stream",
        "ord",
        "event_id",
        F.when(F.col("x") == 1, F.lit(_SPRT_L1))
        .otherwise(F.lit(_SPRT_L0))
        .cast("bigint")
        .alias("llr_inc"),
    )
    walk = with_banded_order(
        inc,
        "ord",
        ["event_id"],
        group_cols=["stream"],
        cumsum_col="llr_inc",
        rn_name="rn",
        cum_name="llr8",
    )
    crossed = (
        walk.where(
            (F.col("llr8") >= _SPRT_A) | (F.col("llr8") <= -_SPRT_A)
        )
        .groupBy("stream")
        .agg(
            F.min("rn").cast("bigint").alias("n_decide"),
            F.min_by("llr8", "rn").cast("bigint").alias("llr8_decide"),
        )
    )
    totals = walk.groupBy("stream").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("llr_inc").cast("bigint").alias("llr8_final"),
    )
    c = crossed.select(
        F.col("stream").alias("stream_c"), "n_decide", "llr8_decide"
    )
    return (
        totals.join(
            F.broadcast(c), totals.stream == c.stream_c, "left"
        )
        .select(
            "stream",
            "n_obs",
            F.when(F.col("stream_c").isNull(), F.lit("undecided"))
            .when(F.col("llr8_decide") > 0, F.lit("reject_h0"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
            F.coalesce(F.col("n_decide"), F.col("n_obs")).alias("n_decide"),
            F.coalesce(F.col("llr8_decide"), F.col("llr8_final")).alias(
                "llr8_decide"
            ),
        )
    )


_JB_CRIT = 9.2103  # chi-square(2) upper 1% point
_JB_CAP = 1000     # SF-invariant subsample: event_id < 1000 (ids are dense)


@register(
    "q_jarque_bera",
    oracle=f"""
    WITH sub AS (
      SELECT event_id, value FROM events WHERE event_id < {_JB_CAP}
    ), h1 AS (
      SELECT event_id, value, (event_id * 2654435761) % {_CMH_MOD} AS h
      FROM sub
    ), h2 AS (
      SELECT event_id, value,
             (xor(h, h >> 16) * 1013904223) % {_CMH_MOD} AS h FROM h1
    ), h3 AS (
      SELECT event_id, value,
             (xor(h, h >> 13) * 1000000007) % {_CMH_MOD} AS h FROM h2
    ), scopes AS (
      SELECT 'binomial_planted' AS scope,
             CAST({' + '.join(f'((h >> {i}) & 1)' for i in range(16))}
                  AS DOUBLE) AS y
      FROM h3
      UNION ALL SELECT 'organic_value' AS scope, value AS y FROM h3
      UNION ALL SELECT 'uniform_planted' AS scope,
                       (h % 10000) / 10000.0 AS y FROM h3
    ), mu AS (
      SELECT scope, AVG(y) AS m FROM scopes GROUP BY 1
    ), cm AS (
      SELECT s.scope, CAST(COUNT(*) AS BIGINT) AS n,
             AVG(POWER(s.y - mu.m, 2)) AS m2,
             AVG(POWER(s.y - mu.m, 3)) AS m3,
             AVG(POWER(s.y - mu.m, 4)) AS m4
      FROM scopes s JOIN mu ON s.scope = mu.scope GROUP BY 1
    ), st AS (
      SELECT scope, n,
             {R4('m3 / POWER(m2, 1.5)')} AS skew4,
             {R4('m4 / POWER(m2, 2) - 3')} AS exkurt4
      FROM cm
    )
    SELECT scope, n, skew4, exkurt4,
           {R4('n * (POWER(skew4, 2) / 6.0 + POWER(exkurt4, 2) / 24.0)')}
             AS jb4,
           {R4('n * (POWER(skew4, 2) / 6.0 + POWER(exkurt4, 2) / 24.0)')}
             > {_JB_CRIT!r} AS reject
    FROM st
    """,
    priority="P2",
    tags=("agg", "stats", "normality"),
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test — the moment-based gate beside
    `q_ks_test` (distribution-vs-distribution) and `q_agg_moments`
    (which REPORTS skew/kurtosis; JB turns them into a verdict):
    JB = n*(S^2/6 + K^2/24) ~ chi-square(2) under normality, so it is
    THE cheap screen before any procedure that assumes normal errors
    (t-tests, OLS prediction bands, control charts).

    Statistic size scales with n, so the test runs on an SF-INVARIANT
    subsample (event_id < 1000 — ids are dense from 0, the same
    decision panel at every SF; an unbounded n turns microscopic
    deviations into rejections, the known JB-at-scale trap,
    documented not hidden). Three scopes keep both verdicts live:
    a planted Binomial(16, 1/2) popcount of AVALANCHED hash bits
    (exact symmetric, excess kurtosis -0.125 — ACCEPTS; raw Knuth-
    uniform sums tried first had hash-correlation kurtosis +1.03,
    the q_ams_f2 lesson again), the organic heavy-tailed value
    column (skew ~2 — REJECTS leptokurtic), and a planted unit
    uniform (excess kurtosis -1.2 — REJECTS platykurtic, the other
    tail). Central moments follow the q_agg_moments two-pass device;
    skew/kurtosis are r4-rounded BEFORE the JB formula so the verdict
    derives from already-identical inputs.

    Scale: the subsample predicate is sargable (pushed to the scan);
    two 1-row-per-scope aggregate passes over a constant-size panel —
    at 100 TB the scan prunes to the id range and everything
    downstream is constant."""
    sub = (
        load(spark, sf_dir, "events")
        .where(F.col("event_id") < _JB_CAP)
        .select("event_id", "value")
    )
    h = F.pmod(
        F.col("event_id") * F.lit(2654435761).cast("bigint"), F.lit(_CMH_MOD)
    )
    h1 = sub.select("event_id", "value", h.alias("h"))
    h2 = h1.select(
        "event_id",
        "value",
        F.pmod(
            F.col("h").bitwiseXOR(F.shiftright(F.col("h"), 16))
            * F.lit(1013904223).cast("bigint"),
            F.lit(_CMH_MOD),
        ).alias("h"),
    )
    h3 = h2.select(
        "event_id",
        "value",
        F.pmod(
            F.col("h").bitwiseXOR(F.shiftright(F.col("h"), 13))
            * F.lit(1000000007).cast("bigint"),
            F.lit(_CMH_MOD),
        ).alias("h"),
    )
    popcount16 = sum(
        F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) for i in range(16)
    )
    scopes = (
        h3.select(
            F.lit("binomial_planted").alias("scope"),
            popcount16.cast("double").alias("y"),
        )
        .unionByName(
            h3.select(
                F.lit("organic_value").alias("scope"),
                F.col("value").alias("y"),
            )
        )
        .unionByName(
            h3.select(
                F.lit("uniform_planted").alias("scope"),
                (F.pmod(F.col("h"), F.lit(10000)) / 10000.0).alias("y"),
            )
        )
        .localCheckpoint(eager=False)  # mean pass + moment pass
    )
    mu = scopes.groupBy("scope").agg(F.avg("y").alias("m"))
    cm = (
        scopes.join(F.broadcast(mu), "scope")
        .groupBy("scope")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.avg(F.pow(F.col("y") - F.col("m"), 2)).alias("m2"),
            F.avg(F.pow(F.col("y") - F.col("m"), 3)).alias("m3"),
            F.avg(F.pow(F.col("y") - F.col("m"), 4)).alias("m4"),
        )
    )
    st = cm.select(
        "scope",
        "n",
        r4(F.col("m3") / F.pow(F.col("m2"), 1.5)).alias("skew4"),
        r4(F.col("m4") / F.pow(F.col("m2"), 2) - 3).alias("exkurt4"),
    )
    jb4 = r4(
        F.col("n")
        * (F.pow(F.col("skew4"), 2) / 6.0 + F.pow(F.col("exkurt4"), 2) / 24.0)
    )
    return st.select(
        "scope", "n", "skew4", "exkurt4",
        jb4.alias("jb4"), (jb4 > _JB_CRIT).alias("reject"),
    )


_BP_CRIT = 6.6349  # chi-square(1) upper 1% point


@register(
    "q_breusch_pagan",
    oracle=f"""
    WITH base AS (
      SELECT CAST(day(ts) AS BIGINT) AS x,
             CAST({R('value * 100', 0)} AS BIGINT) AS y2_org,
             CAST({R('value * (10 + day(ts)) * 10', 0)} AS BIGINT) AS y2_pla
      FROM events
    ), scopes AS (
      SELECT 'organic' AS scope, x, y2_org AS y2 FROM base
      UNION ALL
      SELECT 'planted' AS scope, x, y2_pla AS y2 FROM base
    ), p1 AS (
      SELECT scope, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y2) AS BIGINT) AS sy,
             CAST(SUM(x * y2) AS BIGINT) AS sxy
      FROM scopes GROUP BY 1
    ), fit AS (
      SELECT scope, n, sx, sxx,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b
      FROM p1
    ), fit2 AS (
      SELECT f.scope, f.n, f.sx, f.sxx, f.b,
             (p1.sy - f.b * f.sx) / f.n AS a
      FROM fit f JOIN p1 ON f.scope = p1.scope
    ), p2 AS (
      SELECT s.scope,
             CAST(SUM(CAST({R('POWER((s.y2 - f.a - f.b * s.x) / 100.0, 2)', 0)}
                  AS BIGINT)) AS BIGINT) AS sz,
             CAST(SUM(s.x * CAST(
                  {R('POWER((s.y2 - f.a - f.b * s.x) / 100.0, 2)', 0)}
                  AS BIGINT)) AS BIGINT) AS sxz,
             CAST(SUM(CAST({R('POWER((s.y2 - f.a - f.b * s.x) / 100.0, 2)', 0)}
                  AS BIGINT)
                  * CAST({R('POWER((s.y2 - f.a - f.b * s.x) / 100.0, 2)', 0)}
                         AS BIGINT)) AS BIGINT) AS szz
      FROM scopes s JOIN fit2 f ON s.scope = f.scope
      GROUP BY 1
    )
    SELECT f.scope, f.n,
           {R4('f.n * POWER(CAST(f.n * p2.sxz - f.sx * p2.sz AS DOUBLE), 2)'
               ' / (CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE)'
               '    * (CAST(f.n AS DOUBLE) * p2.szz'
               '       - CAST(p2.sz AS DOUBLE) * CAST(p2.sz AS DOUBLE)))')}
             AS lm4,
           {R4('f.n * POWER(CAST(f.n * p2.sxz - f.sx * p2.sz AS DOUBLE), 2)'
               ' / (CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE)'
               '    * (CAST(f.n AS DOUBLE) * p2.szz'
               '       - CAST(p2.sz AS DOUBLE) * CAST(p2.sz AS DOUBLE)))')}
             > {_BP_CRIT!r} AS heteroscedastic
    FROM fit2 f JOIN p2 ON f.scope = p2.scope
    """,
    priority="P2",
    tags=("agg", "stats", "regression", "diagnostics"),
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test (Koenker's studentized
    form) — the regression DIAGNOSTIC beside `q_grouped_ols` /
    `q_agg_regression` (which fit lines; this asks whether the error
    VARIANCE is constant, the assumption that decides whether those
    fits' standard errors mean anything): LM = n * R-squared of the
    auxiliary regression of squared residuals on the regressor,
    ~ chi-square(1) under homoscedasticity. Koenker's form (aux R^2,
    not the ESS/2 original) on purpose: the organic metric is heavy-
    tailed and the original's 2*sigma^4 denominator assumes normal
    errors — the robust variant is the one a pipeline should run.

    Two scopes at every SF: the organic value-vs-day regression
    (i.i.d. across days — ACCEPTS) and a planted multiplicative fan
    y*(1 + d/10) (variance grows ~(1+d/10)^2 along the regressor;
    the MEAN growth is linear so the first-stage OLS absorbs it and
    only the variance signal remains — REJECTS).

    Exactness: y quantized to integer cents at the source, so the
    first-pass OLS moments are exact bigints and (a, b) are single
    double formulas over them; per-row squared residuals are
    Spark-ROUND-quantized to whole dollar-squared integers (the R()
    dialect device), making ALL second-pass sums (sz, sxz, szz)
    order-independent exact bigints; LM is one r4 double formula at
    the end.

    Scale: two aggregate passes over one checkpointed scan (the OLS
    moments, then the aux moments with (a, b) broadcast back), both
    map-side combined; no shuffle beyond the 2-row scope grain."""
    base = (
        load(spark, sf_dir, "events")
        .select(
            F.dayofmonth("ts").cast("bigint").alias("x"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("y2_org"),
            F.round(F.col("value") * (10 + F.dayofmonth("ts")) * 10, 0)
            .cast("bigint")
            .alias("y2_pla"),
        )
    )
    scopes = (
        base.select(F.lit("organic").alias("scope"), "x", F.col("y2_org").alias("y2"))
        .unionByName(
            base.select(
                F.lit("planted").alias("scope"), "x", F.col("y2_pla").alias("y2")
            )
        )
        .localCheckpoint(eager=False)  # OLS pass + aux pass — one scan
    )
    p1 = scopes.groupBy("scope").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
        F.sum(d38("y2")).alias("sy"),
        F.sum(d38("x") * F.col("y2")).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    fit = p1.select(
        "scope", "n", "sx", "sxx", b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"),
    )
    z = (
        F.round(F.pow((F.col("y2") - F.col("a") - F.col("b") * F.col("x")) / 100.0, 2), 0)
        .cast("bigint")
    )
    p2 = (
        scopes.join(F.broadcast(fit.select("scope", "a", "b")), "scope")
        .groupBy("scope")
        .agg(
            F.sum(d38(z)).alias("sz"),
            F.sum(d38("x") * z).alias("sxz"),
            # z*z summed as exact DECIMAL(38,0) (r9 ADVICE — was bigint,
            # which past ~10^6 rows/scope dies under ANSI (Spark 4
            # default) or wraps silently under ANSI-off; see d38). z ~ 1e6
            # (whole dollars²), so z² ~ 1e12: decimal(38,0) holds ~10^26
            # such terms — unreachable — and matches the oracle, whose
            # DuckDB SUM(BIGINT) accumulates in HUGEINT (int128). The
            # exact integer value is identical to the old bigint path
            # wherever that didn't wrap; downstream use casts to double
            # either way. Order-independent like sz/sxz: integer-exact
            # addition commutes.
            F.sum((z * z).cast("decimal(38,0)")).alias("szz"),
        )
    )
    lm4 = r4(
        F.col("n")
        * F.pow(
            (F.col("n") * F.col("sxz") - F.col("sx") * F.col("sz")).cast(
                "double"
            ),
            2,
        )
        / (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            * (
                F.col("n").cast("double") * F.col("szz")
                - F.col("sz").cast("double") * F.col("sz").cast("double")
            )
        )
    )
    return (
        fit.select("scope", "n", "sx", "sxx")
        .join(p2, "scope")
        .select(
            "scope", "n",
            lm4.alias("lm4"), (lm4 > _BP_CRIT).alias("heteroscedastic"),
        )
    )


_QTE_PS = (25, 50, 90)  # quantile levels, percent


@register(
    "q_quantile_treatment_effect",
    oracle=f"""
    WITH base AS (
      SELECT event_id, CAST({R('value * 100', 0)} AS BIGINT) AS y2,
             CASE WHEN (event_id * 2654435761) % 2 = 0 THEN 'a' ELSE 'b' END
               AS arm
      FROM events
    ), arms AS (
      SELECT 'null' AS scope, arm, event_id, y2 FROM base
      UNION ALL
      SELECT 'shifted' AS scope, arm, event_id,
             CASE WHEN arm = 'b' THEN y2 + 2000 ELSE y2 END AS y2
      FROM base
    ), ranked AS (
      SELECT scope, arm, y2,
             CAST(ROW_NUMBER() OVER (PARTITION BY scope, arm
                    ORDER BY y2, event_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY scope, arm) AS BIGINT) AS n
      FROM arms
    ), ps AS (
      SELECT UNNEST({list(_QTE_PS)}) AS p
    ), qs AS (
      SELECT r.scope, r.arm, ps.p, CAST(r.y2 AS BIGINT) AS q2
      FROM ranked r JOIN ps
        ON r.rn = CAST(CEIL(ps.p * r.n / 100.0) AS BIGINT)
    )
    SELECT a.scope, a.p,
           {R2('a.q2 / 100.0')} AS q_a2,
           {R2('b.q2 / 100.0')} AS q_b2,
           {R2('(b.q2 - a.q2) / 100.0')} AS qte2
    FROM (SELECT * FROM qs WHERE arm = 'a') a
    JOIN (SELECT * FROM qs WHERE arm = 'b') b
      ON a.scope = b.scope AND a.p = b.p
    """,
    priority="P2",
    tags=("agg", "stats", "abtest", "quantile"),
)
def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the DISTRIBUTIONAL A/B view the
    mean-based tests (`q_ab_ttest`, `q_cuped`) cannot give: QTE(p) =
    Q_b(p) - Q_a(p) at p in {{25, 50, 90}} shows WHERE in the
    distribution a treatment acts (a tail-only regression hides
    inside a flat mean; a constant shift moves every quantile
    equally). Quantiles are exact nearest-rank selections (rank =
    ceil(p*n/100), never interpolated — the `q_tail_latency_slo`
    device) on integer-cents values, so every reported number is a
    real observed value and engine-portable by construction.

    Two scopes, self-validating at every SF: a deterministic hash
    split of the same population (QTE ~ 0 at all three quantiles —
    the honest null, small hash-split noise) and a planted +20.00
    shift on arm b, whose QTE(p) exceeds the null scope's by EXACTLY
    20.00 at every p (the constant-shift signature, exact by integer
    construction, not approximately).

    Scale: per-(scope, arm) ranking is the banded-window device in
    the Spark plan (value-range bands, no global sort); the quantile
    extraction joins a 3-row literal spine; output is 6 rows."""
    from modforms_db_spark.operators.banded import with_banded_order

    base = (
        load(spark, sf_dir, "events")
        .select(
            "event_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("y2"),
            F.when(
                F.pmod(
                    F.col("event_id") * F.lit(2654435761).cast("bigint"),
                    F.lit(2),
                )
                == 0,
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("arm"),
        )
    )
    arms = base.select(
        F.lit("null").alias("scope"), "arm", "event_id", "y2"
    ).unionByName(
        base.select(
            F.lit("shifted").alias("scope"),
            "arm",
            "event_id",
            F.when(F.col("arm") == "b", F.col("y2") + 2000)
            .otherwise(F.col("y2"))
            .alias("y2"),
        )
    )
    ranked = with_banded_order(
        arms.withColumn("grp", F.concat_ws("|", "scope", "arm")),
        "y2",
        ["event_id"],
        group_cols=["grp"],
        rn_name="rn",
    )
    wn = Window.partitionBy("grp")
    ranked = ranked.withColumn("n", F.count(F.lit(1)).over(wn).cast("bigint"))
    ps = spark.range(len(_QTE_PS)).select(
        F.element_at(
            F.array(*[F.lit(p) for p in _QTE_PS]), (F.col("id") + 1).cast("int")
        ).alias("p")
    )
    qs = (
        ranked.crossJoin(F.broadcast(ps))
        .where(
            F.col("rn")
            == F.ceil(F.col("p") * F.col("n") / 100.0).cast("bigint")
        )
        .select("scope", "arm", "p", F.col("y2").cast("bigint").alias("q2"))
    )
    a = qs.where(F.col("arm") == "a").select(
        "scope", "p", F.col("q2").alias("qa2")
    )
    b = qs.where(F.col("arm") == "b").select(
        F.col("scope").alias("scope_b"), F.col("p").alias("p_b"),
        F.col("q2").alias("qb2"),
    )
    return (
        a.join(
            F.broadcast(b),
            (a.scope == b.scope_b) & (a.p == b.p_b),
        )
        .select(
            "scope",
            "p",
            F.round(F.col("qa2") / 100.0, 2).alias("q_a2"),
            F.round(F.col("qb2") / 100.0, 2).alias("q_b2"),
            F.round((F.col("qb2") - F.col("qa2")) / 100.0, 2).alias("qte2"),
        )
    )


_OBF_K = 5  # interim looks
# O'Brien-Fleming two-sided 5% boundaries for 5 equally-spaced looks
_OBF_BOUNDS = (4.8769, 3.3569, 2.6803, 2.2898, 2.0310)
_OBF_BOUND_SQL = (
    "CASE lb WHEN 1 THEN 4.8769 WHEN 2 THEN 3.3569 WHEN 3 THEN 2.6803 "
    "WHEN 4 THEN 2.2898 ELSE 2.0310 END"
)


@register(
    "q_group_sequential_obf",
    oracle=f"""
    WITH base AS (
      SELECT event_id, epoch_us(ts) AS ord,
             (event_id * 2654435761) % 2 AS arm,
             (xor((event_id * 1013904223) % 4294967296,
                  ((event_id * 1013904223) % 4294967296) >> 16)) % 100 AS h2
      FROM events
    ), ranked AS (
      SELECT arm, h2,
             CAST(ROW_NUMBER() OVER (ORDER BY ord, event_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM base
    ), looks AS (
      SELECT arm, h2,
             CAST(FLOOR((rn - 1) * {_OBF_K} / n) + 1 AS BIGINT) AS lb
      FROM ranked
    ), scoped AS (
      SELECT 'null' AS scope, lb, arm,
             CASE WHEN h2 < 20 THEN 1 ELSE 0 END AS x
      FROM looks
      UNION ALL
      SELECT 'planted' AS scope, lb, arm,
             CASE WHEN h2 < CASE WHEN arm = 1 THEN 28 ELSE 20 END
                  THEN 1 ELSE 0 END AS x
      FROM looks
    ), cells AS (
      SELECT scope, lb, arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS c
      FROM scoped GROUP BY 1, 2, 3
    ), cum AS (
      SELECT scope, lb, arm,
             CAST(SUM(n) OVER w AS BIGINT) AS n_cum,
             CAST(SUM(c) OVER w AS BIGINT) AS c_cum
      FROM cells
      WINDOW w AS (PARTITION BY scope, arm ORDER BY lb
                   ROWS UNBOUNDED PRECEDING)
    ), wide AS (
      SELECT a.scope, a.lb, a.n_cum AS n_a, a.c_cum AS c_a,
             b.n_cum AS n_b, b.c_cum AS c_b
      FROM (SELECT * FROM cum WHERE arm = 0) a
      JOIN (SELECT * FROM cum WHERE arm = 1) b
        ON a.scope = b.scope AND a.lb = b.lb
    )
    SELECT scope, lb AS look, n_a + n_b AS n_cum,
           {R4('(c_b * 1.0 / n_b - c_a * 1.0 / n_a)'
               ' / SQRT((c_a + c_b) * 1.0 / (n_a + n_b)'
               '        * (1 - (c_a + c_b) * 1.0 / (n_a + n_b))'
               '        * (1.0 / n_a + 1.0 / n_b))')} AS z4,
           {_OBF_BOUND_SQL} AS bound,
           ABS({R4('(c_b * 1.0 / n_b - c_a * 1.0 / n_a)'
                   ' / SQRT((c_a + c_b) * 1.0 / (n_a + n_b)'
                   '        * (1 - (c_a + c_b) * 1.0 / (n_a + n_b))'
                   '        * (1.0 / n_a + 1.0 / n_b))')})
             > {_OBF_BOUND_SQL} AS crossed
    FROM wide
    """,
    priority="P2",
    tags=("agg", "stats", "abtest", "sequential"),
)
def q_group_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential design — the SCHEDULED interim
    analysis between `q_ab_proportions` (one fixed look) and
    `q_sprt_monitor` (a look after EVERY observation): K = 5
    equally-spaced looks along the time-ordered stream, each a pooled
    two-proportion z-test against the OBF spending boundaries
    (4.88, 3.36, 2.68, 2.29, 2.03) — nearly unspendable early, close
    to the fixed-horizon 1.96 at the end, which is why it is the
    clinical-trial / experimentation-platform standard for "peek 5
    times, pay almost nothing".

    Arms are a Knuth-hash split; conversion is a synthetic avalanched
    rate (20% vs 20% in the 'null' scope — never crosses ANY look;
    20% vs 28% in 'planted' — crosses at an interim or final look at
    every SF, later at smaller SFs exactly as the design intends:
    information accrues with n). Look assignment is an exact integer
    bucketing of the global (ts, event_id) rank; cumulative cell
    counts are exact bigints; each z is one r4 double formula.

    Scale: the global rank is the banded-window device; everything
    after the (scope, look, arm) cell collapse (20 rows) is
    broadcast-sized. A deployment would look at WALL-CLOCK
    checkpoints; rank-spaced looks make the test reproducible here."""
    from modforms_db_spark.operators.banded import with_banded_order

    h2 = F.pmod(
        F.pmod(
            F.col("event_id") * F.lit(1013904223).cast("bigint"),
            F.lit(4294967296),
        ).bitwiseXOR(
            F.shiftright(
                F.pmod(
                    F.col("event_id") * F.lit(1013904223).cast("bigint"),
                    F.lit(4294967296),
                ),
                16,
            )
        ),
        F.lit(100),
    )
    base = load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ord"),
        F.pmod(
            F.col("event_id") * F.lit(2654435761).cast("bigint"), F.lit(2)
        ).alias("arm"),
        h2.alias("h2"),
    )
    ranked = with_banded_order(base, "ord", ["event_id"], rn_name="rn")
    n_total = ranked.count()
    looks = ranked.select(
        "arm",
        "h2",
        (F.floor((F.col("rn") - 1) * _OBF_K / n_total) + 1)
        .cast("bigint")
        .alias("lb"),
    ).localCheckpoint(eager=False)  # two scope legs
    scoped = looks.select(
        F.lit("null").alias("scope"),
        "lb",
        "arm",
        (F.col("h2") < 20).cast("int").alias("x"),
    ).unionByName(
        looks.select(
            F.lit("planted").alias("scope"),
            "lb",
            "arm",
            (
                F.col("h2")
                < F.when(F.col("arm") == 1, 28).otherwise(20)
            )
            .cast("int")
            .alias("x"),
        )
    )
    cells = scoped.groupBy("scope", "lb", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("c"),
    )
    w = (
        Window.partitionBy("scope", "arm")
        .orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "scope",
        "lb",
        "arm",
        F.sum("n").over(w).cast("bigint").alias("n_cum"),
        F.sum("c").over(w).cast("bigint").alias("c_cum"),
    )
    a = cum.where(F.col("arm") == 0).select(
        "scope", "lb", F.col("n_cum").alias("n_a"), F.col("c_cum").alias("c_a")
    )
    b = cum.where(F.col("arm") == 1).select(
        F.col("scope").alias("scope_b"),
        F.col("lb").alias("lb_b"),
        F.col("n_cum").alias("n_b"),
        F.col("c_cum").alias("c_b"),
    )
    wide = a.join(
        F.broadcast(b), (a.scope == b.scope_b) & (a.lb == b.lb_b)
    )
    p_pool = (F.col("c_a") + F.col("c_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    z4 = r4(
        (F.col("c_b") * 1.0 / F.col("n_b") - F.col("c_a") * 1.0 / F.col("n_a"))
        / F.sqrt(
            p_pool * (1 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
        )
    )
    bound = (
        F.when(F.col("lb") == 1, _OBF_BOUNDS[0])
        .when(F.col("lb") == 2, _OBF_BOUNDS[1])
        .when(F.col("lb") == 3, _OBF_BOUNDS[2])
        .when(F.col("lb") == 4, _OBF_BOUNDS[3])
        .otherwise(_OBF_BOUNDS[4])
    )
    return wide.select(
        "scope",
        F.col("lb").alias("look"),
        (F.col("n_a") + F.col("n_b")).alias("n_cum"),
        z4.alias("z4"),
        bound.alias("bound"),
        (F.abs(z4) > bound).alias("crossed"),
    )


_SOBEL_CRIT = 2.5758  # two-sided alpha = 0.01


@register(
    "q_mediation_sobel",
    oracle=f"""
    WITH base AS (
      SELECT CAST({R('value * 100', 0)} AS BIGINT) AS u1,
             CASE WHEN (xor((event_id * 2654435761) % 4294967296,
                            ((event_id * 2654435761) % 4294967296) >> 16))
                       % 100 < 50 THEN 1 ELSE 0 END AS x,
             (xor((event_id * 1013904223) % 4294967296,
                  ((event_id * 1013904223) % 4294967296) >> 13)) % 10000
               AS u2
      FROM events
    ), scoped AS (
      SELECT 'null' AS scope, x, u1 AS m, 2 * u1 + u2 AS y FROM base
      UNION ALL
      SELECT 'planted' AS scope, x, 1000 * x + u1 AS m,
             2 * (1000 * x + u1) + u2 AS y
      FROM base
    ), sums AS (
      SELECT scope, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(m) AS BIGINT) AS sm,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * m) AS BIGINT) AS sxm,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(m * y) AS BIGINT) AS smy,
             CAST(SUM(m * m) AS BIGINT) AS smm,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM scoped GROUP BY 1
    ), cm AS (
      SELECT scope, n,
             sx - sx * CAST(sx AS DOUBLE) / n AS cxx,
             sxm - CAST(sx AS DOUBLE) * sm / n AS cxm,
             sxy - CAST(sx AS DOUBLE) * sy / n AS cxy,
             smm - CAST(sm AS DOUBLE) * sm / n AS cmm,
             smy - CAST(sm AS DOUBLE) * sy / n AS cmy,
             syy - CAST(sy AS DOUBLE) * sy / n AS cyy
      FROM sums
    ), fit AS (
      SELECT scope, n,
             cxm / cxx AS a,
             (cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm) AS b,
             (cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm) AS cp,
             cxx, cxm, cxy, cmm, cmy, cyy
      FROM cm
    ), se AS (
      SELECT scope, n, a, b,
             (cmm - a * a * cxx) / (n - 2) / cxx AS se_a2,
             (cyy - b * cmy - cp * cxy) / (n - 3)
               * cxx / (cxx * cmm - cxm * cxm) AS se_b2
      FROM fit
    )
    SELECT scope, n, {R4('a / 100.0')} AS a4, {R4('b')} AS b4,
           {R4('a * b / 100.0')} AS indirect4,
           {R4('a * b / SQRT(a * a * se_b2 + b * b * se_a2)')} AS sobel_z4,
           ABS({R4('a * b / SQRT(a * a * se_b2 + b * b * se_a2)')})
             > {_SOBEL_CRIT!r} AS mediated
    FROM se
    """,
    priority="P2",
    tags=("agg", "stats", "causal", "mediation"),
)
def q_mediation_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mediation analysis with the Sobel test — the PATHWAY question
    the causal shelf (`q_ipw_ate` effect size, `q_diff_in_diff`
    trends, `q_causal_iv` instruments) cannot answer: does X move Y
    THROUGH mediator M? Two OLS stages — a = coef(X -> M),
    b = coef(M -> Y | X) — and the indirect effect a*b tested with
    Sobel's delta-method z = ab / sqrt(a^2 se_b^2 + b^2 se_a^2).

    Two synthetic panels keep both verdicts live at every SF: a
    planted chain M = 1000X + u1, Y = 2M + u2 (true a = 10.00 in
    value units, b = 2, indirect = 20.00 — recovered within
    noise, MEDIATED), and a null panel where M ignores X but still
    drives Y (a ~ 0: no pathway, NOT mediated — the case that trips
    naive 'X and Y correlate, M correlates with both' reasoning,
    since b is large in BOTH panels). Treatment and noise are
    independent avalanched hashes (the q_ipw_ate lesson); all nine
    raw moments are exact bigints from one pass per scope; centered
    moments, both fits, both standard errors, and the z are single
    double formulas over them, r4 at the end.

    Scale: ONE aggregate pass to a 2-row moment frame (map-side
    combined) — the entire test is O(scan), no joins, no windows."""
    h = lambda k, sh: F.pmod(  # noqa: E731
        F.pmod(F.col("event_id") * F.lit(k).cast("bigint"), F.lit(4294967296))
        .bitwiseXOR(
            F.shiftright(
                F.pmod(
                    F.col("event_id") * F.lit(k).cast("bigint"),
                    F.lit(4294967296),
                ),
                sh,
            )
        ),
        F.lit(10000),
    )
    base = load(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("u1"),
        (F.pmod(h(2654435761, 16), F.lit(100)) < 50).cast("bigint").alias("x"),
        h(1013904223, 13).alias("u2"),
    ).localCheckpoint(eager=False)  # two scope legs — one scan
    scoped = base.select(
        F.lit("null").alias("scope"),
        "x",
        F.col("u1").alias("m"),
        (2 * F.col("u1") + F.col("u2")).alias("y"),
    ).unionByName(
        base.select(
            F.lit("planted").alias("scope"),
            "x",
            (1000 * F.col("x") + F.col("u1")).alias("m"),
            (2 * (1000 * F.col("x") + F.col("u1")) + F.col("u2")).alias("y"),
        )
    )
    sums = scoped.groupBy("scope").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(d38("x") * F.col("m")).alias("sxm"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
        F.sum(d38("m") * F.col("y")).alias("smy"),
        F.sum(d38("m") * F.col("m")).alias("smm"),
        F.sum(d38("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cxx = F.col("sx") - F.col("sx") * F.col("sx").cast("double") / n
    cxm = F.col("sxm") - F.col("sx").cast("double") * F.col("sm") / n
    cxy = F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / n
    cmm = F.col("smm") - F.col("sm").cast("double") * F.col("sm") / n
    cmy = F.col("smy") - F.col("sm").cast("double") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy").cast("double") * F.col("sy") / n
    cm = sums.select(
        "scope", "n",
        cxx.alias("cxx"), cxm.alias("cxm"), cxy.alias("cxy"),
        cmm.alias("cmm"), cmy.alias("cmy"), cyy.alias("cyy"),
    )
    det = F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm")
    a = F.col("cxm") / F.col("cxx")
    b = (F.col("cxx") * F.col("cmy") - F.col("cxm") * F.col("cxy")) / det
    cp = (F.col("cmm") * F.col("cxy") - F.col("cxm") * F.col("cmy")) / det
    fit = cm.select(
        "scope", "n", a.alias("a"), b.alias("b"), cp.alias("cp"),
        "cxx", "cxm", "cxy", "cmm", "cmy", "cyy",
    )
    se_a2 = (
        (F.col("cmm") - F.col("a") * F.col("a") * F.col("cxx"))
        / (F.col("n") - 2)
        / F.col("cxx")
    )
    se_b2 = (
        (F.col("cyy") - F.col("b") * F.col("cmy") - F.col("cp") * F.col("cxy"))
        / (F.col("n") - 3)
        * F.col("cxx")
        / (F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm"))
    )
    se = fit.select("scope", "n", "a", "b", se_a2.alias("se_a2"), se_b2.alias("se_b2"))
    z = F.col("a") * F.col("b") / F.sqrt(
        F.col("a") * F.col("a") * F.col("se_b2")
        + F.col("b") * F.col("b") * F.col("se_a2")
    )
    z4 = r4(z)
    return se.select(
        "scope", "n",
        r4(F.col("a") / 100.0).alias("a4"),
        r4(F.col("b")).alias("b4"),
        r4(F.col("a") * F.col("b") / 100.0).alias("indirect4"),
        z4.alias("sobel_z4"),
        (F.abs(z4) > _SOBEL_CRIT).alias("mediated"),
    )


@register(
    "q_tail_dependence",
    oracle=f"""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             CAST({R('l_extendedprice * 100', 0)} AS BIGINT) AS x,
             -- mixture copula: 30% comonotone (y = x, scaled to own the
             -- y-tail), 70% independent — lambda_U ~ the mixture weight
             CASE WHEN (xor((l_orderkey * 7 + l_linenumber) * 1013904223
                            % 4294967296,
                            ((l_orderkey * 7 + l_linenumber) * 1013904223
                             % 4294967296) >> 13)) % 100 < 30
                  THEN CAST({R('l_extendedprice * 100', 0)} AS BIGINT) * 1000
                  ELSE (xor((l_orderkey * 7 + l_linenumber) * 2654435761
                            % 4294967296,
                            ((l_orderkey * 7 + l_linenumber) * 2654435761
                             % 4294967296) >> 16)) % 1000000 END AS y_dep,
             (xor((l_orderkey * 7 + l_linenumber) * 2654435761 % 4294967296,
                  ((l_orderkey * 7 + l_linenumber) * 2654435761
                   % 4294967296) >> 16)) % 1000000 AS y_ind
      FROM lineitem
    ), scoped AS (
      SELECT 'dependent' AS scope, l_orderkey, l_linenumber, x,
             y_dep AS y FROM base
      UNION ALL
      SELECT 'independent' AS scope, l_orderkey, l_linenumber, x,
             y_ind AS y FROM base
    ), ranked AS (
      SELECT scope, x, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY scope
               ORDER BY x, l_orderkey, l_linenumber) AS BIGINT) AS rx,
             CAST(ROW_NUMBER() OVER (PARTITION BY scope
               ORDER BY y, l_orderkey, l_linenumber) AS BIGINT) AS ry,
             CAST(COUNT(*) OVER (PARTITION BY scope) AS BIGINT) AS n
      FROM scoped
    )
    SELECT scope, MIN(n) AS n,
           CAST(SUM(CASE WHEN rx * 20 > 19 * n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_x_tail,
           CAST(SUM(CASE WHEN rx * 20 > 19 * n AND ry * 20 > 19 * n
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_joint,
           {R4('SUM(CASE WHEN rx * 20 > 19 * n AND ry * 20 > 19 * n'
               '         THEN 1 ELSE 0 END) * 1.0'
               ' / SUM(CASE WHEN rx * 20 > 19 * n THEN 1 ELSE 0 END)')}
             AS lambda_u4,
           {R4('SUM(CASE WHEN rx * 20 > 19 * n AND ry * 20 > 19 * n'
               '         THEN 1 ELSE 0 END) * 1.0'
               ' / SUM(CASE WHEN rx * 20 > 19 * n THEN 1 ELSE 0 END)')}
             > 0.2 AS tail_dependent
    FROM ranked GROUP BY scope
    """,
    priority="P2",
    tags=("agg", "stats", "dependence", "extremes"),
)
def q_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper tail-dependence coefficient lambda_U = P(Y in its top 5%
    | X in its top 5%) — the EXTREMES question the whole-body
    dependence measures (`q_agg_corr_matrix` Pearson,
    `q_corr_spearman`, `q_xi_correlation`) cannot answer: risk, SLO
    breach, and fraud analysis all care whether extremes CO-OCCUR,
    and a Gaussian copula with rho = 0.8 still has lambda_U = 0.
    Rank-based (copula territory: marginals factored out by ranking
    each variable separately), with EXACT integer rank thresholds
    (rank*20 > 19*n <=> rank/n > 0.95 — no fp quantile).

    Two scopes at every SF: a planted MIXTURE copula — 30% of rows
    comonotone with price (scaled so the comonotone component OWNS
    y's upper tail), 70% independent — whose joint exceedances are
    exactly the comonotone rows inside x's tail: lambda_U ~ 0.30,
    recovered to the third decimal at every SF (the
    first pair tried, price-vs-quantity, measured lambda_U = 0.043:
    TPC-H unit prices decouple the extremes — a real finding, kept
    in the independent scope's family) — and price-vs-avalanched-
    hash (independent: lambda_U ~ 0.05 = q, the honest calibration
    that the estimator's floor is the tail mass q, not 0).

    Scale: two banded rankings per scope (value-range bands, no
    global sort), then one conditional-count aggregate; thresholds
    are integer arithmetic on (rank, n).

    SF bound (r7 ADVICE, documented like q_ljung_box): the planted
    copula hashes (l_orderkey*7 + l_linenumber) * 1013904223 BEFORE
    its mod-2^32 reduction, so the int64 product overflows once
    l_orderkey exceeds ~1.3e9 — i.e. beyond SF ~200, where DuckDB
    raises while Spark would wrap. The shipped fixture tops out at
    SF 0.1; rework the plant (reduce the key mod 2^32 first) before
    running the oracle comparison above that bound."""
    from modforms_db_spark.operators.banded import with_banded_order

    key = F.col("l_orderkey") * 7 + F.col("l_linenumber")
    hbase = F.pmod(key * F.lit(2654435761).cast("bigint"), F.lit(4294967296))
    base = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("x"),
            F.when(
                F.pmod(
                    F.pmod(
                        key * F.lit(1013904223).cast("bigint"),
                        F.lit(4294967296),
                    ).bitwiseXOR(
                        F.shiftright(
                            F.pmod(
                                key * F.lit(1013904223).cast("bigint"),
                                F.lit(4294967296),
                            ),
                            13,
                        )
                    ),
                    F.lit(100),
                )
                < 30,
                F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
                * 1000,
            )
            .otherwise(
                F.pmod(
                    F.pmod(
                        key * F.lit(2654435761).cast("bigint"),
                        F.lit(4294967296),
                    ).bitwiseXOR(
                        F.shiftright(
                            F.pmod(
                                key * F.lit(2654435761).cast("bigint"),
                                F.lit(4294967296),
                            ),
                            16,
                        )
                    ),
                    F.lit(1000000),
                )
            )
            .alias("y_dep"),
            F.pmod(
                hbase.bitwiseXOR(F.shiftright(hbase, 16)), F.lit(1000000)
            ).alias("y_ind"),
        )
    )
    scoped = base.select(
        F.lit("dependent").alias("scope"),
        "l_orderkey",
        "l_linenumber",
        "x",
        F.col("y_dep").alias("y"),
    ).unionByName(
        base.select(
            F.lit("independent").alias("scope"),
            "l_orderkey",
            "l_linenumber",
            "x",
            F.col("y_ind").alias("y"),
        )
    )
    rx = with_banded_order(
        scoped, "x", ["l_orderkey", "l_linenumber"],
        group_cols=["scope"], rn_name="rx",
    )
    rxy = with_banded_order(
        rx, "y", ["l_orderkey", "l_linenumber"],
        group_cols=["scope"], rn_name="ry",
    )
    wn = Window.partitionBy("scope")
    ranked = rxy.withColumn(
        "n", F.count(F.lit(1)).over(wn).cast("bigint")
    )
    x_tail = (F.col("rx") * 20 > 19 * F.col("n")).cast("int")
    joint = (
        (F.col("rx") * 20 > 19 * F.col("n"))
        & (F.col("ry") * 20 > 19 * F.col("n"))
    ).cast("int")
    lam = F.sum(joint) * 1.0 / F.sum(x_tail)
    return ranked.groupBy("scope").agg(
        F.min("n").alias("n"),
        F.sum(x_tail).cast("bigint").alias("n_x_tail"),
        F.sum(joint).cast("bigint").alias("n_joint"),
        r4(lam).alias("lambda_u4"),
        (r4(lam) > 0.2).alias("tail_dependent"),
    )


_META_K = 8  # strata


@register(
    "q_meta_analysis",
    oracle=f"""
    WITH base AS (
      SELECT event_id % {_META_K} AS stratum,
             CAST({R('value * 100', 0)} AS BIGINT) AS y2,
             CASE WHEN (xor((event_id * 2654435761) % 4294967296,
                            ((event_id * 2654435761) % 4294967296) >> 16))
                       % 2 = 0 THEN 1 ELSE 0 END AS t
      FROM events
    ), scoped AS (
      SELECT 'organic' AS scope, stratum, t, y2 FROM base
      UNION ALL
      SELECT 'planted' AS scope, stratum, t,
             CASE WHEN stratum = 0 AND t = 1 THEN y2 + 3000 ELSE y2 END AS y2
      FROM base
    ), g AS (
      SELECT scope, stratum, t, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y2) AS BIGINT) AS s,
             CAST(SUM(y2 * y2) AS BIGINT) AS ss
      FROM scoped GROUP BY 1, 2, 3
    ), eff AS (
      SELECT a.scope, a.stratum,
             {R('a.s * 1.0 / a.n - b.s * 1.0 / b.n', 10)} AS d,
             {R('(a.ss - a.s * CAST(a.s AS DOUBLE) / a.n) / (a.n - 1) / a.n'
                ' + (b.ss - b.s * CAST(b.s AS DOUBLE) / b.n) / (b.n - 1)'
                '   / b.n', 10)} AS v
      FROM (SELECT * FROM g WHERE t = 1) a
      JOIN (SELECT * FROM g WHERE t = 0) b
        ON a.scope = b.scope AND a.stratum = b.stratum
    ), pooled AS (
      SELECT scope,
             CAST(COUNT(*) AS BIGINT) AS k,
             {R('SUM(d / v) / SUM(1.0 / v)', 10)} AS d_pool
      FROM eff GROUP BY 1
    ), het AS (
      SELECT e.scope, p.k, p.d_pool,
             {R('SUM((e.d - p.d_pool) * (e.d - p.d_pool) / e.v)', 10)} AS q
      FROM eff e JOIN pooled p ON e.scope = p.scope
      GROUP BY 1, 2, 3
    )
    SELECT scope, k,
           {R4('d_pool / 100.0')} AS pooled_effect4,
           {R4('q')} AS q_het4,
           {R4('GREATEST(0.0, (q - (k - 1)) / q)')} AS i2_4,
           {R4('GREATEST(0.0, (q - (k - 1)) / q)')} > 0.5 AS heterogeneous
    FROM het
    """,
    priority="P2",
    tags=("agg", "stats", "meta-analysis"),
)
def q_meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis with Cochran's Q and Higgins' I² —
    the POOLING discipline for per-stratum experiment results
    (regional rollouts, per-cohort re-runs): inverse-variance-weighted
    pooled effect, then the heterogeneity statistics that say whether
    pooling was LEGITIMATE (Q ~ chi-square(k-1) under homogeneity;
    I² = share of variance from between-strata disagreement — the
    number that should send you to a random-effects model when it's
    large). The missing-by-design complement to `q_cmh_test` (which
    pools 2x2 counts; this pools mean effects with their variances).

    Two scopes at every SF: organic strata share a true null effect
    (I² ~ 0 — pooling legitimate, honest negative), and a planted
    +30.00 treatment effect in stratum 0 only (Q explodes, I² > 0.5 —
    the heterogeneity flag firing exactly when pooling would lie).
    Per-stratum moments are exact bigint sums in ONE pass; d and its
    variance are r10 doubles over them; Q, I², and the pooled effect
    are single r4 formulas.

    Scale: one pass to the (scope, stratum, arm) grain (map-side
    combined), then k-row frames throughout."""
    h = F.pmod(
        F.pmod(
            F.col("event_id") * F.lit(2654435761).cast("bigint"),
            F.lit(4294967296),
        ).bitwiseXOR(
            F.shiftright(
                F.pmod(
                    F.col("event_id") * F.lit(2654435761).cast("bigint"),
                    F.lit(4294967296),
                ),
                16,
            )
        ),
        F.lit(2),
    )
    base = load(spark, sf_dir, "events").select(
        F.pmod(F.col("event_id"), F.lit(_META_K)).alias("stratum"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y2"),
        (h == 0).cast("int").alias("t"),
    )
    scoped = base.select(
        F.lit("organic").alias("scope"), "stratum", "t", "y2"
    ).unionByName(
        base.select(
            F.lit("planted").alias("scope"),
            "stratum",
            "t",
            F.when(
                (F.col("stratum") == 0) & (F.col("t") == 1),
                F.col("y2") + 3000,
            )
            .otherwise(F.col("y2"))
            .alias("y2"),
        )
    )
    g = scoped.groupBy("scope", "stratum", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y2").cast("bigint").alias("s"),
        F.sum(d38("y2") * F.col("y2")).alias("ss"),
    )
    a = g.where(F.col("t") == 1).select(
        "scope", "stratum",
        F.col("n").alias("n_a"), F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = g.where(F.col("t") == 0).select(
        F.col("scope").alias("scope_b"), F.col("stratum").alias("stratum_b"),
        F.col("n").alias("n_b"), F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    var_leg = lambda ss, sc, n: (  # noqa: E731
        (F.col(ss) - F.col(sc) * F.col(sc).cast("double") / F.col(n))
        / (F.col(n) - 1)
        / F.col(n)
    )
    eff = (
        a.join(
            F.broadcast(b),
            (a.scope == b.scope_b) & (a.stratum == b.stratum_b),
        )
        .select(
            "scope",
            "stratum",
            F.round(
                F.col("s_a") * 1.0 / F.col("n_a")
                - F.col("s_b") * 1.0 / F.col("n_b"),
                10,
            ).alias("d"),
            F.round(
                var_leg("ss_a", "s_a", "n_a") + var_leg("ss_b", "s_b", "n_b"),
                10,
            ).alias("v"),
        )
        .localCheckpoint(eager=False)  # pooled + heterogeneity legs
    )
    pooled = eff.groupBy("scope").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.round(
            F.sum(F.col("d") / F.col("v")) / F.sum(1.0 / F.col("v")), 10
        ).alias("d_pool"),
    )
    het = (
        eff.join(F.broadcast(pooled), "scope")
        .groupBy("scope", "k", "d_pool")
        .agg(
            F.round(
                F.sum(
                    (F.col("d") - F.col("d_pool"))
                    * (F.col("d") - F.col("d_pool"))
                    / F.col("v")
                ),
                10,
            ).alias("q")
        )
    )
    i2 = r4(
        F.greatest(F.lit(0.0), (F.col("q") - (F.col("k") - 1)) / F.col("q"))
    )
    return het.select(
        "scope",
        "k",
        r4(F.col("d_pool") / 100.0).alias("pooled_effect4"),
        r4(F.col("q")).alias("q_het4"),
        i2.alias("i2_4"),
        (i2 > 0.5).alias("heterogeneous"),
    )


_HT_N0 = 100  # target expected sample size per design


@register(
    "q_ht_estimator",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST({R('o_totalprice * 100', 0)} AS BIGINT) AS y2,
             (xor((o_orderkey * 2654435761) % 4294967296,
                  ((o_orderkey * 2654435761) % 4294967296) >> 16))
               % 1000000 AS u
      FROM orders
    ), tot AS (
      SELECT CAST(SUM(y2) AS BIGINT) AS true2,
             CAST(COUNT(*) AS BIGINT) AS n_pop
      FROM base
    ), srs AS (
      SELECT b.y2, t.true2, {_HT_N0} * 1.0 / t.n_pop AS pi
      FROM base b CROSS JOIN tot t
      WHERE b.u < {_HT_N0} * 1.0 / t.n_pop * 1000000
    ), walk AS (
      SELECT b.y2, t.true2, t.n_pop,
             CAST(SUM(b.y2) OVER (ORDER BY b.u, b.o_orderkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM base b CROSS JOIN tot t
    ), pps AS (
      SELECT y2, true2,
             LEAST(1.0, y2 * {_HT_N0} * 1.0 / true2) AS pi
      FROM walk
      WHERE cum // CAST(CEIL(true2 * 1.0 / {_HT_N0}) AS BIGINT)
            > (cum - y2) // CAST(CEIL(true2 * 1.0 / {_HT_N0}) AS BIGINT)
    ), sampled AS (
      SELECT 'srs' AS method, true2,
             CAST({R('y2 / pi', 0)} AS BIGINT) AS ht_term2
      FROM srs
      UNION ALL
      SELECT 'pps' AS method, true2,
             CAST({R('y2 / pi', 0)} AS BIGINT) AS ht_term2
      FROM pps
    ), est AS (
      SELECT method, CAST(COUNT(*) AS BIGINT) AS n_sampled,
             CAST(SUM(ht_term2) AS BIGINT) AS est2,
             MIN(true2) AS true2
      FROM sampled GROUP BY 1
    )
    SELECT method, n_sampled,
           {R2('est2 / 100.0')} AS est_total2,
           {R2('true2 / 100.0')} AS true_total2,
           {R4('ABS(est2 - true2) * 1.0 / true2')} AS rel_err4
    FROM est
    """,
    priority="P2",
    tags=("agg", "sampling", "estimation"),
)
def q_ht_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total estimation under two sampling designs —
    the SURVEY-SAMPLING estimator behind every "estimate the 100 TB
    total from a 0.01% sample" query (`q_join_sample_estimate`
    samples for JOIN sizes; this estimates population TOTALS with
    unequal inclusion probabilities): include row i with probability
    pi_i, estimate T = sum over the sample of y_i / pi_i — unbiased
    for ANY pi > 0. Two designs side by side: Poisson SRS (pi
    constant — carries BOTH per-row and sample-SIZE noise; measured
    ~15% rel err at n0 = 100) and SYSTEMATIC PPS (fixed-size by
    construction: take the rows whose cumulative-size interval
    contains a multiple of T/n0, hash-ordered against periodicity —
    the textbook pps implementation), whose HT terms are all ~ T/n0
    when the size measure IS the target variable, so the total comes
    back within ~1/n0. The first build used POISSON pps and measured
    16% error — the random sample SIZE multiplies the estimate even
    when every term is perfect (est = T * n/n0); the fixed-size
    rework is the fix, and the contrast is the lesson.

    Determinism: inclusion is an avalanched unit hash compared to
    pi (sargable predicate, no RNG); HT terms are Spark-ROUND
    quantized to integer cents before the order-independent bigint
    sum; estimates and errors are single r2/r4 formulas.

    Scale: one 1-row total pass, one sargable SRS scan, and one
    banded cumulative walk for the systematic selection (no global
    sort); the estimator never shuffles row data."""
    hbase = F.pmod(
        F.col("o_orderkey") * F.lit(2654435761).cast("bigint"),
        F.lit(4294967296),
    )
    base = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y2"),
            F.pmod(
                hbase.bitwiseXOR(F.shiftright(hbase, 16)), F.lit(1000000)
            ).alias("u"),
        )
    )
    t = base.agg(
        F.sum("y2").cast("bigint").alias("true2"),
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
    ).collect()[0]
    from modforms_db_spark.operators.banded import with_banded_order

    srs_pi = _HT_N0 * 1.0 / t.n_pop
    srs = base.where(F.col("u") < srs_pi * 1000000).select(
        F.lit("srs").alias("method"),
        F.round(F.col("y2") / srs_pi, 0).cast("bigint").alias("ht_term2"),
    )
    step = int(-(-t.true2 // _HT_N0))  # ceil(T / n0), exact integer
    walk = with_banded_order(
        base, "u", ["o_orderkey"], cumsum_col="y2", rn_name="rn",
        cum_name="cum",
    )
    # Integer `div` (r7 ADVICE), not floor(double /): the double form
    # agrees with the oracle's bigint `//` only while cum <= 2^53;
    # `div` keeps both engines on exact integer floor division at any
    # cumulative total (cum is a nonneg bigint, step a positive int).
    pps = walk.where(
        F.expr(f"cum div {step}") > F.expr(f"(cum - y2) div {step}")
    ).select(
        F.lit("pps").alias("method"),
        F.round(
            F.col("y2")
            / F.least(F.lit(1.0), F.col("y2") * _HT_N0 * 1.0 / t.true2),
            0,
        )
        .cast("bigint")
        .alias("ht_term2"),
    )
    sampled = srs.unionByName(pps)
    est = sampled.groupBy("method").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("ht_term2").cast("bigint").alias("est2"),
    )
    return est.select(
        "method",
        "n_sampled",
        F.round(F.col("est2") / 100.0, 2).alias("est_total2"),
        F.round(F.lit(t.true2) / 100.0, 2).alias("true_total2"),
        r4(F.abs(F.col("est2") - t.true2) * 1.0 / t.true2).alias("rel_err4"),
    )
