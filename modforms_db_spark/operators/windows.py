"""Window functions — SURVEY.md §2.5.

Reference capabilities [R]: top-k factors per space, rank levels by
completeness, successive-version deltas, cumulative coefficient coverage,
trailing-window coverage checks, first/last computed version per space.

Scale note: every window here partitions by a key (customer, user,
nation) — one shuffle on the partition key, then a sorted streaming pass
per partition. No global ordering except where the query semantics demand
a global rank (none here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.parity import r2, r4
from modforms_db_spark.registry import register


@register(
    "q_win_topk_pergroup",
    oracle="""
    SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    priority="P0",
    tags=("window", "topk"),
)
def q_win_topk_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (o_orderkey tiebreak) — top-k factors per
    space [R]."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
    )


_WIN_RANKING_ORACLE = f"""
    SELECT s_suppkey,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile,
           {R4('percent_rank() OVER w')} AS pct_rank,
           {R4('cume_dist()    OVER w')} AS cdist
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
    """


@register(
    "q_win_ranking",
    oracle=_WIN_RANKING_ORACLE,
    priority="P1",
    tags=("window", "rank"),
)
def q_win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family over supplier account balance (suppkey tiebreak).

    Contract row: the unpartitioned ranking window serializes the table
    through one task — fine to ~10⁸ supplier-grain rows, single-task
    beyond; `q_win_ranking_scaled` is the banded distributed form
    test-pinned equal to this one."""
    s = load(spark, sf_dir, "supplier")
    w = Window.orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return s.select(
        "s_suppkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        r4(F.percent_rank().over(w)).alias("pct_rank"),
        r4(F.cume_dist().over(w)).alias("cdist"),
    )


@register(
    "q_win_ranking_scaled",
    oracle=_WIN_RANKING_ORACLE,
    priority="P2",
    tags=("window", "rank", "banded", "scale-twin"),
)
def q_win_ranking_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_win_ranking`'s scale twin (same oracle, byte-identical result,
    test-pinned): the whole ranking family from a BANDED global row
    number instead of one unpartitioned window. (s_acctbal DESC,
    s_suppkey) is a unique order key, so rank ≡ dense_rank ≡ row_number;
    ntile / percent_rank / cume_dist are pure integer arithmetic over
    (row number, table count) — see `banded.ntile_from_rn`. The only
    single-partition window left is the 32-row band-offset prefix sum.

    Scale: per-band sort + rank parallelizes across 32 bands (more at
    higher SF); the count scalar is a broadcast 1-row join, never a
    driver collect."""
    from modforms_db_spark.operators.banded import ntile_from_rn, with_banded_order

    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    ranked = with_banded_order(
        s, "s_acctbal", ["s_suppkey"], descending=True, rn_name="rn"
    )
    n_df = s.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    rn, n = F.col("rn"), F.col("_n")
    return ranked.crossJoin(F.broadcast(n_df)).select(
        "s_suppkey",
        rn.cast("int").alias("rnk"),
        rn.cast("int").alias("drnk"),
        ntile_from_rn(rn, n, 4).cast("int").alias("quartile"),
        # percent_rank is DEFINED as 0 for a single-row partition; the
        # naive (rn-1)/(n-1) would be 0/0 = NaN there.
        r4(
            F.when(n > 1, (rn - 1).cast("double") / (n - 1).cast("double"))
            .otherwise(F.lit(0.0))
        ).alias("pct_rank"),
        r4(rn.cast("double") / n.cast("double")).alias("cdist"),
    )


@register(
    "q_win_lag_lead",
    oracle="""
    SELECT user_id, event_id, ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER w)  AS gap_us,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    priority="P1",
    tags=("window", "lag"),
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (µs) + next event type — successive-version
    deltas [R]. Gap computed in epoch micros so both engines do exact
    integer arithmetic."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    return e.select(
        "user_id",
        "event_id",
        "ts",
        (us - prev_us).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "q_win_running",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           {R2('''SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS running_total,
           {R4('''AVG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)''')} AS moving_avg3
    FROM orders
    """,
    priority="P1",
    tags=("window", "frame"),
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + 3-row moving average — cumulative coverage [R]."""
    o = load(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        r2(
            F.sum("o_totalprice").over(
                base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("running_total"),
        r4(
            F.avg("o_totalprice").over(base.rowsBetween(-2, Window.currentRow))
        ).alias("moving_avg3"),
    )


@register(
    "q_win_range_interval",
    oracle=f"""
    SELECT user_id, event_id, ts,
           {R4('''SUM(value) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)''')} AS trailing_1h
    FROM events
    """,
    priority="P2",
    tags=("window", "range"),
)
def q_win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE frame (trailing 1 hour of value per user) — the DF API's
    rangeBetween is long-typed, so this goes through the SQL API, which both
    engines share verbatim. Trailing coverage checks [R]."""
    load(spark, sf_dir, "events").createOrReplaceTempView("mfdb_events_ri")
    return spark.sql(
        """
        SELECT user_id, event_id, ts,
               ROUND(SUM(value) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4) AS trailing_1h
        FROM mfdb_events_ri
        """
    )


@register(
    "q_win_first_last",
    oracle="""
    SELECT s_nationkey, s_suppkey,
           first_value(s_suppkey) OVER w AS poorest,
           last_value(s_suppkey)  OVER w AS richest
    FROM supplier
    WINDOW w AS (
      PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    priority="P2",
    tags=("window", "first_last"),
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last_value with an explicit full-partition frame — first/last
    computed version per space [R]."""
    s = load(spark, sf_dir, "supplier")
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy("s_acctbal", "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return s.select(
        "s_nationkey",
        "s_suppkey",
        F.first("s_suppkey").over(w).alias("poorest"),
        F.last("s_suppkey").over(w).alias("richest"),
    )


@register(
    "q_win_keep_latest",
    oracle="""
    SELECT user_id, event_id, ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    priority="P1",
    tags=("window", "dedup", "version"),
)
def q_win_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-version per key — the reference's version-chained read
    ("latest computation per space" [R]) and the standard SCD/ingest dedup:
    row_number over (key ORDER BY version DESC) = 1, with event_id as the
    deterministic tiebreak for equal timestamps.

    Scale: one shuffle on the key; Spark plans rn=1 as a WindowGroupLimit
    (top-1 per key pushed before the full sort materializes). At 100 TB
    prefer this over groupBy(max(ts))+self-join — half the shuffles.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@register(
    "q_events_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), v AS (
      SELECT e.user_id, MIN(e.ts) AS v_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'view' AND e.ts >= s.s_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM v) AS n_signup_view,
           (SELECT COUNT(*) FROM p) AS n_signup_view_purchase
    """,
    priority="P2",
    tags=("window", "funnel", "events"),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who signed up, then viewed AT OR
    AFTER their first signup, then purchased at or after that first
    qualifying view — the standard product-analytics sequence query
    (order matters; a purchase before the view doesn't count).

    Scale: three stage aggregations, each one shuffle on user_id and each
    consuming the previous stage's (user_id, ts) — state per user is one
    timestamp per stage, never the event list. The alternative
    (collect_list + UDF scan per user) holds whole histories in memory;
    this shape doesn't.
    """
    e = load(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    v = (
        e.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_signup_view")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).alias("n_signup_view_purchase"))
        )
    )


@register(
    "q_win_nth_value",
    oracle="""
    SELECT DISTINCT o_custkey,
           nth_value(o_orderkey, 2) OVER w AS second_best_order,
           nth_value(o_totalprice, 2) OVER w AS second_best_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    priority="P2",
    tags=("window", "nth-value"),
)
def q_win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`nth_value` with an explicit full-partition frame: each customer's
    second-largest order (NULL for single-order customers) — the "runner-up
    version per space" read. DISTINCT collapses the per-row window output
    to one row per key; same one-shuffle sorted-pass shape as the other
    windows.
    """
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.nth_value("o_orderkey", 2).over(w).alias("second_best_order"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_best_price"),
    ).distinct()


@register(
    "q_win_range_numeric",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_within_10k
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
    """,
    priority="P2",
    tags=("window", "range-frame"),
)
def q_win_range_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE frame (value-based, not row-based): per priority,
    how many orders price within 10k BELOW each order — the peer-density
    read a ROWS frame cannot express (RANGE includes all value-ties and
    spans by the ordering value itself). DataFrame-API `rangeBetween` is
    long-typed; the frame is evaluated in one sorted pass per partition,
    same cost shape as every other window.
    """
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_within_10k"),
    )


@register(
    "q_win_moving_median",
    oracle=f"""
    SELECT event_id, user_id,
           {R4('''median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
           )''')} AS med4
    FROM events
    WHERE event_type = 'purchase'
    """,
    priority="P2",
    tags=("window", "median", "rolling"),
)
def q_win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of purchase value over the trailing 4-row
    frame per user — the robust-smoothing twin of `q_ewma` (median
    shrugs off the spikes EWMA chases). Spark has no median-over-frame
    builtin, so the frame is materialized with collect_list OVER the
    window and the median read from the sorted array — exact, and
    cheap because the frame is O(4), not the whole partition.

    Scale: one shuffle on user_id; per-row state is the 4-element
    frame array (constant), so memory does not grow with history. For
    wide frames (say 10k rows) you'd swap the sort for a two-heap /
    order-statistic sketch inside applyInPandas — noted, not needed at
    frame=4."""
    e = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    frame = F.sort_array(F.collect_list("value").over(w))
    n = F.size(frame)
    lo = F.element_at(frame, ((n + 1) / 2).cast("int"))
    hi = F.element_at(frame, ((n + 2) / 2).cast("int"))
    # collect_list drops NULLs, so an all-NULL frame is empty (n=0) and
    # element_at(_, 0) would throw — guard to NULL, matching median().
    return e.select(
        "event_id",
        "user_id",
        F.when(n > 0, r4((lo + hi) / 2)).alias("med4"),
    )


@register(
    "q_longest_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ), grp AS (
      SELECT user_id, d,
             d - INTERVAL 1 DAY * row_number() OVER (
               PARTITION BY user_id ORDER BY d
             ) AS anchor
      FROM days
    ), streaks AS (
      SELECT user_id, COUNT(*) AS len, MIN(d) AS streak_start
      FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id, len AS longest_streak, streak_start
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY len DESC, streak_start
      ) AS rk
      FROM streaks
    ) WHERE rk = 1
    """,
    priority="P2",
    tags=("window", "streak", "islands"),
)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (ties broken to
    the earliest streak) via the date-minus-row_number anchor: runs of
    consecutive days share one anchor, so streaks fall out of a plain
    groupBy — the gaps-and-islands identity specialized to calendar
    days, and the engagement metric every retention dashboard wants.

    Scale: one distinct projection to (user, day) grain, then every
    step shares the user_id partitioning (row_number window, anchor
    groupBy, argmax window) — a single exchange end-to-end; state per
    user is its day count, never raw events."""
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    wrn = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor",
        F.col("d") - F.expr("INTERVAL 1 DAY") * F.row_number().over(wrn),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("streak_start")
    )
    wmax = Window.partitionBy("user_id").orderBy(F.desc("len"), "streak_start")
    return (
        streaks.withColumn("rk", F.row_number().over(wmax))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("len").alias("longest_streak"), "streak_start")
    )


@register(
    "q_max_drawdown",
    oracle=f"""
    WITH signed AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_id % 7 = 0 THEN -value ELSE value END AS value
      FROM events WHERE event_type = 'purchase'
    ), series AS (
      SELECT user_id, ts, event_id,
             {R(f'''SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 10)} AS cum
      FROM signed
    ), dd AS (
      SELECT user_id,
             {R(f'''MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 10)} - cum AS drawdown
      FROM series
    )
    SELECT user_id, {R4('MAX(drawdown)')} AS max_drawdown
    FROM dd GROUP BY user_id
    HAVING {R4('MAX(drawdown)')} > 0
    """,
    priority="P2",
    tags=("window", "drawdown", "running"),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the cumulative NET purchase-value
    series: running-peak minus current cumulative, maximized — the
    risk/health metric for any monotone-hoped series (revenue, balance,
    model-metric over checkpoints). Running sums r10-rounded on both
    engines so the two stacked windows see identical inputs; (ts,
    event_id) tiebreak fixes the accumulation order.

    The shipped events have strictly positive purchase values, so the
    raw cumulative series is monotone and a drawdown can never exist —
    the parity check was passing vacuously on empty==empty at every SF
    (the q_fuzzy_name_join lesson). Refunds are therefore synthesized
    deterministically (every 7th event_id flips sign), making the
    series genuinely non-monotone for essentially every active user.

    Scale: both windows and the final agg share ONE user_id exchange
    (Catalyst collapses same-partitioning windows); per-row state is
    two doubles. The HAVING keeps flat (never-declining) users out of
    the report."""
    e = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    signed = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 7 == 0, -F.col("value"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.round(F.sum("value").over(w), 10)
    series = signed.select("user_id", "ts", "event_id", cum.alias("cum"))
    dd = series.select(
        "user_id",
        (F.round(F.max("cum").over(w), 10) - F.col("cum")).alias("drawdown"),
    )
    return (
        dd.groupBy("user_id")
        .agg(r4(F.max("drawdown")).alias("max_drawdown"))
        .where(F.col("max_drawdown") > 0)
    )


@register(
    "q_weighted_median",
    oracle=f"""
    WITH w AS (
      SELECT o_orderpriority, o_totalprice, o_orderkey,
             CAST(1 + o_orderkey % 5 AS BIGINT) AS wt
      FROM orders
    ), cum AS (
      SELECT o_orderpriority, o_totalprice, wt,
             SUM(wt) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(wt) OVER (PARTITION BY o_orderpriority) AS tw
      FROM w
    )
    SELECT o_orderpriority, {R2('MIN(o_totalprice)')} AS weighted_median
    FROM cum
    WHERE cw * 2 >= tw
    GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("window", "percentile", "weighted"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per priority class (lower weighted median:
    first value whose cumulative weight reaches half the total) with a
    deterministic integer weight derived from the key — the
    importance-weighted center that plain `percentile` can't express;
    all-integer weights make the crossing test engine-exact.

    Scale: the cumulative-weight window, the total-weight window, and
    the final min-agg all share the group partitioning — one exchange;
    the crossing filter discards rows before the tiny final agg. At
    extreme group widths the same recurrence runs on a pre-aggregated
    (value, Σweight) grain first, shrinking the sort."""
    o = load(spark, sf_dir, "orders")
    w = o.select(
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        (1 + F.col("o_orderkey") % 5).cast("bigint").alias("wt"),
    )
    wc = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("o_orderpriority")
    cum = w.select(
        "o_orderpriority",
        "o_totalprice",
        F.sum("wt").over(wc).alias("cw"),
        F.sum("wt").over(wt).alias("tw"),
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("o_orderpriority")
        .agg(r2(F.min("o_totalprice")).alias("weighted_median"))
    )


@register(
    "q_funnel_latency",
    oracle=f"""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts) - epoch_us(s.s_ts)) AS lat_us
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
        AND e.ts < s.s_ts + INTERVAL 72 HOURS
      GROUP BY 1
    ), cohort AS (
      SELECT s.user_id,
             (day(s.s_ts) - 1) // 10 AS cohort,
             p.lat_us
      FROM s LEFT JOIN p ON s.user_id = p.user_id
    )
    SELECT CAST(cohort AS BIGINT) AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_signup,
           CAST(COUNT(lat_us) AS BIGINT) AS n_converted,
           {R4('COUNT(lat_us) * 1.0 / COUNT(*)')} AS cvr,
           {R4('quantile_cont(lat_us, 0.5) / 3600000000.0')} AS p50_hours,
           {R4('quantile_cont(lat_us, 0.9) / 3600000000.0')} AS p90_hours
    FROM cohort GROUP BY 1
    """,
    priority="P2",
    tags=("window", "funnel", "latency"),
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution behind the funnel: for each
    signup cohort (10-day buckets of first-signup date), the share of
    users who purchased within the 72-hour conversion window after
    signing up and the p50/p90 hours from first signup to first
    qualifying purchase — the
    time-to-value read `q_events_funnel`'s stage counts can't give
    (two funnels with equal conversion can differ 10x in latency).
    Never-converting users stay in the cohort denominator via the
    left join (dropping them inflates cvr — the classic funnel bug).

    Exactness: latencies ride as exact integer microseconds (epoch
    difference); percentiles interpolate engine-identically over
    integers (`q_agg_percentile` precedent) and divide once to hours
    before r4.

    Scale: two stage aggregations, each one shuffle on user_id with
    one-timestamp state (the `q_events_funnel` shape), then a
    3-row cohort aggregate.
    """
    e = load(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .localCheckpoint(eager=False)  # purchase pairing + cohort grain
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(
            (F.col("ts") >= F.col("s_ts"))
            & (F.col("ts") < F.col("s_ts") + F.expr("INTERVAL 72 HOURS"))
        )
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("s_ts").cast("timestamp"))
            ).alias("lat_us")
        )
    )
    cohort = s.join(p, "user_id", "left").select(
        ((F.dayofmonth("s_ts") - 1) / 10).cast("bigint").alias("cohort"),
        "lat_us",
    )
    return cohort.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_signup"),
        F.count("lat_us").cast("bigint").alias("n_converted"),
        r4(F.count("lat_us") * 1.0 / F.count(F.lit(1))).alias("cvr"),
        r4(F.percentile("lat_us", F.lit(0.5)) / 3600000000.0).alias(
            "p50_hours"
        ),
        r4(F.percentile("lat_us", F.lit(0.9)) / 3600000000.0).alias(
            "p90_hours"
        ),
    )


_SLO_P95 = 145.0  # latency-proxy SLO thresholds (report literals)
_SLO_P99 = 1000.0


@register(
    "q_tail_latency_slo",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), s AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             {R2('MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN value END)')}
               AS p50_2,
             {R2('MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN value END)')}
               AS p95_2,
             {R2('MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END)')}
               AS p99_2
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, n, p50_2, p95_2, p99_2,
           p95_2 > {_SLO_P95!r} AS slo_p95_breach,
           p99_2 > {_SLO_P99!r} AS slo_p99_breach
    FROM s
    """,
    priority="P2",
    tags=("window", "percentile", "slo"),
)
def q_tail_latency_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-latency SLO report: EXACT nearest-rank p50/p95/p99 per
    event stream (rank = ⌈p·n/100⌉, selected — never interpolated, so
    the reported value is a real observation and the selection is pure
    integer arithmetic + ORDER, engine-portable where interpolated
    quantiles are fp-fragile), with breach flags against two literal
    SLO tiers (the p95 tier splits the fixture's streams; the p99 tier
    passes everywhere — both flag values exercised). The
    on-call-dashboard twin of `q_agg_percentile`'s interpolated
    contract row.

    Scale: one ranking window per stream (partitioned — never global)
    + conditional selection in the same grouped aggregate; at 100 TB
    the exact form stays a single shuffle per stream, and
    `q_agg_approx_percentile` is the sketch twin when one pass over
    raw values is too much."""
    e = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p: int):
        target = F.expr(f"({p} * n + 99) div 100")
        return F.round(
            F.max(F.when(F.col("rn") == target, F.col("value"))), 2
        )

    s = ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(50).alias("p50_2"),
        pick(95).alias("p95_2"),
        pick(99).alias("p99_2"),
    )
    return s.select(
        "event_type",
        "n",
        "p50_2",
        "p95_2",
        "p99_2",
        (F.col("p95_2") > _SLO_P95).alias("slo_p95_breach"),
        (F.col("p99_2") > _SLO_P99).alias("slo_p99_breach"),
    )
