"""Data-quality expectation operators — the dbt-test / Great-Expectations
battery as engine queries: each check is an aggregate over the table, the
suite is one union'd report, and a violation count of zero is the
contract. The reference's `check_records` consistency sweeps [R] are this
shape: scan the store once, emit one row per invariant.

Scale: every check is a partial+final aggregate (or a broadcast/semi
join for referential integrity); the suite output is bounded by the
number of CHECKS, not rows, so the report is free to collect anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.parity import d38, r2, r4
from modforms_db_spark.registry import register


@register(
    "q_dq_expectations",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST((SELECT COUNT(*) FROM
                  (SELECT o_orderkey FROM orders GROUP BY o_orderkey
                   HAVING COUNT(*) > 1)) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND o.o_custkey NOT IN (SELECT c_custkey FROM customer))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'customer_name_not_null',
           CAST((SELECT COUNT(*) FROM customer WHERE c_name IS NULL)
                AS BIGINT)
    """,
    priority="P2",
    tags=("quality", "expectations", "audit"),
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite over the warehouse: primary-key uniqueness,
    referential integrity, domain ranges, and not-null contracts, one
    row per check with its violation count — the pre-publish gate every
    curated dataset runs (`check_records` [R] generalized).

    Spark shape: PK check = self-groupBy; FK check = broadcast ANTI join
    against the (small-projected) dimension key set; range/null checks =
    conditional counts fused into single scans. Each table is scanned
    once per check family, and the output is one row per check.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    pk_dups = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orders_pk_unique").alias("check_name"), "n_violations")
    )
    fk_orphans = (
        o.where(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orders_custkey_fk").alias("check_name"), "n_violations")
    )
    # Range + positivity checks on single scans (conditional counts).
    disc_range = li.agg(
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("n_violations")
    ).select(
        F.lit("lineitem_discount_range").alias("check_name"), "n_violations"
    )
    price_pos = o.agg(
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("n_violations")
    ).select(
        F.lit("orders_totalprice_positive").alias("check_name"), "n_violations"
    )
    name_nn = c.agg(
        F.sum(F.col("c_name").isNull().cast("long")).alias("n_violations")
    ).select(
        F.lit("customer_name_not_null").alias("check_name"), "n_violations"
    )
    return (
        pk_dups.unionByName(fk_orphans)
        .unionByName(disc_range)
        .unionByName(price_pos)
        .unionByName(name_nn)
    )


@register(
    "q_winsorize",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           {R4('AVG(LEAST(GREATEST(e.value, b.lo), b.hi))')} AS mean_winsorized,
           {R4('AVG(e.value)')} AS mean_raw
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type
    """,
    priority="P2",
    tags=("quality", "robust-stats"),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clip values to the group's
    [p5, p95] before averaging — the robust-statistics cleaning step
    that stops a handful of wild outliers (sensor glitches, log bombs)
    from dragging quality metrics, reported next to the raw mean and
    the clip count.

    Scale: group percentiles are ONE exact-percentile agg over the
    bounded event-type key (5 rows), broadcast back onto the fact scan —
    the fact table is read once for the bounds and once for the clipped
    agg, both linear; no window function, so no per-row sort."""
    e = load(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).cast(
                    "long"
                )
            ).alias("n_clipped"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
            F.round(F.avg("value"), 4).alias("mean_raw"),
        )
    )


@register(
    "q_stat_drift",
    oracle=f"""
    WITH tagged AS (
      SELECT event_type,
             (ts >= TIMESTAMP '2024-01-16 00:00:00') AS win_b,
             value
      FROM events
    ), stats AS (
      SELECT event_type,
             SUM(CASE WHEN NOT win_b THEN 1 ELSE 0 END)       AS n_a,
             SUM(CASE WHEN win_b THEN 1 ELSE 0 END)           AS n_b,
             {R2("AVG(CASE WHEN NOT win_b THEN value END)")} AS mean_a,
             {R2("AVG(CASE WHEN win_b THEN value END)")} AS mean_b
      FROM tagged GROUP BY event_type
    )
    SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           mean_a, mean_b,
           {R4("n_b / (n_a * 1.0)")} AS vol_ratio,
           (ABS(mean_b - mean_a) > 0.05 * ABS(mean_a)) AS mean_drift,
           (n_b > 1.5 * n_a OR n_a > 1.5 * n_b)        AS volume_drift
    FROM stats
    """,
    priority="P2",
    tags=("quality", "drift", "monitoring"),
)
def q_stat_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between two time windows (data-quality
    monitoring for a continuously-ingested feed): per event_type, row
    volume and mean value in window A (before the cutoff) vs window B
    (after), with drift flags — |Δmean| > 5% of the baseline mean, and
    volume shift beyond 1.5×.

    Parity note: both means are r2-rounded BEFORE the drift comparison
    on both engines, so the flag is a deterministic function of
    engine-identical doubles — summation order can never flip it.

    Scale: single grouped pass over the fact scan (conditional aggs per
    window — no self-join of the two windows), output bounded at
    #event_types. At 100 TB windows would come from partition pruning on
    a date-partitioned table; the agg shape is unchanged."""
    e = load(spark, sf_dir, "events")
    win_b = F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    g = (
        e.select("event_type", win_b.alias("win_b"), "value")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(~F.col("win_b"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("win_b"), 1).otherwise(0)).alias("n_b"),
            F.round(F.avg(F.when(~F.col("win_b"), F.col("value"))), 2).alias(
                "mean_a"
            ),
            F.round(F.avg(F.when(F.col("win_b"), F.col("value"))), 2).alias(
                "mean_b"
            ),
        )
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(F.col("n_b") / F.col("n_a"), 4).alias("vol_ratio"),
        (
            F.abs(F.col("mean_b") - F.col("mean_a"))
            > 0.05 * F.abs(F.col("mean_a"))
        ).alias("mean_drift"),
        (
            (F.col("n_b") > 1.5 * F.col("n_a"))
            | (F.col("n_a") > 1.5 * F.col("n_b"))
        ).alias("volume_drift"),
    )


# Planted data-entry-error spikes for the IQR detector: every 211th
# order is multiplied by 7 (~0.5% of rows, far past any Tukey fence).
_IQR_SPIKE_MOD = 211
_IQR_SPIKE_FACTOR = 7


@register(
    "q_outlier_iqr",
    oracle=f"""
    WITH spiked AS (
      SELECT o_orderkey, o_orderpriority,
             {R2(f"o_totalprice * CASE WHEN o_orderkey % {_IQR_SPIKE_MOD} = 0 "
                 f"THEN {_IQR_SPIKE_FACTOR} ELSE 1 END")} AS amount
      FROM orders
    ), q AS (
      SELECT o_orderpriority,
             {R4('quantile_cont(amount, 0.25)')} AS q1,
             {R4('quantile_cont(amount, 0.75)')} AS q3
      FROM spiked GROUP BY o_orderpriority
    )
    SELECT s.o_orderkey, s.o_orderpriority, s.amount,
           {R2('q.q3 + 1.5 * (q.q3 - q.q1)')} AS hi_fence
    FROM spiked s JOIN q USING (o_orderpriority)
    WHERE s.amount > {R2('q.q3 + 1.5 * (q.q3 - q.q1)')}
    """,
    priority="P2",
    tags=("quality", "outlier", "iqr"),
)
def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier detection per priority class (value >
    Q3 + 1.5·IQR) — the third robust-outlier family next to MAD
    (`q_anomaly_mad`) and winsorization (`q_winsorize`): fence from
    rank statistics, so heavy tails can't drag the threshold. Fences
    r4/r2-rounded before the comparison so the boundary can't flip
    between engines.

    TPC-H's o_totalprice is thin-tailed by construction — Q3 + 1.5·IQR
    sits above its maximum at every SF, so the raw column can never
    produce an outlier and the parity check would pass vacuously on
    empty==empty (the q_fuzzy_name_join lesson). The query therefore
    PLANTS deterministic data-entry-error spikes (every
    {_IQR_SPIKE_MOD}th order ×{_IQR_SPIKE_FACTOR}) and detects them —
    known ground truth, so a test can assert every planted key is
    caught and nothing unplanted is.

    Scale: exact quantiles per group need the per-group sort once; at
    100 TB swap `percentile` for the GK sketch
    (`q_agg_approx_percentile`'s path) — the fence join itself is a
    broadcast of #groups rows against the scan."""
    o = load(spark, sf_dir, "orders")
    spiked = o.select(
        "o_orderkey",
        "o_orderpriority",
        r2(
            F.col("o_totalprice")
            * F.when(F.col("o_orderkey") % _IQR_SPIKE_MOD == 0, _IQR_SPIKE_FACTOR)
            .otherwise(1)
        ).alias("amount"),
    )
    q = spiked.groupBy("o_orderpriority").agg(
        r4(F.percentile("amount", F.lit(0.25))).alias("q1"),
        r4(F.percentile("amount", F.lit(0.75))).alias("q3"),
    )
    fence = r2(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
    return (
        spiked.join(F.broadcast(q), "o_orderpriority")
        .withColumn("hi_fence", fence)
        .where(F.col("amount") > F.col("hi_fence"))
        .select("o_orderkey", "o_orderpriority", "amount", "hi_fence")
    )


@register(
    "q_impute_mean",
    oracle=f"""
    WITH holes AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer
    ), seg AS (
      SELECT c_mktsegment, {R4('AVG(bal)')} AS seg_mean FROM holes GROUP BY c_mktsegment
    )
    SELECT h.c_custkey, h.c_mktsegment,
           COALESCE({R2('h.bal')}, {R2('s.seg_mean')}) AS bal_filled,
           h.bal IS NULL AS imputed
    FROM holes h JOIN seg s USING (c_mktsegment)
    """,
    priority="P2",
    tags=("quality", "impute"),
)
def q_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation: balances NULLed deterministically (every
    11th key plays the missing-data role), refilled with their market
    segment's mean over the OBSERVED values, provenance flagged — the
    feature-engineering fill that keeps downstream aggregates unbiased
    per group rather than pulling holes toward the global mean.

    Scale: one partial agg for the per-group means (ignoring NULLs, as
    AVG does), broadcast back over the scan — no second fact pass, no
    window. Means r4-rounded before the fill so the filled column is
    engine-identical."""
    c = load(spark, sf_dir, "customer")
    holes = c.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 11 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    seg = holes.groupBy("c_mktsegment").agg(r4(F.avg("bal")).alias("seg_mean"))
    return (
        holes.join(F.broadcast(seg), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce(r2(F.col("bal")), r2(F.col("seg_mean"))).alias("bal_filled"),
            F.col("bal").isNull().alias("imputed"),
        )
    )


@register(
    "q_feature_scale",
    oracle=f"""
    WITH stats AS (
      SELECT {R2('MIN(o_totalprice)')} AS lo, {R2('MAX(o_totalprice)')} AS hi
      FROM orders
    )
    SELECT o_orderkey,
           {R4('(o_totalprice - lo) / (hi - lo)')} AS price_01,
           (o_totalprice = lo OR o_totalprice = hi) AS is_extreme
    FROM orders CROSS JOIN stats
    """,
    priority="P2",
    tags=("quality", "scaling", "feature"),
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling to [0,1] with extreme-row flags — the
    normalization every distance-based consumer (kNN, clustering,
    quantized embeddings) expects; bounds r2-rounded before the ratio
    so both engines scale by identical constants.

    Scale: the bounds are a 1-row aggregate broadcast-crossed into the
    scan — one fact pass, map-only after the broadcast. (Standard
    caveat encoded here by the flag: min-max is outlier-sensitive;
    robust variants swap the bounds for the IQR fences of
    `q_outlier_iqr` without changing the plan.)"""
    o = load(spark, sf_dir, "orders")
    stats = o.agg(
        r2(F.min("o_totalprice")).alias("lo"), r2(F.max("o_totalprice")).alias("hi")
    )
    return (
        o.crossJoin(F.broadcast(stats))
        .select(
            "o_orderkey",
            r4((F.col("o_totalprice") - F.col("lo")) / (F.col("hi") - F.col("lo"))).alias(
                "price_01"
            ),
            (
                (F.col("o_totalprice") == F.col("lo"))
                | (F.col("o_totalprice") == F.col("hi"))
            ).alias("is_extreme"),
        )
    )


_BENFORD = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
_BENFORD_SQL = " UNION ALL ".join(
    f"SELECT {d} AS digit, {p!r} AS expected" for d, p in _BENFORD.items()
)


@register(
    "q_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counts AS (
      SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
    expected AS ({_BENFORD_SQL})
    SELECT e.digit,
           COALESCE(c.n, 0) AS n,
           {R4('COALESCE(c.n, 0) / (t.total * 1.0)')} AS observed,
           {R4('e.expected')} AS expected,
           {R4('''(COALESCE(c.n, 0) / (t.total * 1.0) - e.expected)
                 * (COALESCE(c.n, 0) / (t.total * 1.0) - e.expected)
                 / e.expected * t.total''')} AS chi2_term
    FROM expected e LEFT JOIN counts c USING (digit) CROSS JOIN tot t
    """,
    priority="P2",
    tags=("quality", "benford", "audit"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed vs
    expected log10(1+1/d) share per leading digit plus the per-digit
    χ² contribution — the forensic-accounting / synthetic-data smoke
    test (fabricated or uniformly-generated amounts flunk it;
    real-world multiplicative amounts follow it). First digit taken
    from FLOOR()'s decimal string — explicit floor because the two
    engines disagree on double→BIGINT casts (truncate vs round-half-
    even; a live boundary hit at sf0.01); the expected table is generated from one Python
    constant into both the oracle SQL and the Spark literal — a single
    source of truth for the law.

    Scale: one conditional scan → 9-group agg; the expected side is a
    9-row literal. χ² terms are emitted per digit rather than summed
    so the report shows WHERE the deviation lives."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counts = (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # total + the expected join both read it
    )
    expected = counts.sparkSession.createDataFrame(
        [(d, p) for d, p in _BENFORD.items()], "digit INT, expected DOUBLE"
    )
    tot = counts.agg(F.sum("n").alias("total"))
    obs = F.coalesce(F.col("n"), F.lit(0)) / (F.col("total") * 1.0)
    return (
        # broadcast the RIGHT side: the preserved (left) side of an outer
        # join cannot be the broadcast build side
        expected.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            r4(obs).alias("observed"),
            r4(F.col("expected")).alias("expected"),
            r4(
                (obs - F.col("expected")) * (obs - F.col("expected"))
                / F.col("expected") * F.col("total")
            ).alias("chi2_term"),
        )
    )


@register(
    "q_freshness_audit",
    oracle="""
    WITH per_table AS (
      SELECT 'events' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows, MAX(ts) AS max_ts FROM events
      UNION ALL
      SELECT 'orders', CAST(COUNT(*) AS BIGINT), MAX(o_orderdate) FROM orders
      UNION ALL
      SELECT 'lineitem', CAST(COUNT(*) AS BIGINT), MAX(l_shipdate) FROM lineitem
    ), ref AS (SELECT MAX(max_ts) AS newest FROM per_table)
    SELECT tbl, n_rows, max_ts,
           CAST(date_diff('day', max_ts, r.newest) AS BIGINT) AS staleness_days,
           (date_diff('day', max_ts, r.newest) <= 365) AS fresh_within_year
    FROM per_table CROSS JOIN ref r
    """,
    priority="P2",
    tags=("quality", "freshness", "audit"),
)
def q_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table freshness audit: per-table row count + newest
    timestamp + staleness in days against the NEWEST timestamp across
    the warehouse (a deterministic reference, unlike wall-clock now())
    — the "did yesterday's load land everywhere" check every
    multi-table pipeline runs before publishing. The fresh flag uses a
    fixed SLA window so the report is a boolean contract, not a
    dashboard.

    Scale: one metadata-cheap MAX+COUNT aggregate per table (parquet
    footers could answer MAX alone, but COUNT(*)+MAX in one scan keeps
    it honest about row-level visibility); the reference is a 3-row
    combine."""
    parts = []
    for tbl, col in (("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        parts.append(
            load(spark, sf_dir, tbl).agg(
                F.lit(tbl).alias("tbl"),
                F.count(F.lit(1)).alias("n_rows"),
                F.max(col).alias("max_ts"),
            ).select("tbl", "n_rows", "max_ts")
        )
    per_table = parts[0].unionByName(parts[1]).unionByName(parts[2]).localCheckpoint(
        eager=False
    )  # the newest-timestamp reference re-reads the 3-row table
    ref = per_table.agg(F.max("max_ts").alias("newest"))
    stale = F.datediff(F.col("newest"), F.col("max_ts"))
    return per_table.crossJoin(F.broadcast(ref)).select(
        "tbl",
        "n_rows",
        "max_ts",
        stale.cast("bigint").alias("staleness_days"),
        (stale <= 365).alias("fresh_within_year"),
    )


_KS_CRIT = 1.358  # c(alpha) for alpha = 0.05


@register(
    "q_ks_test",
    oracle=f"""
    WITH t AS (
      SELECT lang, n_chars FROM documents
      UNION ALL
      SELECT 'zz-shift' AS lang, n_chars + 150 AS n_chars
      FROM documents WHERE lang = 'en'
    ), cnts AS (
      SELECT lang, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM t GROUP BY lang, n_chars
    ), nl AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnts GROUP BY lang
    ), pairs AS (
      SELECT a.lang AS la, b.lang AS lb, a.n AS n_a, b.n AS n_b
      FROM nl a JOIN nl b ON a.lang < b.lang
    ), vals AS (SELECT DISTINCT v FROM cnts
    ), grid AS (
      SELECT la, lb, n_a, n_b, vals.v AS v,
             COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b
      FROM pairs CROSS JOIN vals
      LEFT JOIN cnts ca ON ca.lang = la AND ca.v = vals.v
      LEFT JOIN cnts cb ON cb.lang = lb AND cb.v = vals.v
    ), cum AS (
      SELECT la, lb, n_a, n_b, v,
             SUM(c_a) OVER (PARTITION BY la, lb ORDER BY v) AS cum_a,
             SUM(c_b) OVER (PARTITION BY la, lb ORDER BY v) AS cum_b
      FROM grid
    ), dv AS (
      SELECT la, lb, n_a, n_b,
             {R4('ABS(cum_a * 1.0 / n_a - cum_b * 1.0 / n_b)')} AS d_v
      FROM cum
    )
    SELECT la, lb, n_a, n_b,
           MAX(d_v) AS d_stat,
           {R4(f'{_KS_CRIT} * sqrt((MAX(n_a) + MAX(n_b)) * 1.0'
               ' / (MAX(n_a) * MAX(n_b)))')} AS d_crit,
           MAX(d_v) > {R4(f'{_KS_CRIT} * sqrt((MAX(n_a) + MAX(n_b)) * 1.0'
               ' / (MAX(n_a) * MAX(n_b)))')} AS reject
    FROM dv GROUP BY la, lb, n_a, n_b
    """,
    priority="P2",
    tags=("quality", "statistics", "drift"),
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between every pair of
    language slices over the document-length distribution: exact
    D = max_v |F̂_a(v) − F̂_b(v)| on the merged support, the α=0.05
    critical value c·√((n_a+n_b)/(n_a·n_b)), and the reject flag —
    the full-distribution drift test beside `q_stat_drift`'s
    mean/volume flags (KS sees shape changes a stable mean hides).
    A deterministic +150-shifted copy of the en slice rides along as
    lang 'zz-shift' (planted ground truth — fixture lengths are iid
    across langs, so organic pairs all accept; the planted pairs
    reject, keeping BOTH flag directions live at every SF).

    Every CDF step is exact-integer cumulative counts over the value
    grain; each |ΔCDF| is r4-rounded before the MAX, so the statistic
    is an order statistic of engine-identical doubles.

    Scale: one pass to the (lang, value) grain (map-side combined),
    then a langs²/2 × |support| grid — bounded by the VALUE domain
    (distinct lengths), not row count; cumulative windows partition
    per pair. The same shape tests feature drift on billions of rows
    because only the quantized support enters the window (quantize
    real-valued features to fixed-width bins first)."""
    d = load(spark, sf_dir, "documents").select("lang", "n_chars")
    # Planted ground truth (house vacuity discipline): the fixture's
    # length distributions are iid across langs, so every organic pair
    # accepts H0 — a deterministic +150-shifted copy of the en slice
    # guarantees the reject branch is exercised at every SF.
    shifted = d.where(F.col("lang") == "en").select(
        F.lit("zz-shift").alias("lang"),
        (F.col("n_chars") + 150).alias("n_chars"),
    )
    t = d.unionByName(shifted)
    cnts = (
        t.groupBy("lang", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # totals + both grid legs + support
    )
    nl = cnts.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    a, b = nl.alias("a"), nl.alias("b")
    pairs = a.join(b, F.col("a.lang") < F.col("b.lang")).select(
        F.col("a.lang").alias("la"),
        F.col("b.lang").alias("lb"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
    vals = cnts.select("v").distinct()
    ca = cnts.select(
        F.col("lang").alias("la"), F.col("v").alias("v"), F.col("c").alias("c_a")
    )
    cb = cnts.select(
        F.col("lang").alias("lb"), F.col("v").alias("v"), F.col("c").alias("c_b")
    )
    grid = (
        pairs.crossJoin(F.broadcast(vals))
        .join(F.broadcast(ca), ["la", "v"], "left")
        .join(F.broadcast(cb), ["lb", "v"], "left")
        .select(
            "la",
            "lb",
            "n_a",
            "n_b",
            "v",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    from pyspark.sql import Window

    wc = (
        Window.partitionBy("la", "lb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "la",
        "lb",
        "n_a",
        "n_b",
        F.sum("c_a").over(wc).alias("cum_a"),
        F.sum("c_b").over(wc).alias("cum_b"),
    )
    dv = cum.select(
        "la",
        "lb",
        "n_a",
        "n_b",
        r4(
            F.abs(
                F.col("cum_a") * 1.0 / F.col("n_a")
                - F.col("cum_b") * 1.0 / F.col("n_b")
            )
        ).alias("d_v"),
    )
    d_crit = r4(
        _KS_CRIT
        * F.sqrt(
            (F.max("n_a") + F.max("n_b")) * 1.0 / (F.max("n_a") * F.max("n_b"))
        )
    )
    return dv.groupBy("la", "lb", "n_a", "n_b").agg(
        F.max("d_v").alias("d_stat"),
        d_crit.alias("d_crit"),
        (F.max("d_v") > d_crit).alias("reject"),
    )


# Candidate FK edges for q_fk_discovery: (candidate, child_table,
# child_col, parent_table, parent_col). Five true warehouse FKs, one
# discovered inclusion (event users drawn from the customer key space),
# and one deliberately mis-declared edge (part sizes are NOT nation
# keys) so both verdict directions stay live at every SF.
_FK_CANDIDATES = (
    ("ord_cust", "orders", "o_custkey", "customer", "c_custkey"),
    ("li_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("li_supp", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("cust_nat", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nat_reg", "nation", "n_regionkey", "region", "r_regionkey"),
    ("evt_user", "events", "user_id", "customer", "c_custkey"),
    ("part_size_nat", "part", "p_size", "nation", "n_nationkey"),
)


def _fk_oracle() -> str:
    blocks = []
    for cand, ct, cc, pt, pc in _FK_CANDIDATES:
        blocks.append(f"""
    SELECT '{cand}' AS candidate,
           CAST(SUM(c) AS BIGINT) AS child_rows,
           CAST(COUNT(*) AS BIGINT) AS child_keys,
           CAST(SUM(CASE WHEN p IS NULL THEN c ELSE 0 END) AS BIGINT)
             AS orphan_rows,
           CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS orphan_keys,
           {R4('1.0 - SUM(CASE WHEN p IS NULL THEN c ELSE 0 END) * 1.0'
               ' / SUM(c)')} AS containment,
           SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT CAST({cc} AS BIGINT) AS k, COUNT(*) AS c
          FROM {ct} WHERE {cc} IS NOT NULL GROUP BY 1) ch
    LEFT JOIN (SELECT DISTINCT CAST({pc} AS BIGINT) AS p FROM {pt}) pa
      ON ch.k = pa.p""")
    return "\n    UNION ALL\n".join(blocks)


@register(
    "q_fk_discovery",
    oracle=_fk_oracle(),
    priority="P2",
    tags=("quality", "integrity", "audit"),
)
def q_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate foreign-key discovery audit: for each declared or
    suspected FK edge, the containment of the child key set in the
    parent key set — child rows/keys, orphan rows/keys, containment
    fraction, and a holds flag (zero orphans). The profiling sweep a
    warehouse runs before trusting joins: five true FKs hold, the
    event→customer inclusion is discovered, and the mis-declared
    part-size→nation edge surfaces orphans (both verdict directions
    live by construction; the reference's store-consistency sweeps [R]
    are this shape run against its linked stores).

    Scale: every table is scanned ONCE, whatever mix of child/parent
    roles it plays — multi-column children (lineitem) emit all their
    candidate keys via one `stack`, multi-role tables (customer,
    nation, part) checkpoint one column-pruned projection that feeds
    every role, and parents shared by several candidates tag their
    distinct keys via an array explode instead of re-scanning. The
    child side pre-aggregates to (candidate, key) grain map-side, so
    the audit join is bounded by key DOMAINS, not row counts. One
    shuffle join on (candidate, key), one bounded final combine — at
    100 TB the fact scan dominates and nothing wide ever shuffles.
    """
    child_by_table: dict[str, list[tuple[str, str]]] = {}
    parent_by_col: dict[tuple[str, str], list[str]] = {}
    cols_needed: dict[str, set[str]] = {}
    for cand, ct, cc, pt, pc in _FK_CANDIDATES:
        child_by_table.setdefault(ct, []).append((cand, cc))
        parent_by_col.setdefault((pt, pc), []).append(cand)
        cols_needed.setdefault(ct, set()).add(cc)
        cols_needed.setdefault(pt, set()).add(pc)
    n_roles = {
        t: len(child_by_table.get(t, [])) + sum(1 for (pt, _pc) in parent_by_col if pt == t)
        for t in cols_needed
    }
    base: dict[str, DataFrame] = {}
    for tbl, cols in cols_needed.items():
        df = load(spark, sf_dir, tbl).select(*sorted(cols))
        if n_roles[tbl] > 1:  # multi-role: one scan feeds every role
            df = df.localCheckpoint(eager=False)
        base[tbl] = df
    child_frames = []
    for ct, pairs in child_by_table.items():
        args = ", ".join(
            f"'{cand}', CAST({cc} AS BIGINT)" for cand, cc in pairs
        )
        child_frames.append(
            base[ct].selectExpr(
                f"stack({len(pairs)}, {args}) AS (candidate, k)"
            )
        )
    child = child_frames[0]
    for f in child_frames[1:]:
        child = child.unionByName(f)
    ch = (
        child.where(F.col("k").isNotNull())
        .groupBy("candidate", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    parent_frames = []
    for (pt, pc), cands in parent_by_col.items():
        parent_frames.append(
            base[pt]
            .select(F.col(pc).cast("bigint").alias("p"))
            .distinct()
            .select(
                F.explode(
                    F.array(*[F.lit(c) for c in cands])
                ).alias("candidate"),
                "p",
            )
        )
    pa = parent_frames[0]
    for f in parent_frames[1:]:
        pa = pa.unionByName(f)
    joined = ch.join(
        pa, (ch["candidate"] == pa["candidate"]) & (ch["k"] == pa["p"]), "left"
    ).select(ch["candidate"], "c", "p")
    orphan_rows = F.sum(F.when(F.col("p").isNull(), F.col("c")).otherwise(0))
    orphan_keys = F.sum(F.when(F.col("p").isNull(), 1).otherwise(0))
    return joined.groupBy("candidate").agg(
        F.sum("c").cast("bigint").alias("child_rows"),
        F.count(F.lit(1)).cast("bigint").alias("child_keys"),
        orphan_rows.cast("bigint").alias("orphan_rows"),
        orphan_keys.cast("bigint").alias("orphan_keys"),
        r4(1.0 - orphan_rows * 1.0 / F.sum("c")).alias("containment"),
        (orphan_keys == 0).alias("holds"),
    )


# Candidate functional dependencies for q_fd_audit: (candidate, table,
# lhs_col, rhs_col). The two key-determined FDs hold; the four
# independence candidates fail — both verdict directions live.
_FD_CANDIDATES = (
    ("nat_key_name", "nation", "n_nationkey", "n_name"),
    ("nat_key_region", "nation", "n_nationkey", "n_regionkey"),
    ("doc_lang_source", "documents", "lang", "source"),
    ("li_part_supp", "lineitem", "l_partkey", "l_suppkey"),
    ("ord_cust_priority", "orders", "o_custkey", "o_orderpriority"),
    ("evt_user_type", "events", "user_id", "event_type"),
)


def _fd_oracle() -> str:
    blocks = []
    for cand, tbl, lhs, rhs in _FD_CANDIDATES:
        blocks.append(f"""
    SELECT '{cand}' AS candidate,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_groups,
           CAST(SUM(CASE WHEN ndv > 1 THEN c ELSE 0 END) AS BIGINT)
             AS violation_rows,
           CAST(MAX(ndv) AS BIGINT) AS max_rhs_per_group,
           SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT CAST({lhs} AS VARCHAR) AS l, COUNT(*) AS c,
                 COUNT(DISTINCT CAST({rhs} AS VARCHAR)) AS ndv
          FROM {tbl} WHERE {lhs} IS NOT NULL GROUP BY 1)""")
    return "\n    UNION ALL\n".join(blocks)


@register(
    "q_fd_audit",
    oracle=_fd_oracle(),
    priority="P2",
    tags=("quality", "integrity", "audit"),
)
def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate functional-dependency audit: for each declared
    LHS → RHS dependency, the number of LHS groups, groups carrying
    more than one RHS value (violations), rows inside violating
    groups, and the worst per-group RHS cardinality — the schema-rule
    profiling that decides whether a column is derivable (and so safe
    to normalize out or impute from its determinant). Key-determined
    FDs hold; independence candidates (lang→source, part→supplier,
    customer→priority, user→event-type) fail, keeping both verdict
    directions live.

    Scale: each table is scanned once — same-table candidates share a
    `stack` like `q_fk_discovery` — and the (candidate, lhs) grain
    aggregate is map-side combinable with `count_distinct` partials,
    and the verdict combine is bounded by the number of CANDIDATES.
    At 100 TB the scan dominates; only (lhs, rhs-partial) pairs cross
    the wire.
    """
    by_table: dict[str, list[tuple[str, str, str]]] = {}
    for cand, tbl, lhs, rhs in _FD_CANDIDATES:
        by_table.setdefault(tbl, []).append((cand, lhs, rhs))
    frames = []
    for tbl, triples in by_table.items():
        args = ", ".join(
            f"'{cand}', CAST({lhs} AS STRING), CAST({rhs} AS STRING)"
            for cand, lhs, rhs in triples
        )
        frames.append(
            load(spark, sf_dir, tbl)
            .selectExpr(f"stack({len(triples)}, {args}) AS (candidate, l, r)")
            .where(F.col("l").isNotNull())
        )
    t = frames[0]
    for f in frames[1:]:
        t = t.unionByName(f)
    grp = t.groupBy("candidate", "l").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.countDistinct("r").cast("bigint").alias("ndv"),
    )
    violating = F.sum(F.when(F.col("ndv") > 1, 1).otherwise(0))
    return grp.groupBy("candidate").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        violating.cast("bigint").alias("violating_groups"),
        F.sum(F.when(F.col("ndv") > 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("violation_rows"),
        F.max("ndv").cast("bigint").alias("max_rhs_per_group"),
        (violating == 0).alias("holds"),
    )


_MW_Z_CRIT = 1.96  # two-sided alpha = 0.05


@register(
    "q_mann_whitney",
    oracle=f"""
    WITH t AS (
      SELECT lang, n_chars FROM documents
      UNION ALL
      SELECT 'zz-shift' AS lang, n_chars + 150 AS n_chars
      FROM documents WHERE lang = 'en'
    ), cnts AS (
      SELECT lang, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM t GROUP BY lang, n_chars
    ), nl AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnts GROUP BY lang
    ), pairs AS (
      SELECT a.lang AS la, b.lang AS lb, a.n AS n_a, b.n AS n_b
      FROM nl a JOIN nl b ON a.lang < b.lang
    ), vals AS (SELECT DISTINCT v FROM cnts
    ), grid AS (
      SELECT la, lb, n_a, n_b, vals.v AS v,
             COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b
      FROM pairs CROSS JOIN vals
      LEFT JOIN cnts ca ON ca.lang = la AND ca.v = vals.v
      LEFT JOIN cnts cb ON cb.lang = lb AND cb.v = vals.v
    ), cum AS (
      SELECT la, lb, n_a, n_b, c_a, c_b,
             SUM(c_b) OVER (PARTITION BY la, lb ORDER BY v) AS cum_b
      FROM grid
    ), s AS (
      SELECT la, lb, n_a, n_b,
             CAST(SUM(c_a * (2 * (cum_b - c_b) + c_b)) AS BIGINT) AS u2,
             CAST(SUM((c_a + c_b) * (c_a + c_b) * (c_a + c_b)
                      - (c_a + c_b)) AS BIGINT) AS tie3
      FROM cum GROUP BY 1, 2, 3, 4
    )
    SELECT la, lb, n_a, n_b,
           {R4('u2 / 2.0')} AS u_stat,
           {R4(
               '(u2 / 2.0 - n_a * 1.0 * n_b / 2) / '
               'SQRT(n_a * 1.0 * n_b / 12.0 * ((n_a + n_b + 1)'
               ' - tie3 * 1.0 / ((n_a + n_b) * 1.0 * (n_a + n_b - 1))))'
           )} AS z_stat,
           ABS({R4(
               '(u2 / 2.0 - n_a * 1.0 * n_b / 2) / '
               'SQRT(n_a * 1.0 * n_b / 12.0 * ((n_a + n_b + 1)'
               ' - tie3 * 1.0 / ((n_a + n_b) * 1.0 * (n_a + n_b - 1))))'
           )}) > {_MW_Z_CRIT!r} AS reject
    FROM s
    """,
    priority="P2",
    tags=("quality", "statistics", "drift"),
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between every pair of
    language slices over document lengths — the rank-based location
    test beside `q_ks_test`'s full-distribution D (U sees median
    shifts through heavy tails that distort the t-test): U computed
    EXACTLY on the value grain as Σ c_a·(2·cumB(<v) + c_b)/2 (the ×2
    device keeps half-counts integer), tie-corrected normal
    approximation z with Σ(t³−t) from exact tie-group sizes, two-sided
    α = 0.05. The same planted +150-shifted en slice as `q_ks_test`
    rides along ('zz-shift'): organic pairs accept, planted pairs
    reject — both directions live at every SF.

    Scale: identical shape to `q_ks_test` — one pass to the
    (lang, value) grain (map-side combined), a langs²/2 × |support|
    grid bounded by the VALUE domain, cumulative windows partitioned
    per pair, then exact-integer pair sums; billions of rows enter
    only through the quantized support.
    """
    d = load(spark, sf_dir, "documents").select("lang", "n_chars")
    shifted = d.where(F.col("lang") == "en").select(
        F.lit("zz-shift").alias("lang"),
        (F.col("n_chars") + 150).alias("n_chars"),
    )
    t = d.unionByName(shifted)
    cnts = (
        t.groupBy("lang", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # totals + both grid legs + support
    )
    nl = cnts.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    a, b = nl.alias("a"), nl.alias("b")
    pairs = a.join(b, F.col("a.lang") < F.col("b.lang")).select(
        F.col("a.lang").alias("la"),
        F.col("b.lang").alias("lb"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
    vals = cnts.select("v").distinct()
    ca = cnts.select(
        F.col("lang").alias("la"), "v", F.col("c").alias("c_a")
    )
    cb = cnts.select(
        F.col("lang").alias("lb"), "v", F.col("c").alias("c_b")
    )
    grid = (
        pairs.crossJoin(F.broadcast(vals))
        .join(F.broadcast(ca), ["la", "v"], "left")
        .join(F.broadcast(cb), ["lb", "v"], "left")
        .select(
            "la",
            "lb",
            "n_a",
            "n_b",
            "v",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    from pyspark.sql import Window

    wc = (
        Window.partitionBy("la", "lb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "la",
        "lb",
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        F.sum("c_b").over(wc).alias("cum_b"),
    )
    tg = F.col("c_a") + F.col("c_b")
    s = cum.groupBy("la", "lb", "n_a", "n_b").agg(
        F.sum(
            d38("c_a") * (2 * (F.col("cum_b") - F.col("c_b")) + F.col("c_b"))
        ).alias("u2"),
        F.sum(d38(tg) * tg * tg - tg).alias("tie3"),
    )
    nn = F.col("n_a") + F.col("n_b")
    z = r4(
        (F.col("u2") / 2.0 - F.col("n_a") * 1.0 * F.col("n_b") / 2)
        / F.sqrt(
            F.col("n_a")
            * 1.0
            * F.col("n_b")
            / 12.0
            * ((nn + 1) - F.col("tie3") * 1.0 / (nn * 1.0 * (nn - 1)))
        )
    )
    return s.select(
        "la",
        "lb",
        "n_a",
        "n_b",
        r4(F.col("u2") / 2.0).alias("u_stat"),
        z.alias("z_stat"),
        (F.abs(z) > _MW_Z_CRIT).alias("reject"),
    )


@register(
    "q_reconciliation_audit",
    oracle=f"""
    WITH l AS (
      SELECT l_orderkey,
             CAST(SUM(CAST({R('(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)', 0)}
                           AS BIGINT)) AS BIGINT) AS calc_cents
      FROM lineitem GROUP BY 1
    ), j0 AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             CAST({R('(o.o_totalprice * 100)', 0)} AS BIGINT) AS stated_cents,
             COALESCE(l.calc_cents, 0) AS calc_cents
      FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
    ), j AS (
      SELECT o_orderpriority, stated_cents, calc_cents FROM j0
      UNION ALL
      SELECT 'zz-repaired', calc_cents, calc_cents
      FROM j0 WHERE o_orderkey % 13 = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN calc_cents = stated_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN ABS(calc_cents - stated_cents) <= 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_dollar,
           CAST(MAX(ABS(calc_cents - stated_cents)) AS BIGINT)
             AS max_abs_diff_cents
    FROM j GROUP BY 1
    """,
    priority="P2",
    tags=("quality", "audit", "reconciliation"),
)
def q_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation: recompute each order's
    total from its line items (sum of extendedprice x (1-discount) x
    (1+tax)) and audit it against the order header's stated total —
    the referential-CONSISTENCY check beside `q_fk_discovery`'s
    referential-EXISTENCE check (a key can resolve while the money
    still disagrees). Reports, per priority band: order count, exact
    matches, within-a-dollar matches, and the worst absolute gap.
    Headerless orders reconcile against 0 (a missing-detail gap is a
    mismatch, not a skip). The fixture's headers are synthetic (no
    order reconciles organically), so a planted 'zz-repaired' band —
    every 13th order with its stated total overwritten by the
    recomputed one — keeps the PASS verdict live at every SF (the
    `q_ks_test` planted-ground-truth device).

    All money rides as EXACT integer cents — per-line charge is
    Spark-rounded to 2 dp (engine-identical), x100 is then exact, and
    every comparison/aggregate is integer — so no float summation
    order can flip a verdict.

    Scale: one map-side-combined pass to the ORDER grain on the
    lineitem side, one shuffle join on the order key (high-cardinality,
    unskewed), then a tiny grouped audit; both scans prune to the
    money columns.
    """
    li = load(spark, sf_dir, "lineitem")
    line_cents = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100,
        0,
    ).cast("bigint")
    l = li.select(
        "l_orderkey", line_cents.alias("line_cents")
    ).groupBy("l_orderkey").agg(
        F.sum("line_cents").cast("bigint").alias("calc_cents")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("stated_cents"),
    )
    j0 = o.join(l, o.o_orderkey == l.l_orderkey, "left").select(
        "o_orderkey",
        "o_orderpriority",
        "stated_cents",
        F.coalesce("calc_cents", F.lit(0)).alias("calc_cents"),
    ).localCheckpoint(eager=False)  # organic + planted-repaired legs
    repaired = j0.where(F.col("o_orderkey") % 13 == 0).select(
        F.lit("zz-repaired").alias("o_orderpriority"),
        F.col("calc_cents").alias("stated_cents"),
        "calc_cents",
    )
    j = j0.select(
        "o_orderpriority", "stated_cents", "calc_cents"
    ).unionByName(repaired)
    diff = F.col("calc_cents") - F.col("stated_cents")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(diff == 0, 1).otherwise(0)).cast("bigint").alias("n_exact"),
        F.sum(F.when(F.abs(diff) <= 100, 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_dollar"),
        F.max(F.abs(diff)).cast("bigint").alias("max_abs_diff_cents"),
    )


_BH_ALPHA = 0.05


@register(
    "q_fdr_bh",
    oracle=f"""
    WITH t AS (
      SELECT event_type, day(ts) AS d FROM events
      UNION ALL
      SELECT 'zz-burst', day(ts) FROM events
      WHERE event_type = 'purchase' AND day(ts) <= 6
    ), b AS (
      SELECT event_type, (d - 1) // 6 AS bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM t GROUP BY 1, 2
    ), s AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * c) AS BIGINT) AS ssq
      FROM b GROUP BY 1
    ), x AS (
      SELECT event_type, n,
             {R4('5.0 * ssq / n - n')} AS chi2
      FROM s
    ), p AS (
      SELECT event_type, n, chi2,
             {R('(EXP(-chi2 / 2) * (1 + chi2 / 2))', 6)} AS p_raw
      FROM x
    ), ranked AS (
      SELECT a.event_type, a.n, a.chi2, a.p_raw,
             CAST(1 + COUNT(CASE WHEN b.p_raw < a.p_raw
                       OR (b.p_raw = a.p_raw
                           AND b.event_type < a.event_type)
                       THEN 1 END) AS BIGINT) AS rnk
      FROM p a CROSS JOIN p b
      GROUP BY a.event_type, a.n, a.chi2, a.p_raw
    ), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p
    ), kstar AS (
      SELECT MAX(CASE WHEN r.p_raw <= {_BH_ALPHA!r} * r.rnk / m.m
                      THEN r.rnk END) AS k
      FROM ranked r CROSS JOIN m
    )
    SELECT r.event_type, r.n, r.chi2, r.p_raw, r.rnk,
           {R4(f'{_BH_ALPHA!r} * r.rnk / m.m')} AS bh_thresh,
           r.p_raw <= {_BH_ALPHA!r} AS reject_raw,
           r.rnk <= COALESCE(kstar.k, 0) AS reject_bh
    FROM ranked r CROSS JOIN m CROSS JOIN kstar
    """,
    priority="P2",
    tags=("quality", "statistics", "multiple-testing"),
)
def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a battery of per-stream
    uniformity tests — the multiple-testing layer every monitoring
    suite needs on top of single tests (`q_ks_test`, `q_chi2_*`): run
    one chi-squared goodness-of-fit per event stream (volume across
    five 6-day bins, df = 4, closed-form p = e^(-x/2)(1 + x/2)), then
    rank the p-values and reject only up to the largest k with
    p_(k) <= alpha*k/m. Reports raw vs BH verdicts side by side — at
    sf0.001 the 'error' stream raw-rejects (p ~ 0.04) but BH saves
    it, the exact false-alarm BH exists to suppress. A planted
    'zz-burst' stream (the purchase rows of days 1-6 only, so its
    volume sits entirely in bin 0) rejects under both at every SF.

    Exactness: chi2 = 5*(sum of c^2)/n - n from exact integer bin
    counts (zero bins absorbed by the identity), r4-rounded before
    the closed-form p (r6-rounded); ranks come from a join-count over
    the m-row battery — no global window — with the stream name as
    tie-break, so the BH staircase is engine-identical.

    Scale: one map-side-combined pass to the (stream, bin) grain,
    then all ranking/threshold work happens on the m-row battery
    frame (m = streams under test), free at any corpus size.
    """
    e = load(spark, sf_dir, "events").select("event_type", F.dayofmonth("ts").alias("d"))
    burst = e.where(
        (F.col("event_type") == "purchase") & (F.col("d") <= 6)
    ).select(F.lit("zz-burst").alias("event_type"), "d")
    t = e.unionByName(burst)
    b = t.groupBy(
        "event_type", ((F.col("d") - 1) / 6).cast("bigint").alias("bin")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    s = b.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(d38("c") * F.col("c")).alias("ssq"),
    )
    chi2 = r4(5.0 * F.col("ssq") / F.col("n") - F.col("n"))
    p = s.select(
        "event_type",
        "n",
        chi2.alias("chi2"),
        F.round(
            F.exp(-chi2 / 2) * (1 + chi2 / 2), 6
        ).alias("p_raw"),
    ).localCheckpoint(eager=False)  # self-join rank + m + kstar reads
    a, bb = p.alias("a"), p.alias("b")
    ranked = (
        a.crossJoin(bb)
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.n").alias("n"),
            F.col("a.chi2").alias("chi2"),
            F.col("a.p_raw").alias("p_raw"),
        )
        .agg(
            (
                1
                + F.count(
                    F.when(
                        (F.col("b.p_raw") < F.col("a.p_raw"))
                        | (
                            (F.col("b.p_raw") == F.col("a.p_raw"))
                            & (F.col("b.event_type") < F.col("a.event_type"))
                        ),
                        1,
                    )
                )
            )
            .cast("bigint")
            .alias("rnk")
        )
    )
    m = p.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    withm = ranked.crossJoin(F.broadcast(m))
    kstar = withm.agg(
        F.max(
            F.when(
                F.col("p_raw") <= _BH_ALPHA * F.col("rnk") / F.col("m"),
                F.col("rnk"),
            )
        ).alias("k")
    )
    return withm.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        "n",
        "chi2",
        "p_raw",
        "rnk",
        r4(_BH_ALPHA * F.col("rnk") / F.col("m")).alias("bh_thresh"),
        (F.col("p_raw") <= _BH_ALPHA).alias("reject_raw"),
        (F.col("rnk") <= F.coalesce(F.col("k"), F.lit(0))).alias("reject_bh"),
    )


_MAHA_CRIT = 9.21  # chi-squared(2 df) 0.99 quantile
_MAHA_SPIKE_MOD = 499  # every 499th order's lines get a x7 price copy


@register(
    "q_outlier_mahalanobis",
    oracle=f"""
    WITH base AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice) AS BIGINT) AS y, l_orderkey
      FROM lineitem
    ), t AS (
      SELECT 'organic' AS test, g, x, y FROM base
      UNION ALL
      SELECT 'planted', g, x, y FROM base
      UNION ALL
      SELECT 'planted', g, x, y * 7 FROM base
      WHERE l_orderkey % {_MAHA_SPIKE_MOD} = 0
    ), m AS (
      SELECT test, g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM t GROUP BY 1, 2
    ), s AS (
      SELECT test, g, n, sx * 1.0 / n AS mx, sy * 1.0 / n AS my,
             (sxx - sx * 1.0 * sx / n) / (n - 1) AS vx,
             (syy - sy * 1.0 * sy / n) / (n - 1) AS vy,
             (sxy - sx * 1.0 * sy / n) / (n - 1) AS cxy
      FROM m
    ), d AS (
      SELECT t.test, t.g, s.n,
             {R4('''((t.x - s.mx) * (t.x - s.mx) * s.vy
                    - 2 * (t.x - s.mx) * (t.y - s.my) * s.cxy
                    + (t.y - s.my) * (t.y - s.my) * s.vx)
                   / (s.vx * s.vy - s.cxy * s.cxy)''')} AS d2
      FROM t JOIN s ON t.test = s.test AND t.g = s.g
    )
    SELECT test, g, MAX(n) AS n,
           CAST(SUM(CASE WHEN d2 > {_MAHA_CRIT!r} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           MAX(d2) AS max_d2
    FROM d GROUP BY 1, 2
    """,
    priority="P2",
    tags=("quality", "outlier", "multivariate"),
)
def q_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier audit via Mahalanobis distance on the
    (quantity, price) pair per return-flag group — the correlated-
    feature outlier `q_outlier_iqr`'s per-column fences cannot see (a
    50-unit order at a 1-unit price is wild even when both marginals
    are ordinary): d² against the group's 2x2 covariance, flagged
    beyond the chi-squared(2) 99% quantile ({_MAHA_CRIT}). The
    organic leg audits clean (the fixture's bounded uniform features
    admit no d² beyond the threshold — itself the PASS verdict); a
    planted leg adds a x7 price copy of every {_MAHA_SPIKE_MOD}th
    order's lines, which break the price-quantity correlation and
    must flag (the `q_ks_test` two-leg device).

    Exactness: features ride as integer (quantity, whole-dollar)
    pairs, all five covariance moments are exact BIGINT sums, and
    every per-row d² is one identical double formula, r4-rounded
    before the threshold and the MAX.

    Scale: one pass to 6 moment rows (map-side combined), broadcast
    back onto the base rows for the per-row score — the same
    shape scores billions of rows; only moment tuples shuffle.
    """
    base = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round("l_extendedprice", 0).cast("bigint").alias("y"),
        "l_orderkey",
    )
    spiked = base.where(F.col("l_orderkey") % _MAHA_SPIKE_MOD == 0).select(
        F.lit("planted").alias("test"), "g", "x", (F.col("y") * 7).alias("y")
    )
    t = (
        base.select(F.lit("organic").alias("test"), "g", "x", "y")
        .unionByName(base.select(F.lit("planted").alias("test"), "g", "x", "y"))
        .unionByName(spiked)
        .localCheckpoint(eager=False)  # moment pass + scoring pass
    )
    m = t.groupBy("test", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
        F.sum(d38("y") * F.col("y")).alias("syy"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    s = m.select(
        "test",
        "g",
        "n",
        (F.col("sx") * 1.0 / n).alias("mx"),
        (F.col("sy") * 1.0 / n).alias("my"),
        ((F.col("sxx") - F.col("sx") * 1.0 * F.col("sx") / n) / (n - 1)).alias(
            "vx"
        ),
        ((F.col("syy") - F.col("sy") * 1.0 * F.col("sy") / n) / (n - 1)).alias(
            "vy"
        ),
        ((F.col("sxy") - F.col("sx") * 1.0 * F.col("sy") / n) / (n - 1)).alias(
            "cxy"
        ),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d2 = r4(
        (
            dx * dx * F.col("vy")
            - 2 * dx * dy * F.col("cxy")
            + dy * dy * F.col("vx")
        )
        / (F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy"))
    )
    d = t.join(F.broadcast(s), ["test", "g"]).select(
        "test", "g", "n", d2.alias("d2")
    )
    return d.groupBy("test", "g").agg(
        F.max("n").alias("n"),
        F.sum((F.col("d2") > _MAHA_CRIT).cast("long"))
        .cast("bigint")
        .alias("n_outliers"),
        F.max("d2").alias("max_d2"),
    )


_PSI_BIN_W = 25
_PSI_NBINS = 10
_PSI_SPLIT = "2024-01-16 00:00:00"
_PSI_FLAG_I = 20_000_000  # 0.2 in 1e-8 units — flag compared in exact ints


@register(
    "q_psi_stability",
    oracle=f"""
    WITH t AS (
      SELECT event_type,
             (ts >= TIMESTAMP '{_PSI_SPLIT}') AS win_b,
             CAST(LEAST(FLOOR(value / {_PSI_BIN_W}), {_PSI_NBINS - 1})
                  AS BIGINT) AS bin
      FROM events
      UNION ALL
      SELECT '__drift' AS event_type,
             (ts >= TIMESTAMP '{_PSI_SPLIT}') AS win_b,
             CAST(LEAST(FLOOR(CASE WHEN ts >= TIMESTAMP '{_PSI_SPLIT}'
                                   THEN value * 1.6 + 40 ELSE value END
                              / {_PSI_BIN_W}), {_PSI_NBINS - 1})
                  AS BIGINT) AS bin
      FROM events WHERE event_type = 'click'
    ), cnts AS (
      SELECT event_type, bin,
             CAST(SUM(CASE WHEN NOT win_b THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN win_b THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM t GROUP BY 1, 2
    ), spine AS (
      SELECT s.event_type, g.bin
      FROM (SELECT DISTINCT event_type FROM cnts) s
      CROSS JOIN (SELECT UNNEST(generate_series(0, {_PSI_NBINS - 1})) AS bin) g
    ), dense AS (
      SELECT sp.event_type, sp.bin,
             COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
      FROM spine sp LEFT JOIN cnts c
        ON c.event_type = sp.event_type AND c.bin = sp.bin
    ), nn AS (
      SELECT event_type, CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(cb) AS BIGINT) AS n_b
      FROM dense GROUP BY 1
    ), terms AS (
      SELECT d.event_type, nn.n_a, nn.n_b,
             CAST(ROUND(1e8 *
               ((d.ca + 1) / (nn.n_a + {_PSI_NBINS} * 1.0)
                - (d.cb + 1) / (nn.n_b + {_PSI_NBINS} * 1.0))
               * LN(((d.ca + 1) / (nn.n_a + {_PSI_NBINS} * 1.0))
                    / ((d.cb + 1) / (nn.n_b + {_PSI_NBINS} * 1.0)))
             ) AS BIGINT) AS term_i
      FROM dense d JOIN nn ON nn.event_type = d.event_type
    )
    SELECT event_type, n_a, n_b,
           {R4('CAST(SUM(term_i) AS BIGINT) / 1e8')} AS psi,
           CAST(SUM(term_i) AS BIGINT) > {_PSI_FLAG_I} AS drift_flag
    FROM terms GROUP BY 1, 2, 3
    """,
    priority="P2",
    tags=("quality", "drift", "monitoring"),
)
def q_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per metric stream between the first
    and second half of the window (the model-monitoring standard: PSI
    < 0.1 stable, > 0.2 action) over {_PSI_NBINS} fixed-width value
    bins with +1 Laplace smoothing (every bin live on the dense spine,
    so no log-of-zero and the spine is complete even where a stream
    has no mass — the house dense-spine rule). `q_stat_drift` flags
    mean/volume shifts and `q_ks_test` tests exact distributional
    equality; PSI is the graded magnitude score risk teams actually
    threshold on. A planted '__drift' stream (click values rescaled
    ×1.6+40 in the second window only) keeps the flag's fire branch
    live at every SF — organic streams are iid across halves and stay
    far below 0.2.

    Each bin term is rounded to integer 1e-8 units before the sum
    (partial-sum order can't move the result), the flag compares
    exact integers, and psi is one division of the integer sum.

    Scale: one pass to the (stream, bin, window) grain — bounded by
    the bin DOMAIN, not rows; the spine/smoothing math runs on
    streams × {_PSI_NBINS} rows.
    """
    e = load(spark, sf_dir, "events")
    split = F.lit(_PSI_SPLIT).cast("timestamp_ntz")
    win_b = F.col("ts") >= split
    organic = e.select(
        "event_type",
        win_b.alias("win_b"),
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W), F.lit(_PSI_NBINS - 1)
        )
        .cast("bigint")
        .alias("bin"),
    )
    planted = e.where(F.col("event_type") == "click").select(
        F.lit("__drift").alias("event_type"),
        win_b.alias("win_b"),
        F.least(
            F.floor(
                F.when(win_b, F.col("value") * 1.6 + 40).otherwise(
                    F.col("value")
                )
                / _PSI_BIN_W
            ),
            F.lit(_PSI_NBINS - 1),
        )
        .cast("bigint")
        .alias("bin"),
    )
    cnts = (
        organic.unionByName(planted)
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(~F.col("win_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("win_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
        .localCheckpoint(eager=False)  # spine streams + dense join + totals
    )
    spine = cnts.select("event_type").distinct().crossJoin(
        spark.range(_PSI_NBINS).select(F.col("id").alias("bin"))
    )
    dense = spine.join(cnts, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    nn = dense.groupBy("event_type").agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    sm = F.lit(_PSI_NBINS) * 1.0
    pa = (F.col("ca") + 1) / (F.col("n_a") + sm)
    pb = (F.col("cb") + 1) / (F.col("n_b") + sm)
    terms = dense.join(nn, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        F.round(F.lit(1e8) * (pa - pb) * F.log(pa / pb))
        .cast("bigint")
        .alias("term_i"),
    )
    psi_i = F.sum("term_i").cast("bigint")
    return terms.groupBy("event_type", "n_a", "n_b").agg(
        r4(psi_i / 1e8).alias("psi"),
        (psi_i > _PSI_FLAG_I).alias("drift_flag"),
    )


_ENTROPY_TERM_SQL = "-(c * 1.0 / n) * LOG2(c * 1.0 / n)"


@register(
    "q_column_entropy_profile",
    oracle=f"""
    WITH vals AS (
      SELECT 'orders' AS tbl, 'o_orderstatus' AS col,
             o_orderstatus AS v FROM orders
      UNION ALL SELECT 'orders', 'o_orderpriority', o_orderpriority
      FROM orders
      UNION ALL SELECT 'customer', 'c_mktsegment', c_mktsegment
      FROM customer
      UNION ALL SELECT 'events', 'event_type', event_type FROM events
      UNION ALL SELECT 'documents', 'lang', lang FROM documents
      UNION ALL SELECT 'documents', 'source', source FROM documents
    ), vc AS (
      SELECT tbl, col, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM vals GROUP BY 1, 2, 3
    ), tot AS (
      SELECT tbl, col, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_c
      FROM vc GROUP BY 1, 2
    ), terms AS (
      SELECT vc.tbl, vc.col,
             CAST(ROUND({R4(_ENTROPY_TERM_SQL)} * 10000) AS BIGINT) AS t_q
      FROM vc JOIN tot ON tot.tbl = vc.tbl AND tot.col = vc.col
    ), ent AS (
      SELECT tbl, col, CAST(SUM(t_q) AS BIGINT) AS e_q
      FROM terms GROUP BY 1, 2
    ), top AS (
      SELECT tbl, col, v AS top_value FROM (
        SELECT tbl, col, v, ROW_NUMBER() OVER (
          PARTITION BY tbl, col ORDER BY c DESC, v) AS rn
        FROM vc
      ) WHERE rn = 1
    )
    SELECT tot.tbl AS table_name, tot.col AS column_name, tot.n AS n_rows,
           tot.n_distinct, ent.e_q / 10000.0 AS entropy_bits,
           {R4('tot.top_c * 1.0 / tot.n')} AS top_share,
           top.top_value
    FROM tot
    JOIN ent ON ent.tbl = tot.tbl AND ent.col = tot.col
    JOIN top ON top.tbl = tot.tbl AND top.col = tot.col
    """,
    priority="P2",
    tags=("quality", "profile", "entropy"),
)
def q_column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-theoretic column profile across the warehouse's
    categorical columns — Shannon entropy (bits), distinct count,
    and top-value concentration per column — the schema-discovery
    read beside `q_profile_columns`' numeric moments: near-zero
    entropy flags constant-ish columns (drop or dictionary-encode),
    entropy ≈ log2(n_distinct) flags uniform keys (useless as
    features, great as salts), and a high top_share flags skew the
    join planner should know about (`q_join_skew_salted`).

    Entropy terms are r4-rounded then carried as exact integer
    ten-thousandths — the bucket sum is order-exact BIGINT and
    e_q/10⁴ needs no further rounding (4-dp identity).

    Scale: each table contributes ONE scan — the two orders columns
    (and two documents columns) ride a single pass each via a
    2-element map-explode projection rather than two scans; all
    aggregation is on bounded (table, column, value) grains, and
    the top-value window partitions per column.
    """

    def two_col(df, tbl: str, c1: str, c2: str):
        return df.select(
            F.lit(tbl).alias("tbl"),
            F.explode(
                F.create_map(F.lit(c1), F.col(c1), F.lit(c2), F.col(c2))
            ).alias("col", "v"),
        )

    def one_col(df, tbl: str, c1: str):
        return df.select(
            F.lit(tbl).alias("tbl"), F.lit(c1).alias("col"),
            F.col(c1).alias("v"),
        )

    vals = (
        two_col(
            load(spark, sf_dir, "orders"), "orders",
            "o_orderstatus", "o_orderpriority",
        )
        .unionByName(
            one_col(load(spark, sf_dir, "customer"), "customer", "c_mktsegment")
        )
        .unionByName(
            one_col(load(spark, sf_dir, "events"), "events", "event_type")
        )
        .unionByName(
            two_col(load(spark, sf_dir, "documents"), "documents", "lang", "source")
        )
    )
    vc = vals.groupBy("tbl", "col", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)  # totals + terms + top, one pass
    tot = vc.groupBy("tbl", "col").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_c"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    terms = vc.join(F.broadcast(tot), ["tbl", "col"]).select(
        "tbl",
        "col",
        F.round(r4(-p * F.log2(p)) * 10000, 0).cast("bigint").alias("t_q"),
    )
    ent = terms.groupBy("tbl", "col").agg(
        F.sum("t_q").cast("bigint").alias("e_q")
    )
    wt = Window.partitionBy("tbl", "col").orderBy(F.col("c").desc(), "v")
    top = (
        vc.select("tbl", "col", "v", F.row_number().over(wt).alias("rn"))
        .where(F.col("rn") == 1)
        .select("tbl", "col", F.col("v").alias("top_value"))
    )
    return (
        tot.join(ent, ["tbl", "col"])
        .join(top, ["tbl", "col"])
        .select(
            F.col("tbl").alias("table_name"),
            F.col("col").alias("column_name"),
            F.col("n").alias("n_rows"),
            "n_distinct",
            (F.col("e_q") / 10000.0).alias("entropy_bits"),
            r4(F.col("top_c") * 1.0 / F.col("n")).alias("top_share"),
            "top_value",
        )
    )


@register(
    "q_duplicate_payments",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), pool AS (
      SELECT * FROM base
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey,
             o_orderdate + INTERVAL 3 DAY, cents
      FROM base WHERE o_orderkey % 211 = 0
    )
    SELECT a.o_custkey AS custkey, a.o_orderkey AS key_a,
           b.o_orderkey AS key_b, a.cents,
           CAST(date_diff('day', CAST(a.o_orderdate AS DATE),
                          CAST(b.o_orderdate AS DATE)) AS BIGINT)
             AS day_gap,
           b.o_orderkey = a.o_orderkey + 10000000 AS is_planted
    FROM pool a
    JOIN pool b
      ON b.o_custkey = a.o_custkey AND b.cents = a.cents
     AND b.o_orderkey > a.o_orderkey
     AND b.o_orderdate >= a.o_orderdate
     AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY
    """,
    priority="P2",
    tags=("quality", "audit", "duplicates"),
)
def q_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detector — the classic AP audit: pairs of
    orders from the SAME customer with the IDENTICAL amount within
    a 7-day window (same-amount re-submissions; `q_dedup_exact`
    finds byte-identical records, `q_reconciliation_audit` matches
    across sources — this finds suspicious near-repeats WITHIN one
    ledger). Amounts are exact cents so "identical" is exact, and
    the pair join blocks on (customer, cents) — candidate pairs
    only ever form inside those buckets, never across the table.
    Organic near-repeats are rare-to-absent at fixture price
    granularity, so a planted re-submission batch (every orderkey ≡
    0 mod 211, +3 days, key offset +10⁷ — the `q_dedup_exact`
    re-ingest device) keeps the detector's positive branch live and
    recall-pinned; the is_planted flag keeps any organic finding
    distinguishable.

    Scale: one shuffle on the (custkey, cents) blocking key; within-
    bucket pair expansion is bounded by per-customer same-amount
    multiplicity (≈1); the date predicate is a residual filter.
    """
    base = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
        .localCheckpoint(eager=False)  # organic + planted legs, one scan
    )
    planted = base.where(F.col("o_orderkey") % 211 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS")).alias(
            "o_orderdate"
        ),
        "cents",
    )
    pool = base.unionByName(planted)
    a = pool.alias("a")
    b = pool.alias("b")
    return (
        a.join(
            b,
            (F.col("b.o_custkey") == F.col("a.o_custkey"))
            & (F.col("b.cents") == F.col("a.cents"))
            & (F.col("b.o_orderkey") > F.col("a.o_orderkey"))
            & (F.col("b.o_orderdate") >= F.col("a.o_orderdate"))
            & (
                F.col("b.o_orderdate")
                <= F.col("a.o_orderdate") + F.expr("INTERVAL 7 DAYS")
            ),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            F.col("a.cents").alias("cents"),
            F.datediff(
                F.col("b.o_orderdate").cast("date"),
                F.col("a.o_orderdate").cast("date"),
            )
            .cast("bigint")
            .alias("day_gap"),
            (F.col("b.o_orderkey") == F.col("a.o_orderkey") + 10000000).alias(
                "is_planted"
            ),
        )
    )


def _contract_rows() -> list:
    """Declared data contract: canonicalized (table, column, type)
    rows derived from the package's own StructTypes (schemas.py —
    single source of truth), plus three deliberate violations (the
    `q_fk_discovery` mis-declared-edge device) so every status
    branch is live at every SF: region.r_comment is declared but
    absent (missing), orders.o_totalprice is declared string
    (type-drift), and supplier.s_acctbal is omitted (unexpected)."""
    from pyspark.sql import types as T

    from modforms_db_spark.schemas import SCHEMAS

    def canon(dt) -> str:
        if isinstance(dt, T.IntegerType):
            return "int"
        if isinstance(dt, T.LongType):
            return "bigint"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, (T.TimestampNTZType, T.TimestampType)):
            return "timestamp"
        if isinstance(dt, T.ArrayType):
            return "array<float>"
        return "other"

    rows = []
    for tbl, st in SCHEMAS.items():
        for f in st.fields:
            if tbl == "supplier" and f.name == "s_acctbal":
                continue  # planted 'unexpected'
            t = canon(f.dataType)
            if tbl == "orders" and f.name == "o_totalprice":
                t = "string"  # planted 'type-drift'
            rows.append((tbl, f.name, t))
    rows.append(("region", "r_comment", "string"))  # planted 'missing'
    return rows


def _contract_oracle() -> str:
    vals = ",\n      ".join(
        f"('{t}', '{c}', '{ty}')" for t, c, ty in _contract_rows()
    )
    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    # The column census is SF-INVARIANT (verified: identical across
    # sf0.001/sf0.01/sf0.1), so the oracle pins the driver's gate-scale
    # files; the law test re-asserts invariance at the suite's SF.
    scans = "\n      UNION ALL ".join(
        f"SELECT '{t}' AS table_name, name, type, logical_type, "
        f"converted_type FROM "
        f"parquet_schema('/root/testdata/sf0.01/{t}.parquet')"
        for t in tables
    )
    return f"""
    WITH raw AS (
      {scans}
    ), actual AS (
      SELECT table_name, name AS column_name,
             CASE
               WHEN converted_type = 'LIST' THEN 'array<float>'
               WHEN type = 'INT32' THEN 'int'
               WHEN type = 'INT64'
                    AND CAST(logical_type AS VARCHAR) LIKE 'Timestamp%'
                 THEN 'timestamp'
               WHEN type = 'INT64' THEN 'bigint'
               WHEN type = 'DOUBLE' THEN 'double'
               WHEN type = 'FLOAT' THEN 'float'
               WHEN type = 'BYTE_ARRAY' THEN 'string'
               ELSE 'other'
             END AS actual_type
      FROM raw WHERE name NOT IN ('schema', 'list', 'element')
    ), contract(table_name, column_name, declared_type) AS (
      VALUES {vals}
    )
    SELECT COALESCE(a.table_name, c.table_name) AS table_name,
           COALESCE(a.column_name, c.column_name) AS column_name,
           c.declared_type, a.actual_type,
           CASE WHEN c.declared_type IS NULL THEN 'unexpected'
                WHEN a.actual_type IS NULL THEN 'missing'
                WHEN c.declared_type = a.actual_type THEN 'match'
                ELSE 'type-drift' END AS status
    FROM actual a
    FULL OUTER JOIN contract c
      ON c.table_name = a.table_name AND c.column_name = a.column_name
    """


@register(
    "q_schema_contract",
    oracle=_contract_oracle(),
    priority="P2",
    tags=("quality", "contract", "schema"),
)
def q_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema data-contract audit — the metadata-level companion to
    `q_dq_expectations`' row-level checks: the ACTUAL parquet file
    schemas (read from footers on EXECUTORS, the
    `q_parquet_rowgroup_stats` pattern — never the session's applied
    schemas, which would make the check circular) are canonicalized
    and diffed against the declared contract (schemas.py, the
    package's single source of truth). Statuses: match, type-drift
    (column present, type changed), missing (declared, absent from
    the file), unexpected (in the file, undeclared) — the four
    verdicts a contract gate raises before any pipeline runs.
    Three deliberate contract violations keep every non-match
    branch live at every SF (documented in `_contract_rows`).

    Cross-engine: both sides canonicalize to the same 7-type
    vocabulary; the oracle reads the same footers via DuckDB's
    `parquet_schema()`.

    Scale: a pure metadata read — one footer per file on the
    executors, no data pages; the diff is a full-outer join of two
    bounded column-census frames.
    """
    import pandas as pd  # noqa: F401

    from modforms_db_spark.schemas import TABLES

    paths = spark.createDataFrame(
        [(t, f"{sf_dir}/{t}.parquet") for t in TABLES],
        "table_name string, path string",
    ).repartition(4)

    def read_schemas(batches):
        # nested for worker-closure portability (house r6 rule)
        import pandas as pdl
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        def canon(t) -> str:
            if pat.is_int32(t):
                return "int"
            if pat.is_int64(t):
                return "bigint"
            if pat.is_float64(t):
                return "double"
            if pat.is_float32(t):
                return "float"
            if pat.is_string(t) or pat.is_large_string(t):
                return "string"
            if pat.is_timestamp(t):
                return "timestamp"
            if pat.is_list(t) or pat.is_large_list(t):
                return "array<float>"
            return "other"

        for b in batches:
            out = []
            for tbl, path in zip(b["table_name"], b["path"]):
                sch = pq.ParquetFile(path).schema_arrow
                for f in sch:
                    out.append((tbl, f.name, canon(f.type)))
            yield pdl.DataFrame(
                out, columns=["table_name", "column_name", "actual_type"]
            )

    actual = paths.mapInPandas(
        read_schemas,
        "table_name string, column_name string, actual_type string",
    )
    contract = spark.createDataFrame(
        _contract_rows(),
        "table_name string, column_name string, declared_type string",
    )
    j = actual.join(
        contract, ["table_name", "column_name"], "full_outer"
    )  # full-outer cannot broadcast; both census frames are ~60 rows
    status = (
        F.when(F.col("declared_type").isNull(), "unexpected")
        .when(F.col("actual_type").isNull(), "missing")
        .when(F.col("declared_type") == F.col("actual_type"), "match")
        .otherwise("type-drift")
    )
    return j.select(
        "table_name",
        "column_name",
        "declared_type",
        "actual_type",
        status.alias("status"),
    )


_RI_EDGES = [
    # (edge label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
    # deliberately mis-declared edge (the q_fk_discovery device):
    # order keys are NOT customer keys (the key range outruns the
    # customer dimension at every shipped SF), so orphans > 0 always
    ("lineitem.l_orderkey->customer[planted]", "lineitem", "l_orderkey",
     "customer", "c_custkey"),
]


def _ri_oracle() -> str:
    parts = []
    for label, ct, ck, pt, pk in _RI_EDGES:
        parts.append(f"""
      SELECT '{label}' AS edge,
             CAST(COUNT(*) AS BIGINT) AS n_child_keys,
             CAST(SUM(n) AS BIGINT) AS n_child_rows,
             CAST(SUM(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphan_keys,
             CAST(SUM(CASE WHEN orphan THEN n ELSE 0 END) AS BIGINT)
               AS n_orphan_rows
      FROM (
        SELECT c.k, c.n, p.k IS NULL AS orphan
        FROM (SELECT {ck} AS k, CAST(COUNT(*) AS BIGINT) AS n
              FROM {ct} GROUP BY 1) c
        LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {pt}) p ON p.k = c.k
      )""")
        parts.append("      UNION ALL")
    body = "\n".join(parts[:-1])
    return f"""
    SELECT edge, n_child_keys, n_child_rows, n_orphan_keys, n_orphan_rows,
           n_orphan_keys = 0 AS ri_ok
    FROM ({body})
    """


@register(
    "q_ri_orphans",
    oracle=_ri_oracle(),
    priority="P2",
    tags=("quality", "integrity", "foreign-key"),
)
def q_ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity orphan audit over the warehouse's
    declared foreign-key edges — `q_fk_discovery` infers WHICH
    containments hold; this GATES the declared ones, counting child
    keys (and their row mass) with no matching parent. Six real
    star-schema edges plus one deliberately mis-declared edge
    (order keys against the customer dimension — the
    `q_fk_discovery` device) keep both verdicts live at every SF:
    the real edges read ri_ok, the planted edge reports real orphan
    mass.

    All counts exact; the child side is reduced to its KEY grain
    (with row counts) before any join, so orphan row mass never
    re-scans the fact table.

    Scale: per edge, one map-side-combined child key-grain pass and
    one join against the parent key set — small parents broadcast;
    at 100 TB the child grain is the only shuffle and the audit
    output is one row per declared edge.
    """
    child_cols = {"lineitem": ["l_orderkey", "l_partkey", "l_suppkey"]}
    loaded = {}

    def tbl(name):
        if name not in loaded:
            cols = set(child_cols.get(name, []))
            for label, ct, ck, pt, pk in _RI_EDGES:
                if ct == name:
                    cols.add(ck)
                if pt == name:
                    cols.add(pk)
            loaded[name] = (
                load(spark, sf_dir, name)
                .select(*sorted(cols))
                .localCheckpoint(eager=False)  # shared across edges
            )
        return loaded[name]

    out = None
    for label, ct, ck, pt, pk in _RI_EDGES:
        c = (
            tbl(ct)
            .groupBy(F.col(ck).alias("k"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        p = tbl(pt).select(F.col(pk).alias("k")).distinct()
        j = c.join(F.broadcast(p.withColumnRenamed("k", "pk")),
                   F.col("k") == F.col("pk"), "left")
        agg = j.agg(
            F.lit(label).alias("edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_child_keys"),
            F.sum("n").cast("bigint").alias("n_child_rows"),
            F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphan_keys"),
            F.sum(F.when(F.col("pk").isNull(), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_orphan_rows"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.select(
        "*", (F.col("n_orphan_keys") == 0).alias("ri_ok")
    )


_KW_CRIT_DF2 = 9.2103  # chi-square upper 1% point, df = 2 (k = 3 groups)


@register(
    "q_kruskal_wallis",
    oracle=f"""
    WITH base AS (
      SELECT doc_id % 3 AS g, n_chars FROM documents WHERE lang = 'en'
    ), scoped AS (
      SELECT 'organic' AS scope, g, n_chars AS v FROM base
      UNION ALL
      SELECT 'planted' AS scope, g,
             n_chars + CASE WHEN g = 2 THEN 150 ELSE 0 END AS v
      FROM base
    ), cnts AS (
      SELECT scope, g, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM scoped GROUP BY 1, 2, 3
    ), vt AS (
      SELECT scope, v, CAST(SUM(c) AS BIGINT) AS c_tot FROM cnts GROUP BY 1, 2
    ), cum AS (
      SELECT scope, v, c_tot,
             CAST(SUM(c_tot) OVER (PARTITION BY scope ORDER BY v)
                  - c_tot AS BIGINT) AS cum_before
      FROM vt
    ), rg AS (
      SELECT c.scope, c.g,
             CAST(SUM(c.c) AS BIGINT) AS n_g,
             CAST(SUM(c.c * (2 * m.cum_before + m.c_tot + 1)) AS BIGINT) AS r2
      FROM cnts c JOIN cum m ON c.scope = m.scope AND c.v = m.v
      GROUP BY 1, 2
    ), terms AS (
      SELECT scope, g, n_g,
             CAST({R('CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)'
                     ' / (4.0 * n_g) * 10000', 0)} AS BIGINT) AS term_q4
      FROM rg
    ), pieces AS (
      SELECT scope,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(term_q4) AS BIGINT) AS s4
      FROM terms GROUP BY 1
    ), ties AS (
      SELECT scope,
             CAST(SUM(c_tot * c_tot * c_tot - c_tot) AS BIGINT) AS tie3
      FROM vt GROUP BY 1
    ), stat AS (
      SELECT p.scope, p.k, p.n,
             {R4('12.0 / (p.n * (p.n + 1.0)) * (s4 / 10000.0)'
                 ' - 3.0 * (p.n + 1)')} AS h4,
             {R4('(12.0 / (p.n * (p.n + 1.0)) * (s4 / 10000.0)'
                 ' - 3.0 * (p.n + 1))'
                 ' / (1.0 - CAST(tie3 AS DOUBLE)'
                 '   / (CAST(p.n AS DOUBLE) * p.n * p.n - p.n))')} AS hc4
      FROM pieces p JOIN ties t ON p.scope = t.scope
    )
    SELECT scope, k, n, h4, hc4, hc4 > {_KW_CRIT_DF2!r} AS reject
    FROM stat
    """,
    priority="P2",
    tags=("quality", "statistics", "rank-test"),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis one-way rank test (the k-group extension of
    `q_mann_whitney`): H over average ranks with tie correction, exact
    to the last bit — tied ranks carry as 2·rank integers (the ×2
    device), per-group Σ R_g²/n_g terms carry as integer
    ten-thousandths (the quantized-carry rule: bigint sums are
    order-independent where a 3-double sum is not), and the only
    double expressions are single formulas over exact integers.

    Two scopes make both verdicts visible at every SF (the planted
    ground-truth rule for hypothesis-test ops): 'organic' splits the
    en slice into three iid doc_id%3 groups (accepts — same
    distribution by construction), 'planted' shifts group 2 by +150
    characters (rejects). α = 0.01, df = k−1 = 2 (1%, not 5%: the
    sf0.001 organic split draws H = 6.58 — a legitimate 5%-level
    fluke on 193 docs — and the planted branch clears 22 at every
    SF, so the 1% critical point separates the branches robustly).

    Scale: one pass to the (scope, group, value) grain — billions of
    rows enter only through the quantized support (distinct n_chars);
    the rank cumulative is a per-scope window over that support, and
    every downstream frame is bounded by k·|support|."""
    base = (
        load(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .select((F.col("doc_id") % 3).alias("g"), "n_chars")
    )
    scoped = base.select(
        F.lit("organic").alias("scope"), "g", F.col("n_chars").alias("v")
    ).unionByName(
        base.select(
            F.lit("planted").alias("scope"),
            "g",
            (
                F.col("n_chars")
                + F.when(F.col("g") == 2, F.lit(150)).otherwise(F.lit(0))
            ).alias("v"),
        )
    )
    cnts = (
        scoped.groupBy("scope", "g", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # value totals + rank-sum leg
    )
    vt = cnts.groupBy("scope", "v").agg(
        F.sum("c").cast("bigint").alias("c_tot")
    )
    wc = (
        Window.partitionBy("scope")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vt.select(
        "scope",
        "v",
        "c_tot",
        (F.sum("c_tot").over(wc) - F.col("c_tot"))
        .cast("bigint")
        .alias("cum_before"),
    )
    rg = (
        cnts.join(cum, ["scope", "v"])
        .groupBy("scope", "g")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(
                F.col("c")
                * (2 * F.col("cum_before") + F.col("c_tot") + 1)
            )
            .cast("bigint")
            .alias("r2"),
        )
    )
    terms = rg.select(
        "scope",
        "n_g",
        F.round(
            F.col("r2").cast("double")
            * F.col("r2").cast("double")
            / (4.0 * F.col("n_g"))
            * 10000,
            0,
        )
        .cast("bigint")
        .alias("term_q4"),
    )
    pieces = terms.groupBy("scope").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("term_q4").cast("bigint").alias("s4"),
    )
    ct = F.col("c_tot")
    ties = cum.groupBy("scope").agg(
        F.sum(d38(ct) * ct * ct - ct).alias("tie3")
    )
    h = 12.0 / (F.col("n") * (F.col("n") + 1.0)) * (
        F.col("s4") / 10000.0
    ) - 3.0 * (F.col("n") + 1)
    hc = h / (
        1.0
        - F.col("tie3").cast("double")
        / (F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n"))
    )
    return (
        pieces.join(ties, "scope")
        .select(
            "scope",
            "k",
            "n",
            r4(h).alias("h4"),
            r4(hc).alias("hc4"),
            (r4(hc) > _KW_CRIT_DF2).alias("reject"),
        )
    )


_MCNEMAR_CRIT = 3.8415  # chi-square upper 5% point, df = 1


@register(
    "q_mcnemar",
    oracle=f"""
    WITH d AS (
      SELECT n_chars > 300 AS gold,
             len(string_split(text, ' ')) > 60 AS ra,
             len(string_split(text, ' '))
               + (2 * ((doc_id * 2654435761) % 2) - 1) > 60 AS ra2,
             FALSE AS rb
      FROM documents
    ), pairs AS (
      SELECT 'tok60_vs_baseline' AS comparison, gold, ra AS x, rb AS y FROM d
      UNION ALL
      SELECT 'tok60_vs_jitter' AS comparison, gold, ra AS x, ra2 AS y FROM d
    ), s AS (
      SELECT comparison,
             CAST(SUM(CASE WHEN x = gold AND y != gold THEN 1 ELSE 0 END)
               AS BIGINT) AS b,
             CAST(SUM(CASE WHEN x != gold AND y = gold THEN 1 ELSE 0 END)
               AS BIGINT) AS c
      FROM pairs GROUP BY 1
    ), st AS (
      SELECT comparison, b, c,
             CASE WHEN b + c = 0 THEN 0.0
                  ELSE {R4('(ABS(b - c) - 1.0) * (ABS(b - c) - 1.0)'
                           ' / (b + c)')}
             END AS stat4
      FROM s
    )
    SELECT comparison, b, c, stat4, stat4 > {_MCNEMAR_CRIT!r} AS reject
    FROM st
    """,
    priority="P2",
    tags=("quality", "statistics", "paired-test", "evaluation"),
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test — THE test for "is classifier v2 actually
    better than v1 on the same eval set" (paired correctness, not two
    independent accuracies): continuity-corrected (|b−c|−1)²/(b+c)
    over the disagreement counts b (v1 right, v2 wrong) and c (v2
    right, v1 wrong), α = 0.05, df = 1. Gold label = byte-length SLA
    (n_chars > 300); both verdict branches ship at every SF: the
    token-count gate (> 60 tokens, structurally correlated with
    n_chars) against an always-short baseline REJECTS (the gate's
    wins are one-sided), and against a ±1-token Knuth-hash-jitter
    variant of itself ACCEPTS (equally-noisy raters, so the few
    disagreements split both ways — a fixed higher threshold was
    tried first and REJECTED: its disagreements are one-sided by
    construction; the b+c = 0 case null-guards to stat 0, never
    0/0).

    Scale: two conditional-count aggregates over one scan (the
    paired-group rule: one conditional agg, never split+self-join);
    output is bounded by the number of comparisons."""
    d = load(spark, sf_dir, "documents").select(
        (F.col("n_chars") > 300).alias("gold"),
        (F.size(F.split("text", " ")) > 60).alias("ra"),
        (
            F.size(F.split("text", " "))
            + (
                2
                * F.pmod(
                    F.col("doc_id") * F.lit(2654435761).cast("bigint"),
                    F.lit(2),
                )
                - 1
            )
            > 60
        ).alias("ra2"),
        F.lit(False).alias("rb"),
    ).localCheckpoint(eager=False)  # both comparison legs — one scan
    pairs = d.select(
        F.lit("tok60_vs_baseline").alias("comparison"),
        "gold",
        F.col("ra").alias("x"),
        F.col("rb").alias("y"),
    ).unionByName(
        d.select(
            F.lit("tok60_vs_jitter").alias("comparison"),
            "gold",
            F.col("ra").alias("x"),
            F.col("ra2").alias("y"),
        )
    )
    s = pairs.groupBy("comparison").agg(
        F.sum(
            ((F.col("x") == F.col("gold")) & (F.col("y") != F.col("gold")))
            .cast("int")
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            ((F.col("x") != F.col("gold")) & (F.col("y") == F.col("gold")))
            .cast("int")
        )
        .cast("bigint")
        .alias("c"),
    )
    bc = F.col("b") + F.col("c")
    diff = F.abs(F.col("b") - F.col("c"))
    stat4 = F.when(bc == 0, F.lit(0.0)).otherwise(
        r4((diff - 1.0) * (diff - 1.0) / bc)
    )
    return s.select(
        "comparison",
        "b",
        "c",
        stat4.alias("stat4"),
        (stat4 > _MCNEMAR_CRIT).alias("reject"),
    )


@register(
    "q_cohen_kappa",
    oracle=f"""
    WITH d AS (
      SELECT len(string_split(text, ' ')) > 60 AS ra,
             n_chars > 300 AS rb,
             (doc_id * 2654435761) % 2 = 0 AS rc
      FROM documents
    ), pairs AS (
      SELECT 'tok60_vs_chars300' AS pair, ra AS x, rb AS y FROM d
      UNION ALL
      SELECT 'tok60_vs_coin' AS pair, ra AS x, rc AS y FROM d
    ), s AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN x AND y THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN x AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
               AS n10,
             CAST(SUM(CASE WHEN NOT x AND y THEN 1 ELSE 0 END) AS BIGINT)
               AS n01
      FROM pairs GROUP BY 1
    ), k AS (
      SELECT pair, n,
             {R4('(n11 + (n - n11 - n10 - n01)) * 1.0 / n')} AS po4,
             {R4('(CAST(n11 + n10 AS DOUBLE) / n) * ((n11 + n01) * 1.0 / n)'
                 ' + (CAST(n - n11 - n10 AS DOUBLE) / n)'
                 '   * ((n - n11 - n01) * 1.0 / n)')} AS pe4,
             CASE WHEN (CAST(n11 + n10 AS DOUBLE) / n) * ((n11 + n01) * 1.0 / n)
                       + (CAST(n - n11 - n10 AS DOUBLE) / n)
                         * ((n - n11 - n01) * 1.0 / n) = 1.0
                  THEN 0.0
                  ELSE {R4(
                      '((n11 + (n - n11 - n10 - n01)) * 1.0 / n'
                      ' - ((CAST(n11 + n10 AS DOUBLE) / n) * ((n11 + n01) * 1.0 / n)'
                      '    + (CAST(n - n11 - n10 AS DOUBLE) / n)'
                      '      * ((n - n11 - n01) * 1.0 / n)))'
                      ' / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / n) * ((n11 + n01) * 1.0 / n)'
                      '    + (CAST(n - n11 - n10 AS DOUBLE) / n)'
                      '      * ((n - n11 - n01) * 1.0 / n)))')}
             END AS kappa4
      FROM s
    )
    SELECT pair, n, po4, pe4, kappa4,
           CASE WHEN kappa4 >= 0.6 THEN 'substantial'
                WHEN kappa4 >= 0.2 THEN 'fair'
                ELSE 'slight' END AS agreement
    FROM k
    """,
    priority="P2",
    tags=("quality", "statistics", "agreement", "evaluation"),
)
def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected inter-rater agreement, the
    standard when two labelers (or two labeling RULES: heuristic
    filters, weak-supervision sources) rate the same items: kappa =
    (p_o − p_e)/(1 − p_e) from the exact 2×2 agreement counts, with
    the Landis-Koch qualitative band (rounded BEFORE banding so the
    boundary can't flip cross-engine). Two rater pairs ship both
    regimes at every SF: token-gate vs char-gate ('substantial' —
    structurally correlated rules) and token-gate vs a deterministic
    Knuth-hash coin ('slight' — independent by construction; its p_o
    ≈ ½ is exactly what kappa corrects to ≈ 0, the trap raw
    agreement hides). Constant-rater degenerate case (p_e = 1)
    null-guards to kappa 0.

    Scale: exact conditional-count aggregates over one scan; output
    bounded by the number of rater pairs."""
    d = load(spark, sf_dir, "documents").select(
        (F.size(F.split("text", " ")) > 60).alias("ra"),
        (F.col("n_chars") > 300).alias("rb"),
        (
            F.pmod(
                F.col("doc_id") * F.lit(2654435761).cast("bigint"), F.lit(2)
            )
            == 0
        ).alias("rc"),
    ).localCheckpoint(eager=False)  # both rater-pair legs — one scan
    pairs = d.select(
        F.lit("tok60_vs_chars300").alias("pair"),
        F.col("ra").alias("x"),
        F.col("rb").alias("y"),
    ).unionByName(
        d.select(
            F.lit("tok60_vs_coin").alias("pair"),
            F.col("ra").alias("x"),
            F.col("rc").alias("y"),
        )
    )
    s = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("x") & F.col("y")).cast("int"))
        .cast("bigint")
        .alias("n11"),
        F.sum((F.col("x") & ~F.col("y")).cast("int"))
        .cast("bigint")
        .alias("n10"),
        F.sum((~F.col("x") & F.col("y")).cast("int"))
        .cast("bigint")
        .alias("n01"),
    )
    n, n11, n10, n01 = (F.col(c) for c in ("n", "n11", "n10", "n01"))
    po = (n11 + (n - n11 - n10 - n01)) * 1.0 / n
    pe = ((n11 + n10).cast("double") / n) * ((n11 + n01) * 1.0 / n) + (
        (n - n11 - n10).cast("double") / n
    ) * ((n - n11 - n01) * 1.0 / n)
    kappa4 = F.when(pe == 1.0, F.lit(0.0)).otherwise(r4((po - pe) / (1.0 - pe)))
    return s.select(
        "pair",
        "n",
        r4(po).alias("po4"),
        r4(pe).alias("pe4"),
        kappa4.alias("kappa4"),
        F.when(kappa4 >= 0.6, F.lit("substantial"))
        .when(kappa4 >= 0.2, F.lit("fair"))
        .otherwise(F.lit("slight"))
        .alias("agreement"),
    )


_PRT_Z_CRIT = 2.5758  # two-sided alpha = 0.01


@register(
    "q_poisson_rate_test",
    oracle=f"""
    WITH base AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d FROM events
    ), streams AS (
      SELECT event_type AS stream, d FROM base
      UNION ALL
      SELECT 'burst_planted' AS stream, d FROM base
      WHERE event_type = 'click' AND d <= 15
      UNION ALL
      SELECT 'burst_planted' AS stream, d FROM base
      WHERE event_type = 'click' AND d >= 16
      UNION ALL
      SELECT 'burst_planted' AS stream, d FROM base
      WHERE event_type = 'click' AND d >= 16
    ), s AS (
      SELECT stream,
             CAST(SUM(CASE WHEN d <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN d >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM streams GROUP BY 1
    ), st AS (
      SELECT stream, c1, c2,
             CASE WHEN c1 + c2 = 0 THEN 0.0
                  ELSE {R4('(c1 - c2) / SQRT(c1 + c2 + 0.0)')} END AS z4
      FROM s
    )
    SELECT stream, c1, c2, z4, ABS(z4) > {_PRT_Z_CRIT!r} AS reject
    FROM st
    """,
    priority="P2",
    tags=("quality", "statistics", "rate-monitor"),
)
def q_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-window Poisson rate test per event stream — "did this
    event's RATE change between the first and second half of the
    month?", the volume-drift monitor beside the value-drift tests
    (`q_ks_test`, `q_mann_kendall`): under H0 (equal rates, equal
    15-day exposures) the count difference is conditionally binomial
    and z = (c1 − c2)/√(c1 + c2); two-sided α = 0.01. Organic streams
    ACCEPT (the generator's arrival rate is constant); a planted
    'burst_planted' stream — click with its second half counted twice,
    a 2× rate shift — REJECTS at every SF. c1 + c2 = 0 null-guards
    to z = 0.

    Scale: exact conditional counts off one scan; the test runs on a
    rows-per-stream frame."""
    base = load(spark, sf_dir, "events").select(
        "event_type", F.dayofmonth("ts").cast("bigint").alias("d")
    ).localCheckpoint(eager=False)  # organic leg + two planted legs
    click = base.where(F.col("event_type") == "click")
    streams = (
        base.select(F.col("event_type").alias("stream"), "d")
        .unionByName(
            click.select(F.lit("burst_planted").alias("stream"), "d")
        )
        .unionByName(
            click.where(F.col("d") >= 16).select(
                F.lit("burst_planted").alias("stream"), "d"
            )
        )
    )
    s = streams.groupBy("stream").agg(
        F.sum((F.col("d") <= 15).cast("int")).cast("bigint").alias("c1"),
        F.sum((F.col("d") >= 16).cast("int")).cast("bigint").alias("c2"),
    )
    z4 = F.when(F.col("c1") + F.col("c2") == 0, F.lit(0.0)).otherwise(
        r4(
            (F.col("c1") - F.col("c2"))
            / F.sqrt((F.col("c1") + F.col("c2")).cast("double"))
        )
    )
    return s.select(
        "stream",
        "c1",
        "c2",
        z4.alias("z4"),
        (F.abs(z4) > _PRT_Z_CRIT).alias("reject"),
    )


_CRC_NHAT = (
    "CAST(" + R("(n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0", 0)
    + " AS BIGINT)"
)


@register(
    "q_capture_recapture",
    oracle=f"""
    WITH c1 AS (
      SELECT doc_id FROM documents WHERE (doc_id * 2654435761) % 100 < 20
    ), c2 AS (
      SELECT doc_id FROM documents WHERE (doc_id * 40503) % 100 < 20
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m
      FROM c1 JOIN c2 ON c1.doc_id = c2.doc_id
    ), s AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) AS n2,
             m.m AS m,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS true_n
      FROM m
    )
    SELECT n1, n2, m, true_n,
           {_CRC_NHAT} AS n_hat,
           {R4(f'({_CRC_NHAT} - true_n) * 100.0 / true_n')} AS err_pct4
    FROM s
    """,
    priority="P2",
    tags=("quality", "statistics", "estimation"),
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (Chapman-corrected
    Lincoln-Petersen): two INDEPENDENT deterministic ~20% hash samples
    of the corpus (different Knuth multipliers — the `q_sample`
    device, so both "captures" are reproducible on any engine), then
    N̂ = (n1+1)(n2+1)/(m+1) − 1 from the overlap m. The corpus-size /
    coverage estimator used when the universe can't be enumerated —
    how many docs do two crawls jointly imply exist? — here
    verifiable against the true count, with the signed error %
    emitted (the m = 0 degenerate case is finite by construction of
    the Chapman correction).

    Scale: two sargable hash predicates on one scan + a semi-join on
    the ~4% intersection; the estimator runs on a 1-row frame."""
    d = load(spark, sf_dir, "documents").select("doc_id").localCheckpoint(
        eager=False
    )  # capture legs + true count — one scan
    k1 = (F.col("doc_id") * F.lit(2654435761).cast("bigint")) % 100 < 20
    k2 = (F.col("doc_id") * F.lit(40503).cast("bigint")) % 100 < 20
    c1 = d.where(k1)
    c2 = d.where(k2)
    m = c1.join(c2, "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    s = (
        m.crossJoin(c1.agg(F.count(F.lit(1)).cast("bigint").alias("n1")))
        .crossJoin(c2.agg(F.count(F.lit(1)).cast("bigint").alias("n2")))
        .crossJoin(d.agg(F.count(F.lit(1)).cast("bigint").alias("true_n")))
    )
    n_hat = F.round(
        (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1.0,
        0,
    ).cast("bigint")
    return s.select(
        "n1",
        "n2",
        "m",
        "true_n",
        n_hat.alias("n_hat"),
        r4((n_hat - F.col("true_n")) * 100.0 / F.col("true_n")).alias(
            "err_pct4"
        ),
    )


_CQ_CRIT_DF2 = 9.2103  # chi-square upper 1% point, df = k - 1 = 2


@register(
    "q_cochran_q",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_toks
      FROM documents
    ), g AS (
      SELECT 'calibrated' AS scope, doc_id, i,
             CAST(n_chars + ((doc_id * 131 + i) * 2654435761) % 3 - 1 > 300
               AS INT) AS pass
      FROM d CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS i)
      UNION ALL
      SELECT 'planted' AS scope, doc_id, 1 AS i,
             CAST(n_toks > 60 AS INT) AS pass FROM d
      UNION ALL
      SELECT 'planted' AS scope, doc_id, 2 AS i,
             CAST(n_chars > 300 AS INT) AS pass FROM d
      UNION ALL
      SELECT 'planted' AS scope, doc_id, 3 AS i,
             CAST(n_chars > 320 AS INT) AS pass FROM d
    ), cj AS (
      SELECT scope, i, CAST(SUM(pass) AS BIGINT) AS c FROM g GROUP BY 1, 2
    ), ri AS (
      SELECT scope, doc_id, CAST(SUM(pass) AS BIGINT) AS r FROM g GROUP BY 1, 2
    ), s AS (
      SELECT cj.scope,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS sc2
      FROM cj GROUP BY 1
    ), t AS (
      SELECT scope,
             CAST(SUM(r) AS BIGINT) AS sr,
             CAST(SUM(r * r) AS BIGINT) AS sr2
      FROM ri GROUP BY 1
    ), q AS (
      SELECT s.scope, s.k,
             CASE WHEN s.k * t.sr - t.sr2 = 0 THEN 0.0
                  ELSE {R4('(s.k - 1.0) * (s.k * s.sc2 - s.sc * s.sc)'
                           ' / (s.k * t.sr - t.sr2)')}
             END AS q4
      FROM s JOIN t ON s.scope = t.scope
    )
    SELECT scope, k, q4, q4 > {_CQ_CRIT_DF2!r} AS reject FROM q
    """,
    priority="P2",
    tags=("quality", "statistics", "paired-test"),
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q — the k-treatment generalization of `q_mcnemar`:
    do k related binary gates pass the SAME items at equal rates?
    Q = (k−1)(k·ΣCⱼ² − (ΣCⱼ)²)/(k·ΣRᵢ − ΣRᵢ²) over per-gate column
    totals Cⱼ and per-item row totals Rᵢ — the filter-calibration
    audit run before swapping one quality gate for another. α = 0.01,
    df = k−1 = 2.

    Both branches at every SF: 'calibrated' applies three ±1-char
    hash-jitter variants of the same length gate (equal marginals by
    symmetry — ACCEPTS), 'planted' compares token-gate / char-gate-300
    / char-gate-320 (the 320 gate is systematically stricter —
    REJECTS). The all-identical-rows degenerate denominator
    null-guards to Q = 0.

    Scale: every statistic is an exact integer from two grouped
    conditional counts (per gate, per item) over one checkpointed
    scan; the test runs on k-row and item-count frames."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_toks"),
    ).localCheckpoint(eager=False)  # all gate legs — one scan
    gates3 = d.crossJoin(
        F.broadcast(
            d.sparkSession.createDataFrame([(1,), (2,), (3,)], "i int")
        )
    ).select(
        F.lit("calibrated").alias("scope"),
        "doc_id",
        "i",
        (
            F.col("n_chars")
            + F.pmod(
                (F.col("doc_id") * 131 + F.col("i"))
                * F.lit(2654435761).cast("bigint"),
                F.lit(3),
            )
            - 1
            > 300
        )
        .cast("int")
        .alias("pass"),
    )
    planted = None
    for i, cond in (
        (1, F.col("n_toks") > 60),
        (2, F.col("n_chars") > 300),
        (3, F.col("n_chars") > 320),
    ):
        leg = d.select(
            F.lit("planted").alias("scope"),
            "doc_id",
            F.lit(i).alias("i"),
            cond.cast("int").alias("pass"),
        )
        planted = leg if planted is None else planted.unionByName(leg)
    g = gates3.unionByName(planted).localCheckpoint(
        eager=False
    )  # column-total + row-total legs
    cj = g.groupBy("scope", "i").agg(F.sum("pass").cast("bigint").alias("c"))
    ri = g.groupBy("scope", "doc_id").agg(
        F.sum("pass").cast("bigint").alias("r")
    )
    s = cj.groupBy("scope").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(d38("c")).alias("sc"),
        F.sum(d38("c") * F.col("c")).alias("sc2"),
    )
    t = ri.groupBy("scope").agg(
        F.sum("r").cast("bigint").alias("sr"),
        F.sum(d38("r") * F.col("r")).alias("sr2"),
    )
    den = F.col("k") * F.col("sr") - F.col("sr2")
    q4 = F.when(den == 0, F.lit(0.0)).otherwise(
        r4(
            (F.col("k") - 1.0)
            * (F.col("k") * F.col("sc2") - F.col("sc") * F.col("sc"))
            / den
        )
    )
    return (
        s.join(t, "scope")
        .select("scope", "k", q4.alias("q4"), (q4 > _CQ_CRIT_DF2).alias("reject"))
    )


@register(
    "q_wasserstein_drift",
    oracle=f"""
    WITH base AS (
      SELECT event_id, CAST({R('value * 100', 0)} AS BIGINT) AS y2,
             CASE WHEN (event_id * 2654435761) % 2 = 0 THEN 'a' ELSE 'b' END
               AS arm
      FROM events
    ), scoped AS (
      SELECT 'null' AS scope, arm, y2 FROM base
      UNION ALL
      SELECT 'shifted' AS scope, arm,
             CASE WHEN arm = 'b' THEN y2 + 2000 ELSE y2 END AS y2
      FROM base
    ), support AS (
      SELECT scope, y2,
             CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM scoped GROUP BY 1, 2
    ), walk AS (
      SELECT scope, y2,
             CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER w AS BIGINT) AS cum_b,
             CAST(SUM(ca) OVER (PARTITION BY scope) AS BIGINT) AS n_a,
             CAST(SUM(cb) OVER (PARTITION BY scope) AS BIGINT) AS n_b,
             LEAD(y2) OVER (PARTITION BY scope ORDER BY y2) AS y2_next
      FROM support
      WINDOW w AS (PARTITION BY scope ORDER BY y2 ROWS UNBOUNDED PRECEDING)
    ), segs AS (
      SELECT scope, n_a, n_b,
             CAST(SUM((y2_next - y2)
                      * ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS num
      FROM walk WHERE y2_next IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT scope, n_a, n_b,
           {R4('num * 1.0 / (n_a * n_b) / 100.0')} AS w1_dollars4
    FROM segs
    """,
    priority="P2",
    tags=("quality", "drift", "distribution"),
)
def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    arms' value distributions — the drift measure that completes the
    triad with `q_psi_stability` (binned, bin-choice-sensitive) and
    `q_ks_test` (sup-norm: blind to HOW FAR mass moved): W1 =
    integral |F_a - F_b| over the merged support, i.e. the average
    distance mass must travel — the number a data-drift SLO can
    price in value units.

    Computed EXACTLY, no binning: one pass to the (scope, value)
    support grain with per-arm counts, a cumulative window along the
    support, and per-segment contributions (gap * |cumA*N_b -
    cumB*N_a|) as exact cross-multiplied bigints (the total is
    bounded by value_range * N_a * N_b — fits bigint at every
    shipped SF); ONE division at the end. Self-validating branches:
    the hash-split null scope prices its sampling noise in dollars
    (W1 ~ 2.9 at sf0.001, shrinking with n), and a planted +20.00
    shift of arm b lands within a FRACTION of that noise of 20.00 —
    the shift dominates and the |F_a - F_b| integrand saturates
    where the distributions stop overlapping (W1 is NOT exactly
    additive under shifts; the law test pins
    |W1_shifted - 20| < W1_null).

    Scale: support walk is per-scope ordered — the banded-window
    device in the Spark plan (value-range bands); everything else is
    partial-agg map-side work. No quadratic pairing, no binning
    loss."""
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
    scoped = base.select(F.lit("null").alias("scope"), "arm", "y2").unionByName(
        base.select(
            F.lit("shifted").alias("scope"),
            "arm",
            F.when(F.col("arm") == "b", F.col("y2") + 2000)
            .otherwise(F.col("y2"))
            .alias("y2"),
        )
    )
    support = scoped.groupBy("scope", "y2").agg(
        F.sum(F.when(F.col("arm") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("arm") == "b", 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    # banded cumulative over the support (support rows carry y2 unique
    # per scope, so y2 itself is the tiebreak-free order key); the same
    # banded pass provides the row number used nowhere — cum is the
    # point. LEAD comes from a per-band window + band-edge join; for
    # simplicity and exactness, compute the segment gap by joining each
    # support row to the next via the banded row number.
    ranked = with_banded_order(
        support,
        "y2",
        [],
        group_cols=["scope"],
        cumsum_col="ca",
        rn_name="rn",
        cum_name="cum_a",
    )
    ranked = with_banded_order(
        ranked.drop("rn"),
        "y2",
        [],
        group_cols=["scope"],
        cumsum_col="cb",
        rn_name="rn",
        cum_name="cum_b",
    )
    totals = ranked.groupBy("scope").agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    nxt = ranked.select(
        F.col("scope").alias("scope_n"),
        (F.col("rn") - 1).alias("rn_prev"),
        F.col("y2").alias("y2_next"),
    )
    segs = (
        ranked.join(
            nxt,
            (F.col("scope") == F.col("scope_n"))
            & (F.col("rn") == F.col("rn_prev")),
        )
        .join(F.broadcast(totals), "scope")
        .groupBy("scope", "n_a", "n_b")
        .agg(
            F.sum(
                (F.col("y2_next") - F.col("y2"))
                * F.abs(
                    F.col("cum_a") * F.col("n_b")
                    - F.col("cum_b") * F.col("n_a")
                )
            )
            .cast("bigint")
            .alias("num")
        )
    )
    return segs.select(
        "scope",
        "n_a",
        "n_b",
        r4(
            F.col("num") * 1.0 / (F.col("n_a") * F.col("n_b")) / 100.0
        ).alias("w1_dollars4"),
    )
