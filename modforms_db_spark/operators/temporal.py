"""Temporal / record-lifecycle operators — SURVEY.md §2.12.

Reference capabilities [R] these generalize: the reference keeps
version-chained records (recomputations of the same (N,k,i) space over
time) and syncs stores by replaying a change log (files → Mongo upserts).
SCD-2 interval building, CDC log compaction, and gap-filled rollups are
the lakehouse-native forms of those capabilities; the bin-pruned interval
join is the 100 TB-safe form of the attribution join.

Scale notes (SCALE.md §2b):

- `q_scd2_build` / `q_cdc_apply`: one shuffle on the entity key, then a
  sorted streaming pass per partition (window functions). At 100 TB the
  entity key (user/space) is high-cardinality and unskewed → partitions
  stay balanced; no driver-side state.
- `q_gapfill_rollup`: the dense spine is generated from ONE aggregated
  row (min/max) — spine size = hours × types, independent of fact
  cardinality, so it is broadcast-joined against the rolled-up (already
  tiny) aggregate. The 100 TB cost is the first groupBy only.
- `q_join_range_binned`: time-bucket bins bound join fanout when the
  equi-key alone is too hot (celebrity users) or absent (global
  attribution): candidate pairs = same (user, 5-min bin) ± 1 bin instead
  of all pairs per user. Bin width = the predicate range ⇒ each match is
  found in exactly one of the two probed bins (no dedup pass needed).
  The oracle is the UNBINNED join — binning must not change results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.parity import d38, r2, r4
from modforms_db_spark.registry import register


@register(
    "q_scd2_build",
    oracle=f"""
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current,
           {R4('value')} AS value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    priority="P1",
    tags=("temporal", "scd2", "window"),
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: each event is a new version of its user's
    record; emit [valid_from, valid_to) intervals + is_current flag — the
    version-chained record store [R] as a relational transform.

    One shuffle on user_id, then a single sorted pass (lead + row_number
    share one window spec ⇒ one Window physical operator).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
        r4("value").alias("value"),
    )


@register(
    "q_cdc_apply",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           ts AS last_ts,
           CASE event_type WHEN 'signup' THEN 'insert'
                           WHEN 'error'  THEN 'delete'
                           ELSE 'update' END AS last_op,
           {R4('value')} AS last_value
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
    priority="P1",
    tags=("temporal", "cdc", "window"),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: interpret events as a change log (signup=insert,
    error=delete, rest=update) and materialize the post-replay snapshot —
    latest op per key wins, deleted keys drop out. The reference's
    store-sync replay [R] as one window + filter (plans as
    WindowGroupLimit: top-1 per key never materializes full rank).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.when(F.col("event_type") == "signup", F.lit("insert"))
            .when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("last_op"),
            r4("value").alias("last_value"),
        )
    )


@register(
    "q_gapfill_rollup",
    oracle=f"""
    WITH b AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1 FROM events
    ), spine AS (
      SELECT unnest(generate_series((SELECT h0 FROM b), (SELECT h1 FROM b),
                                    INTERVAL 1 HOUR)) AS h
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), agg AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             COUNT(*) AS n_events, {R4('SUM(value)')} AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT s.h, t.event_type,
           COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.sum_value, 0.0) AS sum_value
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN agg a ON a.h = s.h AND a.event_type = t.event_type
    """,
    priority="P1",
    tags=("temporal", "gapfill", "rollup"),
)
def q_gapfill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hourly rollup with gap fill: dense (hour × type)
    spine generated from the aggregated min/max, left-joined to the rollup,
    missing buckets zero-filled — the time-series densification every
    monitoring/training-mix dashboard needs.

    Scale shape: the 100 TB cost is the single fact groupBy (map-side
    partial agg); the spine derives from ONE row (global min/max) and is
    spine-sized (hours × types), so both sides of the gap-fill join are
    post-aggregation tiny and broadcast-able regardless of fact size.
    """
    e = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type", "value"
    )
    # ONE fact pass: bounds and types derive from the checkpointed hourly
    # aggregate (every event hour/type appears there), not from re-scans.
    agg = (
        e.groupBy("h", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r4(F.sum("value")).alias("sum_value"),
        )
        .localCheckpoint(eager=False)
    )
    bounds = agg.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine_h = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = agg.select("event_type").distinct()
    return (
        spine_h.crossJoin(F.broadcast(types))
        .join(F.broadcast(agg), ["h", "event_type"], "left")
        .select(
            "h",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


@register(
    "q_anomaly_mad",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type, quantile_cont(n, 0.5) AS med FROM hourly GROUP BY 1
    ), mad AS (
      SELECT h.event_type, any_value(m.med) AS med,
             quantile_cont(abs(h.n - m.med), 0.5) AS mad
      FROM hourly h JOIN med m USING (event_type)
      GROUP BY h.event_type
    )
    SELECT h.event_type, h.h, CAST(h.n AS BIGINT) AS n,
           {R4('m.med')} AS med, {R4('m.mad')} AS mad
    FROM hourly h JOIN mad m USING (event_type)
    WHERE abs(h.n - m.med) > 3 * m.mad
    """,
    priority="P2",
    tags=("temporal", "anomaly", "percentile"),
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-monitoring anomaly flags: hours whose event count deviates
    from the per-type median by > 3 median-absolute-deviations — the
    robust-statistics outlier gate over a rollup (what a 100 TB ingest
    pipeline alerts on).

    Two tiny post-rollup percentile passes over (type, hour) groups —
    the fact table is touched once. Exact `percentile` matches DuckDB's
    `quantile_cont` (dialect rule, SURVEY.md §2.11).
    """
    e = load(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    med = hourly.groupBy("event_type").agg(
        F.percentile("n", 0.5).alias("med")
    )
    mad = (
        hourly.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").alias("med"),
            F.percentile(F.abs(F.col("n") - F.col("med")), 0.5).alias("mad"),
        )
    )
    return (
        hourly.join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("n") - F.col("med")) > 3 * F.col("mad"))
        .select(
            "event_type",
            "h",
            F.col("n").cast("bigint").alias("n"),
            r4("med").alias("med"),
            r4("mad").alias("mad"),
        )
    )


@register(
    "q_join_range_binned",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           v.ts AS view_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 5 MINUTE
    """,
    priority="P2",
    tags=("join", "interval", "binned"),
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-pruned interval join: same semantics as `q_join_interval`
    (view→purchase within 5 min) but the join key is (user, 5-min time
    bin), with the view side probing its own bin and the next one.

    Bin width == predicate range ⇒ a qualifying purchase lands in exactly
    one of the two probed bins, so no post-join dedup is needed, and the
    per-key candidate set is bounded by bin occupancy instead of total
    per-user history — the scale fix when users are hot or the equi-key
    is absent. Oracle = the UNBINNED join: binning must not change
    results (same discipline as `q_join_skew_salted`).
    """
    e = load(spark, sf_dir, "events")
    # window(ts, "5 minutes").start is the bin label — idiomatic, NTZ-safe.
    v = (
        e.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
            F.window("ts", "5 minutes").start.alias("bin0"),
        )
        .withColumn(
            "bin",
            F.explode(
                F.array(
                    F.col("bin0"), F.col("bin0") + F.expr("INTERVAL 5 MINUTES")
                )
            ),
        )
        .drop("bin0")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.window("ts", "5 minutes").start.alias("p_bin"),
    )
    return (
        v.join(
            p,
            (v.user_id == p.p_user_id)
            & (v.bin == p.p_bin)
            & (p.purchase_ts >= v.view_ts)
            & (p.purchase_ts <= v.view_ts + F.expr("INTERVAL 5 MINUTES")),
            "inner",
        )
        .select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")
    )


@register(
    "q_rollup_cascade",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             COUNT(*) AS n, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT date_trunc('day', bucket) AS bucket, event_type,
             CAST(SUM(n) AS BIGINT) AS n, SUM(sv) AS sv
      FROM hourly GROUP BY 1, 2
    ), monthly AS (
      SELECT date_trunc('month', bucket) AS bucket, event_type,
             CAST(SUM(n) AS BIGINT) AS n, SUM(sv) AS sv
      FROM daily GROUP BY 1, 2
    )
    SELECT 'hour'  AS grain, bucket, event_type, n, {R4('sv')} AS sum_value FROM hourly
    UNION ALL
    SELECT 'day'   AS grain, bucket, event_type, n, {R4('sv')} AS sum_value FROM daily
    UNION ALL
    SELECT 'month' AS grain, bucket, event_type, n, {R4('sv')} AS sum_value FROM monthly
    """,
    priority="P1",
    tags=("temporal", "rollup", "cascade"),
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading multi-granularity rollup (hypertable continuous-aggregate
    shape): hour buckets from the facts ONCE, then day from hour and month
    from day — each coarser grain aggregates the previous grain's partials,
    never re-scanning the fact table. Rounding applies only at EMISSION
    (the cascade itself sums raw doubles), so coarser grains don't
    accumulate rounding error.

    Scale: the fact scan + first groupBy is the only O(rows) stage; the
    day/month stages run over hours×types and days×types rows. This is
    how dashboard hierarchies stay O(1) per refresh at 100 TB — persist
    the hourly partials, derive everything coarser from them.
    """
    e = load(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "bucket").alias("bucket"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
        .localCheckpoint(eager=False)  # read by monthly AND its own emit
    )
    monthly = (
        daily.groupBy(
            F.date_trunc("month", "bucket").alias("bucket"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )

    def emit(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket",
            "event_type",
            "n",
            r4("sv").alias("sum_value"),
        )

    return (
        emit(hourly, "hour")
        .unionByName(emit(daily, "day"))
        .unionByName(emit(monthly, "month"))
    )


@register(
    "q_events_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS c0
      FROM events WHERE event_type = 'signup'
      GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d
      FROM events
    )
    SELECT c.c0 AS cohort_day,
           CAST(date_diff('day', c.c0, a.d) AS BIGINT) AS day_offset,
           COUNT(DISTINCT a.user_id) AS active_users
    FROM cohort c
    JOIN activity a ON a.user_id = c.user_id AND a.d >= c.c0
    WHERE date_diff('day', c.c0, a.d) <= 7
    GROUP BY 1, 2
    """,
    priority="P1",
    tags=("temporal", "retention", "cohort"),
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-signup day, counted
    as active per day-offset 0..7 — the product-analytics staple over the
    version-activity log [R: which spaces keep getting recomputed].

    Scale: cohorts are a per-user aggregate (one shuffle), activity a
    distinct projection (second shuffle); the cohort side is users-sized
    and joins on user_id — well-distributed, no fact×fact blowup, and the
    offset cap bounds output to cohorts × 8 rows.
    """
    e = load(spark, sf_dir, "events")
    cohort = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("c0"))
    )
    activity = e.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    off = F.datediff(F.col("d"), F.col("c0")).cast("bigint")
    return (
        activity.join(cohort, "user_id")
        .where((F.col("d") >= F.col("c0")) & (off <= 7))
        .groupBy(F.col("c0").alias("cohort_day"), off.alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "q_events_path",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    )
    SELECT path, COUNT(*) AS n FROM paths GROUP BY path
    ORDER BY n DESC, path LIMIT 10
    """,
    priority="P2",
    tags=("temporal", "path-analysis", "window"),
)
def q_events_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the 10 most frequent 3-step event-type sequences
    across all users (sliding window over each user's ordered stream) —
    the "how do users actually move" companion to the fixed-order funnel
    (`q_events_funnel`).

    Scale: one shuffle on user_id for the window, then the path strings
    pre-aggregate map-side (≤ |types|³ = 125 distinct paths); the top-10
    is a TakeOrdered, not a global sort.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


@register(
    "q_time_weighted_avg",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           {R4('SUM(value * (t_next - t)) / SUM(t_next - t)')} AS twa
    FROM seq WHERE t_next IS NOT NULL AND t_next > t
    GROUP BY user_id
    """,
    priority="P2",
    tags=("temporal", "timeseries"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (last-observation-carried-forward:
    each value weighted by the µs it was current, Σ vᵢ·Δtᵢ / Σ Δtᵢ) —
    the TimescaleDB-style `time_weight` rollup that makes irregularly
    sampled series comparable, where a plain AVG over-weights chatty
    periods.

    Scale: one shuffle on user_id for the lead() window, then a
    partial+final agg on the same key — AQE reuses the partitioning, so
    the whole query is a single exchange. Weights are integer µs
    (epoch arithmetic exact on both engines); only the final ratio is
    rounded."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ → µs via the session-UTC cast (prep() pins the zone; same
    # idiom as q_win_lag_lead).
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = e.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).where(F.col("t_next").isNotNull() & (F.col("t_next") > F.col("t")))
    dt = F.col("t_next") - F.col("t")
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        r4(F.sum(F.col("value") * dt) / F.sum(dt)).alias("twa"),
    )


@register(
    "q_ewma",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), rec AS (
      SELECT user_id, rn, value, value AS ewma FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.value, 0.3 * s.value + 0.7 * r.ewma
      FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id,
           CAST(MAX(rn) AS BIGINT) AS n_events,
           ROUND(MAX(CASE WHEN rn = mx THEN ewma END), 4) AS ewma_last
    FROM (SELECT *, MAX(rn) OVER (PARTITION BY user_id) AS mx FROM rec)
    GROUP BY user_id
    """,
    priority="P2",
    tags=("temporal", "timeseries", "recurrence"),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (α=0.3, seeded at
    the first observation), emitting each user's event count and final
    EWMA — the smoothing recurrence behind rate limiting, anomaly
    baselines, and streaming health metrics.

    Spark shape: the recurrence folds JVM-side — sort each user's
    (ts, event_id, value) structs into an array, then one `aggregate`
    lambda walks it (identical fp operation order to the oracle's
    recursive CTE, so values match bit-for-bit before the final
    rounding). One shuffle on user_id; no Python.

    Scale: per-user state during the fold is the collected event array —
    fine while per-user history is bounded (it is here: ≤ a few hundred
    events); for unbounded histories the same recurrence runs as
    `applyInPandas` over (user, time-shard) with carried seed values,
    the q_pack_sequences sharding pattern, or incrementally under
    `applyInPandasWithState` in the streaming twin."""
    e = load(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    folded = (
        e.groupBy("user_id")
        .agg(arr.alias("evs"))
        .select(
            "user_id",
            F.size("evs").cast("bigint").alias("n_events"),
            F.aggregate(
                "evs",
                F.lit(None).cast("double"),
                lambda acc, s: F.when(acc.isNull(), s.getField("value")).otherwise(
                    F.lit(0.3) * s.getField("value") + F.lit(0.7) * acc
                ),
            ).alias("ewma"),
        )
    )
    return folded.select(
        "user_id", "n_events", F.round("ewma", 4).alias("ewma_last")
    )


@register(
    "q_sessionize",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) AS t,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_prev
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts, t,
             CASE WHEN t_prev IS NULL OR t - t_prev > 1800000000 THEN 1 ELSE 0 END AS new_sess
      FROM seq
    ), ids AS (
      SELECT user_id, ts, t,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS t_start, MAX(ts) AS t_end,
           MAX(t) - MIN(t) AS duration_us
    FROM ids GROUP BY user_id, session_id
    """,
    priority="P2",
    tags=("temporal", "sessionization"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization (gap rule: >30 min of silence starts a
    new session): assign dense per-user session ids, then report each
    session's event count, bounds, and exact µs duration. The ROW-level
    twin of `q_win_session`'s session_window aggregate — this is the
    form you join back onto events to tag every row with its session.

    Determinism: ordering is (ts, event_id) — event_id is a unique
    tiebreak, so lag/cumsum see one canonical sequence on any engine or
    partitioning; durations are integer µs (exact).

    Scale: one shuffle on user_id; the lag window, the running-sum
    window, and the (user_id, session_id) agg all share that
    partitioning (session_id is a refinement of user_id), so AQE plans
    a single exchange end-to-end."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = e.select("user_id", "event_id", "ts", t.alias("t")).withColumn(
        "t_prev", F.lag("t").over(w)
    )
    flagged = seq.withColumn(
        "new_sess",
        F.when(
            F.col("t_prev").isNull()
            | (F.col("t") - F.col("t_prev") > 30 * 60 * 1_000_000),
            1,
        ).otherwise(0),
    )
    ids = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return ids.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
        (F.max("t") - F.min("t")).alias("duration_us"),
    )


@register(
    "q_ohlc_resample",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, date_trunc('hour', ts) AS h, value, ts, event_id,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts, event_id
             ) AS rn_open,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC
             ) AS rn_close
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, h,
           {R4('MAX(CASE WHEN rn_open = 1 THEN value END)')} AS open,
           {R4('MAX(value)')} AS high,
           {R4('MIN(value)')} AS low,
           {R4('MAX(CASE WHEN rn_close = 1 THEN value END)')} AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM seq GROUP BY user_id, h
    """,
    priority="P2",
    tags=("temporal", "timeseries", "resample"),
)
def q_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling (the financial downsample every timeseries
    store ships): per (user, hour) the first/max/min/last value plus
    tick count. First/last are (ts, event_id)-ordered — the unique
    event_id tiebreak makes open/close deterministic under concurrent
    equal-timestamp ticks on any engine.

    Spark shape: min_by/max_by over a packed (ts, event_id) struct —
    one partial+final agg, NO window pass (the oracle's row_number
    formulation is the portable SQL equivalent; struct-ordered min_by
    is the cheaper single-pass Spark form). One shuffle on the grouped
    key; output is bounded at users × hours."""
    e = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    h = F.date_trunc("hour", "ts").alias("h")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.select("user_id", h, "value", key.alias("k"))
        .groupBy("user_id", "h")
        .agg(
            F.round(F.min_by("value", F.col("k")), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", F.col("k")), 4).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


@register(
    "q_ivm_merge",
    oracle=f"""
    WITH base AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             {R4('SUM(value)')} AS total
      FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00'
      GROUP BY user_id
    ), delta AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             {R4('SUM(value)')} AS total
      FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
      GROUP BY user_id
    )
    SELECT COALESCE(b.user_id, d.user_id) AS user_id,
           COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
           {R4('COALESCE(b.total, 0) + COALESCE(d.total, 0)')} AS total
    FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
    """,
    priority="P2",
    tags=("temporal", "incremental", "ivm"),
)
def q_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, batch form: a materialized per-user
    aggregate (rows before the cutoff) merged with a late-arriving delta
    batch via full-outer coalesce — the SAME merge arithmetic
    `q_stream_upsert`'s foreachBatch store applies per micro-batch, here
    as one oracle-checkable plan. The IVM contract (merged ≈ recomputed
    from scratch, exactly for counts, to fp rounding for sums) is pinned
    in tests/test_temporal.py.

    Scale: this is THE pattern that makes a 100 TB rollup affordable —
    the base aggregate is stored state (here recomputed for the oracle's
    benefit; in production a table read), the delta aggregates only the
    new partition, and the merge joins state-sized sides on the group
    key. Count/sum/min/max merge this way; avg/stddev via (sum, count,
    M2) moments; percentiles/distinct need sketches (`q_agg_hll_merge`)."""
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24 00:00:00").cast("timestamp_ntz")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total")
        )

    b = agg(e.where(F.col("ts") < cutoff)).alias("b")
    d = agg(e.where(F.col("ts") >= cutoff)).alias("d")
    return b.join(d, F.col("b.user_id") == F.col("d.user_id"), "full_outer").select(
        F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
        (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))).alias("n"),
        F.round(
            F.coalesce(F.col("b.total"), F.lit(0.0))
            + F.coalesce(F.col("d.total"), F.lit(0.0)),
            4,
        ).alias("total"),
    )


@register(
    "q_attribution_multitouch",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ), pairs AS (
      SELECT p.user_id, p.purchase_id, p.p_ts, v.view_id, v.v_ts
      FROM p JOIN v ON p.user_id = v.user_id
       AND v.v_ts < p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 DAY
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY purchase_id ORDER BY v_ts, view_id) AS rn,
             COUNT(*) OVER (PARTITION BY purchase_id) AS cnt
      FROM pairs
    )
    SELECT user_id, purchase_id, view_id,
           CASE WHEN cnt = 1 THEN 1.0
                WHEN cnt = 2 THEN 0.5
                WHEN rn = 1 OR rn = cnt THEN 0.4
                ELSE {R(f'0.2 / (cnt - 2)', 6)}
           END AS credit
    FROM ranked
    """,
    priority="P2",
    tags=("temporal", "events", "attribution"),
)
def q_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every view in
    the 24 h before a purchase gets credit — 40 % first touch, 40 %
    last, the middle 20 % split evenly (degenerate cases: one view →
    1.0, two → 0.5 each). Credits are a pure function of the ranked
    pair set with (v_ts, view_id) tiebreaks, so fully oracle-checkable.

    Scale: the purchase×view pairing is an interval join — at 100 TB it
    runs as the bin-bucketed form `q_join_range_binned` demonstrates
    (equality on (user, day-bin) before the range residual) instead of
    an unbounded theta join; the ranking windows then partition by
    purchase_id, whose groups are small (views-per-day per user)."""
    e = load(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    pairs = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 DAY")),
    )
    w = Window.partitionBy("purchase_id").orderBy("v_ts", "view_id")
    wc = Window.partitionBy("purchase_id")
    ranked = pairs.select(
        "user_id",
        "purchase_id",
        "view_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    credit = (
        F.when(F.col("cnt") == 1, F.lit(1.0))
        .when(F.col("cnt") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("cnt")), F.lit(0.4))
        .otherwise(F.round(F.lit(0.2) / (F.col("cnt") - 2), 6))
    )
    return ranked.select("user_id", "purchase_id", "view_id", credit.alias("credit"))


@register(
    "q_anomaly_rolling_z",
    oracle=f"""
    WITH q AS (
      SELECT event_id, user_id, ts, value,
             CAST(ROUND(value * 10000) AS BIGINT) AS vi
      FROM events WHERE value IS NOT NULL
    ), w AS (
      SELECT event_id, user_id, ts, value,
             SUM(vi)      OVER trail AS s1,
             SUM(vi * vi) OVER trail AS s2,
             COUNT(*)     OVER trail AS n_win
      FROM q
      WINDOW trail AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 29 PRECEDING AND 1 PRECEDING
      )
    ), stats AS (
      SELECT event_id, user_id, ts, value, n_win,
             {R4('CAST(s1 AS DOUBLE) / (n_win * 10000.0)')} AS mu,
             {R4('SQRT(GREATEST((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_win) / (n_win - 1) / 100000000.0, 0))')} AS sigma
      FROM w
    )
    SELECT event_id, user_id, ts, value, mu, sigma,
           (ABS(value - mu) > 3 * sigma) AS is_anomaly
    FROM stats WHERE n_win >= 10 AND sigma > 0
    """,
    priority="P2",
    tags=("temporal", "anomaly", "rolling"),
)
def q_anomaly_rolling_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against the
    TRAILING 30 events of the same user (frame excludes the current
    row — the score must not contaminate its own baseline), flagged at
    |z| > 3, emitted once the baseline has ≥ 10 points. The ROLLING
    complement of `q_anomaly_mad`'s global-robust scoring.

    Determinism: windowed fp sums are NOT order-stable across engines
    (a segment-tree combine vs a linear scan differ by ulps — observed
    as a 4th-dp boundary flip at sf0.01). So the frame aggregates are
    INTEGER moments: values quantize to 1e-4 grid integers (exact in
    doubles: |vi| ≤ 5.6e6, Σvi² ≤ 1e15 < 2^53), the frame sums are
    exact in ANY order, and μ/σ are pure per-row functions of (s1, s2,
    n) — bit-identical on every engine and partitioning; the final
    4-dp rounding of those identical doubles still goes through the
    R4 dialect emulation (quotients are not grid-exact).

    Scale: one shuffle on user_id; the trailing frame is ROWS-bounded
    (constant per-row window state), the flag is a projection — a
    single exchange end-to-end."""
    e = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vi = F.round(F.col("value") * 10000).cast("bigint")
    trail = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-29, -1)
    )
    q = e.select("event_id", "user_id", "ts", "value", vi.alias("vi"))
    w = q.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum("vi").over(trail).alias("s1"),
        F.sum(F.col("vi") * F.col("vi")).over(trail).alias("s2"),
        F.count(F.lit(1)).over(trail).alias("n_win"),
    )
    s1d = F.col("s1").cast("double")
    mu = F.round(s1d / (F.col("n_win") * 10000.0), 4)
    var = F.greatest(
        (F.col("s2").cast("double") - s1d * s1d / F.col("n_win"))
        / (F.col("n_win") - 1)
        / 1e8,
        F.lit(0.0),
    )
    sigma = F.round(F.sqrt(var), 4)
    stats = w.select(
        "event_id", "user_id", "ts", "value", "n_win",
        mu.alias("mu"), sigma.alias("sigma"),
    )
    return (
        stats.where((F.col("n_win") >= 10) & (F.col("sigma") > 0))
        .select(
            "event_id", "user_id", "ts", "value", "mu", "sigma",
            (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma")).alias(
                "is_anomaly"
            ),
        )
    )


@register(
    "q_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 10 MINUTE AS e, event_id
      FROM events
    ), ord AS (
      SELECT user_id, s, e, event_id,
             MAX(e) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max_e
      FROM iv
    ), flagged AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                  THEN 1 ELSE 0 END AS new_island
      FROM ord
    ), ids AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           MIN(s) AS island_start, MAX(e) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           epoch_us(MAX(e)) - epoch_us(MIN(s)) AS span_us
    FROM ids GROUP BY user_id, island
    """,
    priority="P2",
    tags=("temporal", "intervals", "gaps-islands"),
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval MERGE: each event opens a 10-minute
    activity interval; overlapping/touching intervals per user coalesce
    into islands, reported with bounds, member count, and exact µs span
    — the islands complement of `q_sessionize`'s gap rule (sessionize
    cuts on silence between POINTS; this coalesces RANGES, the
    TimescaleDB/PostGIS `range_agg` shape used for downtime/coverage
    reports).

    The classic linear formulation: a running MAX of interval-end over
    the (start, event_id)-ordered frame EXCLUDING the current row — a
    new island starts exactly when the current start exceeds every
    previous end. Tie-broken by unique event_id ⇒ engine-deterministic.

    Scale: one shuffle on user_id; the running-max window, the island
    cumsum, and the (user, island) agg all refine that partitioning —
    single exchange, same pattern as q_sessionize."""
    e = load(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn("prev_max_e", F.max("e").over(w_prev)).withColumn(
        "new_island",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
        ).otherwise(0),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ids = flagged.withColumn(
        "island", F.sum("new_island").over(w_cum).cast("bigint")
    )
    t_us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return ids.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.count(F.lit(1)).alias("n_intervals"),
        (F.unix_micros(F.max("e").cast("timestamp"))
         - F.unix_micros(F.min("s").cast("timestamp"))).alias("span_us"),
    )


@register(
    "q_markov_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           {R(f'CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type)', 4)} AS p
    FROM pairs
    """,
    priority="P2",
    tags=("events", "markov", "window"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: per-user
    lag pairs (prev_type → next_type) with counts and row-normalized
    transition probabilities — the behavioral-model summary behind
    next-action prediction and funnel-anomaly baselines. (ts, event_id)
    tiebreak makes the sequence engine-exact.

    Scale: one shuffle on user_id for the lag, then a partial-agg
    shuffle of ≤|types|² groups; the normalizing window runs on the
    tiny aggregated matrix, not the fact table. Transition counts are
    exact integers; only the final ratio is rounded."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        r4(F.col("n").cast("double") / F.sum("n").over(wn)).alias("p"),
    )


@register(
    "q_event_regex_match",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id, s AS seq, length(s) AS seq_len,
           regexp_matches(s, 'v[ce]*p') AS hit,
           regexp_extract(s, 'v[ce]*p', 0) AS first_match
    FROM seq
    WHERE regexp_matches(s, 'v[ce]*p')
    """,
    priority="P2",
    tags=("events", "pattern", "regex"),
)
def q_event_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence-pattern detection: each user's
    event history is encoded as an initials string in exact (ts,
    event_id) order, then matched against the regex `v[ce]*p` — "a view
    that converts to purchase with only clicks/errors between" — and
    the first matching span extracted. The string-encoding trick turns
    arbitrary regex-over-events into one window-free aggregate + a
    per-row regex: the standard way to get sequence patterns on an
    engine without a native MATCH_RECOGNIZE operator.

    Scale: one shuffle on user_id (sort happens inside the per-group
    collect, not globally); per-user state is the encoded string —
    bytes-per-event, bounded by history length, the same envelope as
    any sessionization. Regex runs JVM-side per row (codegen), no UDF.
    """
    e = load(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                )
            ).alias("evs")
        )
        .select(
            "user_id",
            F.array_join(F.transform("evs", lambda s: s["c"]), "").alias("seq"),
        )
    )
    return (
        seq.where(F.col("seq").rlike("v[ce]*p"))
        .select(
            "user_id",
            "seq",
            F.length("seq").alias("seq_len"),
            F.lit(True).alias("hit"),
            F.regexp_extract("seq", "v[ce]*p", 0).alias("first_match"),
        )
    )


@register(
    "q_interpolate_linear",
    oracle=f"""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS h, event_type, value FROM events
    ), known AS (
      SELECT h, event_type, {R(f'AVG(value)', 10)} AS v
      FROM e GROUP BY h, event_type
    ), bounds AS (
      SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e
    ), spine AS (
      SELECT t.h, ty.event_type
      FROM (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds) t
      CROSS JOIN (SELECT DISTINCT event_type FROM e) ty
    ), j AS (
      SELECT s.h, s.event_type, k.v,
             last_value(k.v IGNORE NULLS) OVER w_prev  AS pv,
             last_value(CASE WHEN k.v IS NOT NULL THEN s.h END IGNORE NULLS) OVER w_prev AS ph,
             first_value(k.v IGNORE NULLS) OVER w_next AS nv,
             first_value(CASE WHEN k.v IS NOT NULL THEN s.h END IGNORE NULLS) OVER w_next AS nh
      FROM spine s LEFT JOIN known k USING (h, event_type)
      WINDOW
        w_prev AS (PARTITION BY s.event_type ORDER BY s.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY s.event_type ORDER BY s.h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT h, event_type,
           CASE
             WHEN v IS NOT NULL THEN {R4('v')}
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               {R4('''pv + (nv - pv) * (CAST(epoch_us(h) - epoch_us(ph) AS DOUBLE)
                              / CAST(epoch_us(nh) - epoch_us(ph) AS DOUBLE))''')}
           END AS v_filled,
           (v IS NULL) AS interpolated
    FROM j
    """,
    priority="P2",
    tags=("temporal", "gapfill", "interpolate"),
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a dense hourly spine per event_type —
    the value-continuity twin of `q_gapfill_rollup`'s zero-fill: missing
    hours get pv + (nv−pv)·Δt-fraction from the nearest known neighbors
    (exact µs epoch integers drive the fraction), edges outside the
    known range stay NULL. Known hourly means are r10-rounded BEFORE
    interpolation so both engines interpolate bit-identical inputs.

    Scale: identical envelope to gapfill — the fact table contributes
    one partial-agg shuffle; spine × types is post-agg tiny; the two
    IGNORE-NULLS windows run on the spine, not the facts. The window
    carries O(1) state per row (last/first known), so spine length can
    grow unbounded (streaming backfill) without memory growth."""
    e = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type", "value"
    )
    # ONE fact pass: bounds and the type list both derive from the
    # checkpointed hourly aggregate (every event's hour/type appears
    # there by construction) — without this the fact table is scanned
    # three times (known + bounds + types).
    known = (
        e.groupBy("h", "event_type")
        .agg(F.round(F.avg("value"), 10).alias("v"))
        .localCheckpoint(eager=False)
    )
    bounds = known.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        bounds.select(
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h")
        )
        .crossJoin(F.broadcast(known.select("event_type").distinct()))
    )
    j = spine.join(F.broadcast(known), ["h", "event_type"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    kh = F.when(F.col("v").isNotNull(), F.col("h"))
    j = j.select(
        "h",
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(kh, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(kh, ignorenulls=True).over(wn).alias("nh"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    frac = (us("h") - us("ph")).cast("double") / (us("nh") - us("ph")).cast("double")
    return j.select(
        "h",
        "event_type",
        F.when(F.col("v").isNotNull(), r4(F.col("v")))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            r4(F.col("pv") + (F.col("nv") - F.col("pv")) * frac),
        )
        .alias("v_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


@register(
    "q_cumulative_distinct",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS d0 FROM events GROUP BY user_id
    ), daily_new AS (
      SELECT d0 AS day, COUNT(*) AS n_new FROM first_seen GROUP BY d0
    )
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM daily_new
    """,
    priority="P2",
    tags=("temporal", "distinct", "cumulative"),
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day via the FIRST-SEEN transform:
    each user contributes once, on their first active day, and the
    running total of daily-new counts IS the cumulative distinct — the
    standard rewrite that turns "COUNT(DISTINCT) over an expanding
    window" (quadratic state: re-deduplicating history per day) into
    one user-grain aggregate plus a running sum over a days-sized
    table.

    Scale: one shuffle on user_id (min day per user), one tiny day
    aggregate, and the running-sum window runs over ~hundreds of day
    rows — fact data is touched exactly once regardless of the window
    length."""
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily_new = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily_new.select(
        "day", "n_new", F.sum("n_new").over(w).cast("bigint").alias("cum_users")
    )


_GAP_B = 256


@register(
    "q_id_gap_audit",
    oracle=f"""
    WITH acc AS (
      SELECT event_id FROM events WHERE event_type <> 'error'
    ), bounds AS (
      SELECT MIN(event_id) AS lo, MAX(event_id) AS hi FROM acc
    ), spine AS (
      SELECT unnest(generate_series(lo // {_GAP_B}, hi // {_GAP_B})) AS bucket,
             lo, hi
      FROM bounds
    ), per_bucket AS (
      SELECT event_id // {_GAP_B} AS bucket, COUNT(*) AS n_present FROM acc GROUP BY 1
    )
    SELECT s.bucket,
           GREATEST(s.bucket * {_GAP_B}, s.lo) AS bucket_lo,
           LEAST(s.bucket * {_GAP_B} + {_GAP_B - 1}, s.hi) AS bucket_hi,
           COALESCE(p.n_present, 0) AS n_present,
           LEAST(s.bucket * {_GAP_B} + {_GAP_B - 1}, s.hi)
             - GREATEST(s.bucket * {_GAP_B}, s.lo) + 1
             - COALESCE(p.n_present, 0) AS n_missing
    FROM spine s LEFT JOIN per_bucket p USING (bucket)
    WHERE LEAST(s.bucket * {_GAP_B} + {_GAP_B - 1}, s.hi)
          - GREATEST(s.bucket * {_GAP_B}, s.lo) + 1
          - COALESCE(p.n_present, 0) > 0
    """,
    priority="P2",
    tags=("temporal", "audit", "gaps"),
)
def q_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit of the accepted-events feed (errors
    dropped): which fixed-width id buckets are missing ids, and how
    many — the offset-gap / ingest-loss check run against any
    monotonically-assigned id or offset column. Bucketing is what makes
    it scale: the naive lag-over-global-id-order gap scan is a
    single-partition window; here the fact pass is ONE partial-agg
    shuffle of n/{_GAP_B} groups, the bucket spine derives from a 1-row
    broadcast min/max (so fully-empty buckets are caught too), and the
    clip arithmetic makes edge buckets exact.

    Scale: audit table is n/{_GAP_B} rows; no global sort anywhere. At
    100 TB pick the bucket width so the audit table fits the report
    consumer — detection granularity, not correctness, is the only
    trade-off."""
    acc = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") != "error")
        .select("event_id")
    )
    # shiftright(id, 8) = exact floor division by 256 on the full bigint
    # domain (double-division truncation would both mis-bucket negative ids
    # and lose exactness past 2^53), matching the oracle's `//`.
    # ONE fact pass: per-bucket min/max ride the same aggregate, so the
    # global bounds come from the (checkpointed) bucket table, not a
    # second scan of events.
    per_bucket = (
        acc.groupBy(F.shiftright(F.col("event_id"), 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.min("event_id").alias("b_min"),
            F.max("event_id").alias("b_max"),
        )
        .localCheckpoint(eager=False)
    )
    bounds = per_bucket.agg(F.min("b_min").alias("lo"), F.max("b_max").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.shiftright(F.col("lo"), 8), F.shiftright(F.col("hi"), 8))
        ).alias("bucket"),
        "lo",
        "hi",
    )
    per_bucket = per_bucket.select("bucket", "n_present")
    b_lo = F.greatest(F.col("bucket") * _GAP_B, F.col("lo"))
    b_hi = F.least(F.col("bucket") * _GAP_B + (_GAP_B - 1), F.col("hi"))
    miss = b_hi - b_lo + 1 - F.coalesce("n_present", F.lit(0))
    return (
        spine.join(per_bucket, "bucket", "left")
        .select(
            "bucket",
            b_lo.alias("bucket_lo"),
            b_hi.alias("bucket_hi"),
            F.coalesce("n_present", F.lit(0)).alias("n_present"),
            miss.alias("n_missing"),
        )
        .where(F.col("n_missing") > 0)
    )


_MAX_CONCURRENCY_ORACLE = """
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 10 MINUTE AS e, event_id FROM events
    ), pts AS (
      SELECT s AS t, 1 AS delta, event_id, 0 AS kind FROM iv
      UNION ALL
      SELECT e AS t, -1 AS delta, event_id, 1 AS kind FROM iv
    ), run AS (
      SELECT date_trunc('day', t) AS day,
             SUM(delta) OVER (ORDER BY t, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
      FROM pts
    )
    SELECT day, CAST(MAX(load) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY day
    """


@register(
    "q_max_concurrency",
    oracle=_MAX_CONCURRENCY_ORACLE,
    priority="P2",
    tags=("temporal", "interval", "concurrency"),
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the +1/−1 endpoint sweep: every
    event opens a 10-minute activity interval; starts and ends become
    deltas, the running sum over the globally ordered endpoint stream
    is the instantaneous load, and its daily max is the capacity
    metric. Ends sort AFTER starts at the same instant (kind tiebreak)
    so back-to-back intervals count as overlapping — the inclusive
    convention, pinned identically in both engines along with the
    event_id tiebreak.

    Scale: the honest caveat — the sweep needs a GLOBAL endpoint
    order, so this form is a single-partition window (fine to ~10⁷
    endpoints). The distributed form range-partitions time, sweeps
    each slice, and prefix-sums the per-slice net deltas to seed each
    slice's opening load — two tiny extra aggregates, same output;
    sliced variant deliberately not shipped because the contract row
    pins cross-engine totality first."""
    e = load(spark, sf_dir, "events")
    iv = e.select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
        "event_id",
    )
    pts = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id", F.lit(0).alias("kind")
    ).unionByName(
        iv.select(
            F.col("e").alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
            F.lit(1).alias("kind"),
        )
    )
    w = Window.orderBy("t", "kind", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = pts.select(
        F.date_trunc("day", "t").alias("day"), F.sum("delta").over(w).alias("load")
    )
    return run.groupBy("day").agg(
        F.max("load").cast("bigint").alias("peak_concurrency")
    )


@register(
    "q_max_concurrency_scaled",
    oracle=_MAX_CONCURRENCY_ORACLE,
    priority="P2",
    tags=("temporal", "interval", "concurrency", "scale-twin"),
)
def q_max_concurrency_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q_max_concurrency`'s scale twin (same oracle, same result,
    test-pinned): the endpoint sweep range-partitioned BY DAY — which is
    also the output grain, so slicing is free. Each day sweeps its own
    endpoints in parallel (local running sum in (t, kind, event_id)
    order); the opening load a day inherits from history is the prefix
    sum of prior days' NET deltas, computed on the day-grain aggregate
    (≤ a few thousand rows for decades of data — the only unpartitioned
    window left). peak(day) = opening(day) + max(local running sum),
    exactly the global sweep's value because every prior-day endpoint
    sorts before every current-day endpoint in the global order.

    Scale: one shuffle on day for the sliced window, one day-grain agg +
    tiny prefix window, one broadcast join back — no single-task pass
    over the endpoint stream."""
    e = load(spark, sf_dir, "events")
    iv = e.select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
        "event_id",
    )
    pts = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id", F.lit(0).alias("kind")
    ).unionByName(
        iv.select(
            F.col("e").alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
            F.lit(1).alias("kind"),
        )
    ).withColumn("day", F.date_trunc("day", "t"))
    w_day = (
        Window.partitionBy("day")
        .orderBy("t", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = pts.select("day", F.sum("delta").over(w_day).alias("local_load"))
    per_day = local.groupBy("day").agg(F.max("local_load").alias("max_local"))
    nets = pts.groupBy("day").agg(F.sum("delta").alias("net"))
    w_open = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    opening = nets.select(
        "day", F.coalesce(F.sum("net").over(w_open), F.lit(0)).alias("opening")
    )
    return per_day.join(F.broadcast(opening), "day").select(
        "day",
        (F.col("opening") + F.col("max_local")).cast("bigint").alias(
            "peak_concurrency"
        ),
    )


@register(
    "q_sliding_distinct",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ), expanded AS (
      SELECT user_id, d + INTERVAL 1 DAY * off AS wday
      FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off)
    ), bounds AS (
      SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud
    )
    SELECT wday, COUNT(DISTINCT user_id) AS wau
    FROM expanded, bounds
    WHERE wday >= d0 AND wday <= d1
    GROUP BY wday
    """,
    priority="P2",
    tags=("temporal", "distinct", "sliding"),
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (the WAU curve) via
    the bounded-fanout rewrite: each (user, active-day) pair is
    projected into the ≤7 window-days it contributes to, then one
    distinct-count per window-day — COUNT(DISTINCT) OVER a sliding
    RANGE frame doesn't exist as a window function (distinct state
    isn't subtractable), and recomputing a 7-day dedup per day scans
    history 7×; this form touches each user-day exactly W times with W
    a constant. Window-days outside the observed range are clipped so
    no partial windows fake low counts.

    Scale: user-day grain is the first distinct (one shuffle); the 7×
    explode is map-side; the per-day distinct is Spark's standard
    two-phase expand. For large W swap the explode for the bitmap merge
    (`q_bitmap_distinct` per day, OR over the trailing W bitmaps)."""
    e = load(spark, sf_dir, "events")
    # checkpoint the user-day grain: bounds AND the explode both read it,
    # so without this the fact table would be scanned twice
    ud = (
        e.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    bounds = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    expanded = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.expr("INTERVAL 6 DAYS"), F.expr("INTERVAL 1 DAY"))
        ).alias("wday"),
    )
    return (
        expanded.crossJoin(F.broadcast(bounds))
        .where((F.col("wday") >= F.col("d0")) & (F.col("wday") <= F.col("d1")))
        .groupBy("wday")
        .agg(F.count_distinct("user_id").alias("wau"))
    )


_RC_WIN = 24  # trailing hours in the rolling-correlation frame


@register(
    "q_rolling_corr",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             {R("AVG(CASE WHEN event_type = 'click' THEN value END)", 10)} AS x,
             {R("AVG(CASE WHEN event_type = 'purchase' THEN value END)", 10)} AS y
      FROM events
      GROUP BY 1
    ), filled AS (
      SELECT h, x, y FROM hourly WHERE x IS NOT NULL AND y IS NOT NULL
    ), framed AS (
      SELECT h,
             COUNT(*) OVER w AS n,
             {R('SUM(x) OVER w', 10)} AS sx, {R('SUM(y) OVER w', 10)} AS sy,
             {R('SUM(x * y) OVER w', 10)} AS sxy,
             {R('SUM(x * x) OVER w', 10)} AS sxx,
             {R('SUM(y * y) OVER w', 10)} AS syy
      FROM filled
      WINDOW w AS (ORDER BY h ROWS BETWEEN {_RC_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT h, CAST(n AS BIGINT) AS n,
           {R4('''(n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))''')} AS roll_corr
    FROM framed
    WHERE n >= 12
      AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
    priority="P2",
    tags=("temporal", "window", "corr"),
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {_RC_WIN}-hour correlation between the click and purchase
    value series (hours carrying both signals), from windowed raw
    moments — the co-movement monitor for any pair of KPIs. Inputs are
    r10-rounded hourly means and every windowed moment is r10-rounded
    before the correlation formula, so both engines evaluate the
    ratio on identical doubles; degenerate frames (zero variance or
    < 12 points) are excluded rather than emitting ±NaN.

    Scale: the fact table collapses to hours in one conditional-agg
    pass; all five moment windows share ONE ordered frame over the
    hours-sized series (Catalyst computes them in a single Window
    operator). The unpartitioned window is over hours, not facts —
    the same caveat-and-scale note as `q_period_over_period`."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.round(F.avg(F.when(F.col("event_type") == "click", F.col("value"))), 10).alias("x"),
        F.round(F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))), 10).alias("y"),
    )
    filled = hourly.where(F.col("x").isNotNull() & F.col("y").isNotNull())
    w = Window.orderBy("h").rowsBetween(-(_RC_WIN - 1), Window.currentRow)
    r10 = lambda c: F.round(c, 10)  # noqa: E731
    framed = filled.select(
        "h",
        F.count(F.lit(1)).over(w).alias("n"),
        r10(F.sum("x").over(w)).alias("sx"),
        r10(F.sum("y").over(w)).alias("sy"),
        r10(F.sum(F.col("x") * F.col("y")).over(w)).alias("sxy"),
        r10(F.sum(F.col("x") * F.col("x")).over(w)).alias("sxx"),
        r10(F.sum(F.col("y") * F.col("y")).over(w)).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    varx = n * F.col("sxx") - sx * sx
    vary = n * F.col("syy") - sy * sy
    corr = (n * F.col("sxy") - sx * sy) / (F.sqrt(varx) * F.sqrt(vary))
    return (
        framed.where((n >= 12) & (varx > 0) & (vary > 0))
        .select("h", n.cast("bigint").alias("n"), r4(corr).alias("roll_corr"))
    )


_KM_ORACLE = f"""
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS t0 FROM events WHERE event_type = 'signup'
      GROUP BY user_id
    ), conv AS (
      SELECT s0.user_id, s0.t0, MIN(e.ts) AS tc
      FROM s0 LEFT JOIN events e
        ON e.user_id = s0.user_id AND e.event_type = 'purchase' AND e.ts >= s0.t0
      GROUP BY s0.user_id, s0.t0
    ), horizon AS (
      SELECT MAX(ts) AS hz FROM events
    ), obs AS (
      SELECT user_id,
             CASE WHEN tc IS NOT NULL THEN date_diff('day', t0, tc)
                  ELSE date_diff('day', t0, hz) END AS t,
             (tc IS NOT NULL) AS converted
      FROM conv CROSS JOIN horizon
    ), per_day AS (
      SELECT t,
             CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM obs GROUP BY t
    ), risk AS (
      SELECT t, d,
             CAST(SUM(leaving) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
      FROM per_day
    ), factors AS (
      SELECT t, d, n_at_risk,
             {R('CAST(n_at_risk - d AS DOUBLE) / n_at_risk', 10)} AS f
      FROM risk
    )
    SELECT t, d, n_at_risk,
           CASE WHEN MIN(f) OVER cum = 0 THEN 0.0
                ELSE {R4('EXP(SUM(LN(CASE WHEN f > 0 THEN f ELSE 1 END)) OVER cum)')} END AS survival
    FROM factors
    WHERE d > 0
    WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register(
    "q_survival_km",
    oracle=_KM_ORACLE,
    priority="P2",
    tags=("temporal", "survival", "kaplan-meier"),
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator for signup→purchase
    conversion: event time = days to first purchase, users who never
    convert are RIGHT-CENSORED at the observation horizon (the
    censoring discipline naive time-to-convert averages get wrong —
    dropping non-converters biases survival down). n-at-risk via a
    reverse cumulative sum; S(t) = Π(1 − d/n) computed as
    exp(Σ ln f) over the day-grain curve with r10 factors, the exact-0
    branch handled explicitly (a day that converts everyone zeroes the
    curve; ln would NaN).

    Scale: the per-user observation is two keyed aggregates; the curve
    lives at DAY grain (≤ observation span rows), so the cumulative
    windows are over a tiny series — the fact table never meets a
    window. The standard survival-analysis entry point, fully
    relational."""
    e = load(spark, sf_dir, "events")
    s0 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    conv = (
        s0.join(p, (s0.user_id == p.pu) & (p.pts >= s0.t0), "left")
        .groupBy("user_id", "t0")
        .agg(F.min("pts").alias("tc"))
    )
    horizon = e.agg(F.max("ts").alias("hz"))
    obs = conv.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.when(
            F.col("tc").isNotNull(), F.datediff(F.col("tc"), F.col("t0"))
        ).otherwise(F.datediff(F.col("hz"), F.col("t0"))).alias("t"),
        F.col("tc").isNotNull().alias("converted"),
    )
    per_day = obs.groupBy("t").agg(
        F.sum(F.col("converted").cast("long")).alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_day.select(
        "t", "d", F.sum("leaving").over(w_desc).alias("n_at_risk")
    )
    f = F.round((F.col("n_at_risk") - F.col("d")).cast("double") / F.col("n_at_risk"), 10)
    factors = risk.select("t", "d", "n_at_risk", f.alias("f"))
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # LN argument guarded on BOTH engines: window aggregates evaluate
    # eagerly regardless of the outer CASE branch, and ln(0) is an error
    # in the oracle engine (NaN-poison in this one).
    safe_f = F.when(F.col("f") > 0, F.col("f")).otherwise(F.lit(1.0))
    surv = F.when(F.min("f").over(cum) == 0, F.lit(0.0)).otherwise(
        r4(F.exp(F.sum(F.log(safe_f)).over(cum)))
    )
    return (
        factors.withColumn("survival", surv)
        .where(F.col("d") > 0)
        .select("t", "d", "n_at_risk", "survival")
    )


@register(
    "q_seasonality_profile",
    oracle=f"""
    WITH cells AS (
      SELECT dayofweek(ts) + 1 AS dow, CAST(hour(ts) AS INT) AS hod, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_cells FROM cells)
    SELECT dow, hod, CAST(n AS BIGINT) AS n,
           {R4('n / (t.total * 1.0)')} AS share,
           {R4('n * n_cells / (t.total * 1.0)')} AS lift
    FROM cells CROSS JOIN tot t
    """,
    priority="P2",
    tags=("temporal", "seasonality", "profile"),
)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity profile with share and LIFT
    over the uniform baseline (lift 1 = flat; >1 = hot cell) — the
    seasonality fingerprint behind traffic forecasting, anomaly
    baselines, and maintenance-window placement. Day-of-week numbering
    pinned to the common Sunday=1 convention both engines share.

    Scale: one partial-agg pass into ≤168 cells; the lift normalizer
    is a 1-row broadcast. The profile is the input you feed the
    rolling-z anomaly detector to deseasonalize its baseline."""
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").cast("int").alias("hod")
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)
    # ^ total + output both read the cells — single fact pass
    tot = cells.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_cells"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hod",
        F.col("n").cast("bigint").alias("n"),
        r4(F.col("n") / (F.col("total") * 1.0)).alias("share"),
        r4(F.col("n") * F.col("n_cells") / (F.col("total") * 1.0)).alias("lift"),
    )


@register(
    "q_changepoint_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1
    ), base AS (
      SELECT {R('AVG(n)', 10)} AS mu FROM daily
    ), cs AS (
      SELECT day, CAST(n AS BIGINT) AS n,
             {R('SUM(n - b.mu) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)', 10)} AS cusum
      FROM daily CROSS JOIN base b
    ), peak AS (
      SELECT MAX(ABS(cusum)) AS peak_abs FROM cs
    )
    SELECT day, n, {R4('cusum')} AS cusum,
           (ABS(cusum) = p.peak_abs) AS is_changepoint
    FROM cs CROSS JOIN peak p
    """,
    priority="P2",
    tags=("temporal", "changepoint", "cusum"),
)
def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event-count series:
    cumulative sum of deviations from the global mean, with the
    maximum-|CUSUM| day flagged — the standard single-changepoint
    locator (the peak marks where the level shifted; a flat series
    random-walks near zero). Counts are exact integers; only the mean
    and the running sum carry r10 discipline, and the peak flag
    compares the SAME rounded values on both engines so the argmax
    cannot disagree.

    Scale: the fact table collapses to days in one pass; the mean is a
    1-row broadcast and the running window is over the days-sized
    series. Multi-changepoint extensions (binary segmentation) recurse
    on the flagged split — each level is this same cheap plan."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    base = daily.agg(F.round(F.avg("n"), 10).alias("mu"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cs = (
        daily.crossJoin(F.broadcast(base))
        .select(
            "day",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.sum(F.col("n") - F.col("mu")).over(w), 10).alias("cusum"),
        )
        .localCheckpoint(eager=False)  # peak + output both read it
    )
    peak = cs.agg(F.max(F.abs("cusum")).alias("peak_abs"))
    return cs.crossJoin(F.broadcast(peak)).select(
        "day",
        "n",
        r4(F.col("cusum")).alias("cusum"),
        (F.abs("cusum") == F.col("peak_abs")).alias("is_changepoint"),
    )


@register(
    "q_user_ltv_cohort",
    oracle=f"""
    WITH cohort AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS c0
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), purchases AS (
      SELECT user_id, date_trunc('day', ts) AS d, value
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), joined AS (
      SELECT c.c0, date_diff('day', c.c0, p.d) AS offset_days, p.value
      FROM cohort c JOIN purchases p ON c.user_id = p.user_id
      WHERE date_diff('day', c.c0, p.d) BETWEEN 0 AND 7
    ), daily AS (
      SELECT c0, offset_days, {R2('SUM(value)')} AS revenue
      FROM joined GROUP BY c0, offset_days
    )
    SELECT c0 AS cohort_day, offset_days,
           revenue,
           {R2('''SUM(revenue) OVER (PARTITION BY c0 ORDER BY offset_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')}
             AS cum_ltv
    FROM daily
    """,
    priority="P2",
    tags=("temporal", "cohort", "ltv"),
)
def q_user_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve — the revenue companion to `q_events_retention`'s
    activity counts: users cohorted by first-signup day, purchase value
    summed per day-offset 0..7 and accumulated into the running
    lifetime value per cohort — the curve LTV/CAC decisions read.

    Scale: cohorts are a per-user aggregate (one shuffle), purchases a
    filtered projection; the join is user-keyed (well-distributed), the
    offset cap bounds output to cohorts × 8 rows, and the cumulative
    window runs per cohort over ≤ 8 rows — bounded, never row grain."""
    e = load(spark, sf_dir, "events")
    cohort = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("c0"))
    )
    purchases = e.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("user_id", F.date_trunc("day", "ts").alias("d"), "value")
    off = F.datediff("d", "c0")
    daily = (
        cohort.join(purchases, "user_id")
        .where((off >= 0) & (off <= 7))
        .groupBy(F.col("c0"), off.alias("offset_days"))
        .agg(r2(F.sum("value")).alias("revenue"))
    )
    w = (
        Window.partitionBy("c0")
        .orderBy("offset_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        F.col("c0").alias("cohort_day"),
        "offset_days",
        "revenue",
        r2(F.sum("revenue").over(w)).alias("cum_ltv"),
    )


@register(
    "q_repeat_purchase_interval",
    oracle=f"""
    WITH p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), gaps AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)))
               / 86400000000.0 AS gap_days
      FROM p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_repeat_users,
           {R4('AVG(gap_days)')} AS mean_gap_days,
           {R4('quantile_cont(gap_days, 0.5)')} AS p50_gap_days,
           {R4('quantile_cont(gap_days, 0.9)')} AS p90_gap_days
    FROM gaps WHERE gap_days IS NOT NULL
    """,
    priority="P2",
    tags=("temporal", "cadence", "retention"),
)
def q_repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence summary: the distribution of days between a
    user's consecutive purchases (count, repeat-user count, mean, p50,
    p90) — the inter-purchase-interval statistic replenishment
    reminders, churn-risk windows ("2× median gap silent = at risk")
    and CLV models are parameterized from. Gaps in exact integer
    microseconds divided once at the end; summary values 4-dp-rounded.

    Scale: one shuffle on user_id for the lag window (per-user state is
    one row), then a global agg whose partials are five numbers per
    partition; the exact percentiles run over the gap multiset — swap
    for GK (`q_agg_approx_percentile`'s path) when gaps outgrow a sort,
    as flagged for every exact-percentile row."""
    e = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    gaps = e.select(
        "user_id", ((t_us - prev_us) / 86400000000.0).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.countDistinct("user_id").cast("bigint").alias("n_repeat_users"),
        r4(F.avg("gap_days")).alias("mean_gap_days"),
        r4(F.percentile("gap_days", F.lit(0.5))).alias("p50_gap_days"),
        r4(F.percentile("gap_days", F.lit(0.9))).alias("p90_gap_days"),
    )


_MKV_ITERS = 3


def _mkv_oracle_iteration(prev: str, k: int) -> str:
    """One unrolled power-iteration round: π_k = π_{k-1}·P on the
    r10-rounded transition matrix, each entry re-rounded at 10 dp
    (the `q_pagerank` determinism rule)."""
    return f"""
    pi{k} AS (
      SELECT st.state,
             {R("COALESCE(SUM(p.pi * tp.p), 0)", 10)} AS pi
      FROM states st
      LEFT JOIN tp ON tp.t = st.state
      LEFT JOIN {prev} p ON p.state = tp.s
      GROUP BY st.state
    )"""


_MKV_ORACLE = (
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type AS s, event_type AS t, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), tp AS (
      SELECT s, t, {R("CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY s)", 10)}
        AS p
      FROM pairs
    ), states AS (
      SELECT DISTINCT s AS state FROM tp
      UNION
      SELECT DISTINCT t FROM tp
    ), nn AS (SELECT COUNT(*) AS k FROM states),
    pi0 AS (
      SELECT state, {R("1.0 / nn.k", 10)} AS pi FROM states CROSS JOIN nn
    ),"""
    + ",".join(
        _mkv_oracle_iteration(f"pi{k - 1}" if k > 1 else "pi0", k)
        for k in range(1, _MKV_ITERS + 1)
    )
    + f"""
    SELECT state, pi FROM pi{_MKV_ITERS}
    """
)


@register(
    "q_markov_stationary",
    oracle=_MKV_ORACLE,
    priority="P2",
    tags=("events", "markov", "iterative"),
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary-distribution estimate of the event-type Markov chain:
    {_MKV_ITERS} rounds of the power iteration π ← π·P over the SAME
    row-normalized transition matrix as `q_markov_transitions` (same
    lag window, same grain) from a uniform start — where user behavior
    settles if the observed dynamics persist, the steady-state forecast
    read against the current type mix to spot regimes still in
    transient. States missing an outgoing row (none at shipped SFs —
    every type follows every type) would truncate sub-stochastically;
    the COALESCE keeps them at exact 0 rather than dropping rows.

    Determinism: matrix entries and every π component r10-rounded per
    round on both engines; the oracle unrolls the rounds as chained
    CTEs (`q_pagerank` device).

    Scale: the transition matrix is bounded by the TYPE domain
    (25 cells), so after one lag-window pass over events the whole
    iteration runs on broadcast-sized frames — the degenerate-easy end
    of the same Pregel shape `q_pagerank` runs on O(|V|) state.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("s"), F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ws = Window.partitionBy("s")
    tp = pairs.select(
        "s",
        "t",
        F.round(F.col("n").cast("double") / F.sum("n").over(ws), 10).alias(
            "p"
        ),
    ).localCheckpoint(eager=False)  # reused every round
    states = (
        tp.select(F.col("s").alias("state"))
        .union(tp.select(F.col("t").alias("state")))
        .distinct()
    ).localCheckpoint(eager=False)
    nn = states.agg(F.count(F.lit(1)).alias("k"))
    pi = states.crossJoin(F.broadcast(nn)).select(
        "state", F.round(F.lit(1.0) / F.col("k"), 10).alias("pi")
    )
    for _ in range(_MKV_ITERS):
        flow = (
            tp.join(pi, tp.s == pi.state)
            .groupBy(F.col("t").alias("state"))
            .agg(F.round(F.sum(F.col("pi") * F.col("p")), 10).alias("pi_new"))
        )
        pi = (
            states.join(flow, "state", "left")
            .select(
                "state",
                F.round(F.coalesce("pi_new", F.lit(0.0)), 10).alias("pi"),
            )
            .localCheckpoint(eager=False)
        )
    return pi


_ACF_MAX_LAG = 7


@register(
    "q_autocorrelation",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {R4('SUM(value)')} AS v
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(date_diff('day', b.day, a.day) AS BIGINT) AS lag_d,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {R4('CORR(a.v, b.v)')} AS acf
    FROM d a JOIN d b
      ON a.event_type = b.event_type
     AND date_diff('day', b.day, a.day) BETWEEN 1 AND {_ACF_MAX_LAG}
    GROUP BY 1, 2
    """,
    priority="P2",
    tags=("temporal", "timeseries", "corr"),
)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of each metric stream: Pearson
    correlation of the daily value-sum series against itself at lags
    1..{_ACF_MAX_LAG} days — the seasonality/persistence read beside
    `q_seasonality_profile`'s hour-of-week means and `q_ewma`'s level
    (a flat ACF says yesterday predicts nothing; a 7-day spike says
    weekly cycle). Lagged pairs come from a self-join of the DAILY
    grain on exact calendar distance, so every lag column shares one
    aggregation.

    Daily sums are r4-rounded at the grain (summation order never
    reaches the corr inputs); corr itself is r4-rounded output.

    Scale: the fact scan reduces map-side to the (type, day) grain —
    bounded by calendar span x stream count, independent of event
    cardinality — and is checkpointed once; the lag self-join and the
    (type, lag) corr run on that tiny frame. At 100 TB the only big
    stage is the first combine.
    """
    d = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(r4(F.sum("value")).alias("v"))
        .localCheckpoint(eager=False)  # both sides of the lag self-join
    )
    a, b = d.alias("a"), d.alias("b")
    lag_d = F.datediff(F.col("a.day"), F.col("b.day"))
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & lag_d.between(1, _ACF_MAX_LAG),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            lag_d.cast("bigint").alias("lag_d"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            r4(F.corr(F.col("a.v"), F.col("b.v"))).alias("acf"),
        )
    )


@register(
    "q_theil_sen",
    oracle=f"""
    WITH m AS (
      SELECT o_orderpriority,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
             CAST(SUM(CAST({R('(o_totalprice * 100)', 0)} AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), s AS (
      SELECT a.o_orderpriority,
             (b.cents - a.cents) / ((b.mi - a.mi) * 100.0) AS slope
      FROM m a JOIN m b
        ON a.o_orderpriority = b.o_orderpriority AND b.mi > a.mi
    ), med AS (
      SELECT o_orderpriority, {R4('quantile_cont(slope, 0.5)')} AS ts_slope
      FROM s GROUP BY 1
    )
    SELECT m.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           MAX(med.ts_slope) AS ts_slope,
           {R4('quantile_cont(m.cents / 100.0 - med.ts_slope * m.mi, 0.5)')}
             AS ts_intercept
    FROM m JOIN med ON m.o_orderpriority = med.o_orderpriority
    GROUP BY 1
    """,
    priority="P2",
    tags=("temporal", "timeseries", "robust"),
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per order-priority stream: the median of
    all pairwise slopes of the monthly-revenue series, plus the
    matching median-residual intercept — the outlier-immune answer to
    `q_grouped_ols`'s least-squares fit (one wild month moves OLS,
    not the pairwise-slope median; breakdown point 29%).

    Monthly revenue rides as EXACT integer cents (Spark-round per
    order, summed as BIGINT), so every slope is one identical double
    division on both engines; the median (engine-identical
    interpolation, `q_agg_percentile` precedent) is r4-rounded, and
    the intercept is the median residual against that already-rounded
    slope.

    Scale: the fact scan reduces to the (priority, month) grain —
    bounded by calendar span x group count — checkpointed once; the
    O(months^2) pair join (3.2k pairs/group at an 80-month span) and
    both medians run on that frame, cost independent of row count.
    """
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    m = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority", mi.alias("mi"), cents.alias("cents"))
        .groupBy("o_orderpriority", "mi")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
        .localCheckpoint(eager=False)  # pair join + intercept residuals
    )
    a, b = m.alias("a"), m.alias("b")
    slopes = a.join(
        b,
        (F.col("a.o_orderpriority") == F.col("b.o_orderpriority"))
        & (F.col("b.mi") > F.col("a.mi")),
    ).select(
        F.col("a.o_orderpriority").alias("o_orderpriority"),
        (
            (F.col("b.cents") - F.col("a.cents"))
            / ((F.col("b.mi") - F.col("a.mi")) * 100.0)
        ).alias("slope"),
    )
    med = slopes.groupBy("o_orderpriority").agg(
        r4(F.percentile("slope", F.lit(0.5))).alias("ts_slope")
    )
    return (
        m.join(med, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            F.max("ts_slope").alias("ts_slope"),
            r4(
                F.percentile(
                    F.col("cents") / 100.0 - F.col("ts_slope") * F.col("mi"),
                    F.lit(0.5),
                )
            ).alias("ts_intercept"),
        )
    )


_LTOB_DAILY_V4 = R(f"({R4('SUM(value)')} * 10000)", 0)


@register(
    "q_downsample_ltob",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_LTOB_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), bk AS (
      SELECT event_type, (d - 1) // 5 AS b,
             SUM(v4) * 1.0 / COUNT(*) AS mv,
             SUM(d) * 1.0 / COUNT(*) AS mx
      FROM daily GROUP BY 1, 2
    ), anch AS (
      SELECT c.event_type, c.b,
             COALESCE(l.mv, c.mv) AS lv, COALESCE(l.mx, c.mx) AS lx,
             COALESCE(r.mv, c.mv) AS rv, COALESCE(r.mx, c.mx) AS rx
      FROM bk c
      LEFT JOIN bk l ON l.event_type = c.event_type AND l.b = c.b - 1
      LEFT JOIN bk r ON r.event_type = c.event_type AND r.b = c.b + 1
    ), scored AS (
      SELECT d.event_type, a.b, d.d, d.v4,
             {R4('''ABS((a.lx - a.rx) * (d.v4 - a.rv)
                    - (a.lx - d.d) * (a.rv - a.lv))''')} AS area4
      FROM daily d JOIN anch a
        ON d.event_type = a.event_type AND (d.d - 1) // 5 = a.b
    )
    SELECT event_type, b AS bucket, d AS day, {R4('v4 / 10000.0')} AS v,
           area4
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type, b
                                   ORDER BY area4 DESC, d) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
    priority="P2",
    tags=("temporal", "timeseries", "downsample"),
)
def q_downsample_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-One-Bucket downsampling of each metric stream
    (Steinarsson 2013's LTOB, the dashboard-rendering reduction): per
    5-day bucket, keep the single day whose triangle against the
    NEIGHBOR-BUCKET mean anchors has the largest area — the point
    that preserves visual shape, where naive bucket-mean sampling
    flattens every spike. Edge buckets self-anchor on the missing
    side. Unlike sequential LTTB (each choice depends on the previous
    selected point), the mean-anchor variant is embarrassingly
    parallel — the distributed-safe form of the algorithm.

    Determinism: daily sums ride as exact integer ten-thousandths;
    bucket means and anchor coordinates are single divisions of exact
    integer sums, so every area is one identical double expression,
    r4-rounded before the (area DESC, day) selection.

    Scale: fact scan reduces map-side to the daily grain; bucket
    stats, the 3-way anchor join, and per-bucket argmax all run on
    calendar-bounded frames.
    """
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0)
            .cast("bigint")
            .alias("v4")
        )
    )
    bk = (
        daily.groupBy(
            "event_type", ((F.col("d") - 1) / 5).cast("bigint").alias("b")
        )
        .agg(
            (F.sum("v4") * 1.0 / F.count(F.lit(1))).alias("mv"),
            (F.sum("d") * 1.0 / F.count(F.lit(1))).alias("mx"),
        )
        .localCheckpoint(eager=False)  # centre + both neighbor reads
    )
    c = bk.alias("c")
    l = bk.select(
        F.col("event_type").alias("l_et"),
        (F.col("b") + 1).alias("l_b"),
        F.col("mv").alias("l_mv"),
        F.col("mx").alias("l_mx"),
    )
    r = bk.select(
        F.col("event_type").alias("r_et"),
        (F.col("b") - 1).alias("r_b"),
        F.col("mv").alias("r_mv"),
        F.col("mx").alias("r_mx"),
    )
    anch = (
        c.join(
            l,
            (F.col("c.event_type") == F.col("l_et"))
            & (F.col("c.b") == F.col("l_b")),
            "left",
        )
        .join(
            r,
            (F.col("c.event_type") == F.col("r_et"))
            & (F.col("c.b") == F.col("r_b")),
            "left",
        )
        .select(
            F.col("c.event_type").alias("event_type"),
            F.col("c.b").alias("b"),
            F.coalesce("l_mv", "c.mv").alias("lv"),
            F.coalesce("l_mx", "c.mx").alias("lx"),
            F.coalesce("r_mv", "c.mv").alias("rv"),
            F.coalesce("r_mx", "c.mx").alias("rx"),
        )
    )
    scored = (
        daily.withColumn("b", ((F.col("d") - 1) / 5).cast("bigint"))
        .join(anch, ["event_type", "b"])
        .select(
            "event_type",
            "b",
            "d",
            "v4",
            r4(
                F.abs(
                    (F.col("lx") - F.col("rx")) * (F.col("v4") - F.col("rv"))
                    - (F.col("lx") - F.col("d"))
                    * (F.col("rv") - F.col("lv"))
                )
            ).alias("area4"),
        )
    )
    w = Window.partitionBy("event_type", "b").orderBy(
        F.desc("area4"), F.asc("d")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("b").alias("bucket"),
            F.col("d").alias("day"),
            r4(F.col("v4") / 10000.0).alias("v"),
            "area4",
        )
    )


_SD_TREND_HALF = 3  # centered 7-day moving average


@register(
    "q_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_LTOB_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), tr AS (
      SELECT event_type, d, v4,
             CAST(SUM(v4) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN {_SD_TREND_HALF} PRECEDING
                                AND {_SD_TREND_HALF} FOLLOWING) AS BIGINT)
               AS sum7,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN {_SD_TREND_HALF} PRECEDING
                            AND {_SD_TREND_HALF} FOLLOWING) AS n7
      FROM daily
    ), det AS (
      SELECT event_type, (d - 1) % 7 AS dow,
             7 * v4 - sum7 AS det7
      FROM tr WHERE n7 = 7
    )
    SELECT event_type, CAST(dow AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {R4('CAST(SUM(det7) AS BIGINT) / (COUNT(*) * 7.0 * 10000.0)')}
             AS seasonal,
           {R4('MIN(det7) / 70000.0')} AS det_min,
           {R4('MAX(det7) / 70000.0')} AS det_max
    FROM det GROUP BY 1, 2
    """,
    priority="P2",
    tags=("temporal", "timeseries", "seasonality"),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (STL-lite) of each metric
    stream: trend = centered 7-day moving average of the daily series,
    seasonal index = mean detrended value per day-of-week (January
    2024 opens on a Monday, so (day-1) mod 7 IS the weekday) — the
    classical decomposition read beside `q_seasonality_profile`'s raw
    hour-of-week means: the detrending step is what separates "weekly
    cycle" from "the whole month drifted". Only full 7-day windows
    enter (edge days have no centered trend — the standard
    moving-average decomposition boundary rule).

    Exactness: daily sums ride as integer ten-thousandths; the
    detrended value rides as 7·v − Σ7 (INTEGER units of 7×10⁻⁴), so
    every per-dow mean is one exact-integer division — no float
    summation anywhere before the final r4.

    Scale: fact scan reduces map-side to the daily grain; the trend
    window and dow means run on calendar-bounded frames partitioned
    by stream.
    """
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0).cast("bigint").alias("v4")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-_SD_TREND_HALF, _SD_TREND_HALF)
    )
    tr = daily.select(
        "event_type",
        "d",
        "v4",
        F.sum("v4").over(w).cast("bigint").alias("sum7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    det = tr.where(F.col("n7") == 7).select(
        "event_type",
        ((F.col("d") - 1) % 7).cast("bigint").alias("dow"),
        (7 * F.col("v4") - F.col("sum7")).alias("det7"),
    )
    return det.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        r4(
            F.sum("det7").cast("bigint")
            / (F.count(F.lit(1)) * 7.0 * 10000.0)
        ).alias("seasonal"),
        r4(F.min("det7") / 70000.0).alias("det_min"),
        r4(F.max("det7") / 70000.0).alias("det_max"),
    )


# Expanding-window folds: train through December of the boundary year,
# test the following six months. Month index = year*12 + month.
_BT_FOLDS = ((1, 1997 * 12 + 12), (2, 1998 * 12 + 12), (3, 1999 * 12 + 12))
_BT_TEST_MONTHS = 6


@register(
    "q_backtest_folds",
    oracle=f"""
    WITH m AS (
      SELECT o_orderpriority,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
             CAST(SUM(CAST({R('(o_totalprice * 100)', 0)} AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), folds AS (
      SELECT * FROM (VALUES {', '.join(f'({f}, {b})' for f, b in _BT_FOLDS)})
        AS t(fold, train_end)
    ), naive AS (
      SELECT f.fold, f.train_end, m.o_orderpriority, m.cents AS fc_cents
      FROM folds f JOIN m ON m.mi = f.train_end
    ), test AS (
      SELECT f.fold, m.o_orderpriority, m.mi, m.cents
      FROM folds f JOIN m
        ON m.mi > f.train_end AND m.mi <= f.train_end + {_BT_TEST_MONTHS}
    ), scored AS (
      SELECT t.fold, t.o_orderpriority, 'naive' AS model,
             ABS(t.cents - n.fc_cents) AS abs_err, t.cents AS actual
      FROM test t JOIN naive n
        ON t.fold = n.fold AND t.o_orderpriority = n.o_orderpriority
      UNION ALL
      SELECT t.fold, t.o_orderpriority, 'seasonal_naive',
             ABS(t.cents - p.cents), t.cents
      FROM test t JOIN m p
        ON p.o_orderpriority = t.o_orderpriority AND p.mi = t.mi - 12
    )
    SELECT fold, o_orderpriority, model,
           CAST(COUNT(*) AS BIGINT) AS n_test_months,
           {R4('CAST(SUM(abs_err) AS BIGINT) * 1.0'
               ' / CAST(SUM(actual) AS BIGINT)')} AS wape
    FROM scored GROUP BY 1, 2, 3
    """,
    priority="P2",
    tags=("temporal", "timeseries", "evaluation"),
)
def q_backtest_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window backtest — time-series cross-validation, the
    evaluation harness every forecast ships under (train through each
    fold boundary, score the next {_BT_TEST_MONTHS} months; folds only
    ever EXPAND, never shuffle — random K-fold leaks the future):
    naive (last train month carried forward) vs seasonal-naive (same
    month last year) on monthly revenue per priority stream, scored
    by WAPE. WAPE rather than MAPE because it is a ratio of two exact
    integer-cent sums — scale-robust AND float-order-free.

    Scale: one pass to the (priority, month) grain; folds are a
    3-row literal broadcast against it; every join is on the bounded
    calendar grain.
    """
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    m = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority", mi.alias("mi"), cents.alias("cents"))
        .groupBy("o_orderpriority", "mi")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
        .localCheckpoint(eager=False)  # naive + test + lag-12 reads
    )
    folds = spark.createDataFrame(
        list(_BT_FOLDS), "fold bigint, train_end bigint"
    )
    naive = (
        F.broadcast(folds)
        .join(m, m.mi == folds.train_end)
        .select("fold", "train_end", "o_orderpriority",
                F.col("cents").alias("fc_cents"))
    )
    test = (
        F.broadcast(folds)
        .join(
            m,
            (m.mi > folds.train_end)
            & (m.mi <= folds.train_end + _BT_TEST_MONTHS),
        )
        .select("fold", "o_orderpriority", "mi", "cents")
    )
    s_naive = test.join(
        naive.select("fold", "o_orderpriority", "fc_cents"),
        ["fold", "o_orderpriority"],
    ).select(
        "fold",
        "o_orderpriority",
        F.lit("naive").alias("model"),
        F.abs(F.col("cents") - F.col("fc_cents")).alias("abs_err"),
        F.col("cents").alias("actual"),
    )
    prev = m.select(
        "o_orderpriority",
        (F.col("mi") + 12).alias("mi"),
        F.col("cents").alias("prev_cents"),
    )
    s_seas = test.join(prev, ["o_orderpriority", "mi"]).select(
        "fold",
        "o_orderpriority",
        F.lit("seasonal_naive").alias("model"),
        F.abs(F.col("cents") - F.col("prev_cents")).alias("abs_err"),
        F.col("cents").alias("actual"),
    )
    return (
        s_naive.unionByName(s_seas)
        .groupBy("fold", "o_orderpriority", "model")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test_months"),
            r4(
                F.sum("abs_err").cast("bigint")
                * 1.0
                / F.sum("actual").cast("bigint")
            ).alias("wape"),
        )
    )


_ACF_RHO_SQL = f"""
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {R4('SUM(value)')} AS v
      FROM events GROUP BY 1, 2
    ), rho AS (
      SELECT a.event_type,
             CAST(date_diff('day', b.day, a.day) AS BIGINT) AS lag_d,
             {R4('CORR(a.v, b.v)')} AS acf
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type
       AND date_diff('day', b.day, a.day) BETWEEN 1 AND 3
      GROUP BY 1, 2
    )
"""


@register(
    "q_pacf",
    oracle=f"""
    WITH {_ACF_RHO_SQL},
    p AS (
      SELECT event_type,
             MAX(CASE WHEN lag_d = 1 THEN acf END) AS r1,
             MAX(CASE WHEN lag_d = 2 THEN acf END) AS r2,
             MAX(CASE WHEN lag_d = 3 THEN acf END) AS r3
      FROM rho GROUP BY 1
    ), d AS (
      SELECT event_type, r1, r2, r3,
             (r2 - r1 * r1) / (1 - r1 * r1) AS p2
      FROM p
    )
    SELECT event_type, r1, r2, r3,
           {R4('r1')} AS pacf1,
           {R4('p2')} AS pacf2,
           {R4('''(r3 - (r1 - p2 * r1) * r2 - p2 * r1)
                 / (1 - (r1 - p2 * r1) * r1 - p2 * r2)''')} AS pacf3
    FROM d
    """,
    priority="P2",
    tags=("temporal", "timeseries", "corr"),
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of each metric stream at lags 1..3 via
    the Durbin-Levinson closed forms — the AR-order selection read
    `q_autocorrelation` alone can't give (an AR(1) process has
    exponentially decaying ACF at ALL lags but PACF cuts to zero
    after lag 1 — PACF is what separates 'long memory' from 'one-step
    memory propagated'): φ11 = ρ1, φ22 = (ρ2−ρ1²)/(1−ρ1²), and φ33
    from the level-2 recursion with φ21 = φ11 − φ22·φ11. Shares the
    ACF grain and estimator (`_ACF_RHO_SQL`) so the two rows always
    audit the same ρ values.

    Each ρ is r4-rounded at the corr (engine-identical); every φ is
    then one fixed rational formula over those identical doubles,
    r4-rounded at output.

    Scale: identical to `q_autocorrelation` — one map-side reduction
    to the calendar-bounded daily grain, lag self-join, 5-row
    recursion math free at any size.
    """
    d = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(r4(F.sum("value")).alias("v"))
        .localCheckpoint(eager=False)  # both sides of the lag self-join
    )
    a, b = d.alias("a"), d.alias("b")
    lag_d = F.datediff(F.col("a.day"), F.col("b.day"))
    rho = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & lag_d.between(1, 3),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            lag_d.cast("bigint").alias("lag_d"),
        )
        .agg(r4(F.corr(F.col("a.v"), F.col("b.v"))).alias("acf"))
    )
    p = rho.groupBy("event_type").agg(
        F.max(F.when(F.col("lag_d") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag_d") == 2, F.col("acf"))).alias("r2"),
        F.max(F.when(F.col("lag_d") == 3, F.col("acf"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p2 = (r2 - r1 * r1) / (1 - r1 * r1)
    d2 = p.select("event_type", "r1", "r2", "r3", p2.alias("p2"))
    p2c = F.col("p2")
    p21 = r1 - p2c * r1
    pacf3 = (r3 - p21 * r2 - p2c * r1) / (1 - p21 * r1 - p2c * r2)
    return d2.select(
        "event_type",
        "r1",
        "r2",
        "r3",
        r4(r1).alias("pacf1"),
        r4(p2c).alias("pacf2"),
        r4(pacf3).alias("pacf3"),
    )


_CCF_PAIRS = (("click", "purchase"), ("view", "click"), ("signup", "purchase"))
_CCF_MAX_LAG = 5


@register(
    "q_ccf",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {R4('SUM(value)')} AS v
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT * FROM (VALUES {', '.join(f"('{a}', '{b}')" for a, b in _CCF_PAIRS)})
        AS t(sa, sb)
    )
    SELECT p.sa, p.sb,
           CAST(date_diff('day', a.day, b.day) AS BIGINT) AS lag_d,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {R4('CORR(a.v, b.v)')} AS ccf
    FROM pairs p
    JOIN daily a ON a.event_type = p.sa
    JOIN daily b ON b.event_type = p.sb
     AND date_diff('day', a.day, b.day) BETWEEN -{_CCF_MAX_LAG} AND {_CCF_MAX_LAG}
    GROUP BY 1, 2, 3
    """,
    priority="P2",
    tags=("temporal", "timeseries", "corr"),
)
def q_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between metric-stream pairs at lags
    −{_CCF_MAX_LAG}..+{_CCF_MAX_LAG} days (positive lag = the first
    stream LEADS): the lead-lag discovery read — does click volume
    today predict purchase volume in k days? — that neither ACF
    (within one stream) nor `q_rolling_corr` (zero lag only) covers.
    Pair list is a 3-row literal; the correlation estimator and daily
    grain are the `q_autocorrelation` ones.

    Daily sums r4 at the grain; each ccf r4 at the corr.

    Scale: one map-side reduction to the daily grain, then a
    literal-pair × calendar-bounded join — free at any corpus size.
    """
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(r4(F.sum("value")).alias("v"))
        .localCheckpoint(eager=False)  # both stream sides
    )
    pairs = spark.createDataFrame(list(_CCF_PAIRS), "sa string, sb string")
    a = daily.select(
        F.col("event_type").alias("sa"),
        F.col("day").alias("da"),
        F.col("v").alias("va"),
    )
    b = daily.select(
        F.col("event_type").alias("sb"),
        F.col("day").alias("db"),
        F.col("v").alias("vb"),
    )
    lag_d = F.datediff(F.col("db"), F.col("da"))
    return (
        F.broadcast(pairs)
        .join(a, "sa")
        .join(b, "sb")
        .where(lag_d.between(-_CCF_MAX_LAG, _CCF_MAX_LAG))
        .groupBy("sa", "sb", lag_d.cast("bigint").alias("lag_d"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            r4(F.corr("va", "vb")).alias("ccf"),
        )
    )


@register(
    "q_pit_features",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), feat AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_prior,
             CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT)
               AS spend_prior_cents,
             LAG(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_date
      FROM o
      WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
      )
    )
    SELECT o_orderkey, n_prior, spend_prior_cents,
           CAST(date_diff('day', CAST(prev_date AS DATE),
                          CAST(o_orderdate AS DATE)) AS BIGINT)
             AS days_since_prev,
           CASE WHEN n_prior > 0
                THEN {R4('spend_prior_cents / (n_prior * 100.0)')}
           END AS avg_prior_value
    FROM feat
    """,
    priority="P2",
    tags=("temporal", "features", "asof"),
)
def q_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature assembly — the feature-store
    read that builds a training table WITHOUT future leakage: for
    every order, the customer's trailing history STRICTLY BEFORE it
    (prior-order count, prior spend, days since previous order,
    average prior order value). The leakage guard is the frame
    bound: ROWS UNBOUNDED PRECEDING .. 1 PRECEDING under the total
    order (o_orderdate, o_orderkey) — the current order never sees
    itself, and the same-day tie rule (earlier keys count as prior)
    is explicit and mirrored in both engines. This is the
    label-vs-feature cutoff discipline `q_split_temporal` applies at
    the dataset grain, applied per-entity at the row grain; the
    as-of joins (`q_join_asof*`) are the two-table version.

    Spend rides as exact integer cents; the only double is the final
    average (one division under r4, null for first orders).

    Scale: one shuffle on o_custkey, then a single sequential pass
    per customer partition — no self-join, no global window; at
    100 TB this is the canonical bounded-partition window (customer
    histories are small; a hot entity would take the banded device).
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wl = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    feat = o.select(
        "o_orderkey",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_prior"),
        F.coalesce(F.sum("cents").over(w), F.lit(0))
        .cast("bigint")
        .alias("spend_prior_cents"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(wl)
        )
        .cast("bigint")
        .alias("days_since_prev"),
    )
    return feat.select(
        "o_orderkey",
        "n_prior",
        "spend_prior_cents",
        "days_since_prev",
        F.when(
            F.col("n_prior") > 0,
            r4(F.col("spend_prior_cents") / (F.col("n_prior") * 100.0)),
        ).alias("avg_prior_value"),
    )


_ALLEN_RELS = [
    "before", "meets", "overlaps", "starts", "during", "finishes",
    "equals",
    "before_inv", "meets_inv", "overlaps_inv", "starts_inv",
    "during_inv", "finishes_inv",
]
_ALLEN_CASE_SQL = """CASE
      WHEN a_e < b_s THEN 'before'
      WHEN a_e = b_s THEN 'meets'
      WHEN a_s < b_s AND a_e < b_e THEN 'overlaps'
      WHEN a_s = b_s AND a_e < b_e THEN 'starts'
      WHEN a_s > b_s AND a_e < b_e THEN 'during'
      WHEN a_s > b_s AND a_e = b_e THEN 'finishes'
      WHEN a_s = b_s AND a_e = b_e THEN 'equals'
      WHEN b_e < a_s THEN 'before_inv'
      WHEN b_e = a_s THEN 'meets_inv'
      WHEN b_s < a_s AND b_e < a_e THEN 'overlaps_inv'
      WHEN b_s = a_s AND b_e < a_e THEN 'starts_inv'
      WHEN b_s > a_s AND b_e < a_e THEN 'during_inv'
      ELSE 'finishes_inv'
    END"""
_ALLEN_RELS_SQL = ", ".join(f"('{r}')" for r in _ALLEN_RELS)


@register(
    "q_allen_relations",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_type, MIN(ts) AS s, MAX(ts) AS e
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), a AS (
      SELECT user_id, s, e FROM iv WHERE event_type = 'click'
    ), b AS (
      SELECT user_id, s, e FROM iv WHERE event_type = 'purchase'
    ), pairs AS (
      SELECT 'organic' AS variant, a.s AS a_s, a.e AS a_e,
             b.s AS b_s, b.e AS b_e
      FROM a JOIN b ON a.user_id = b.user_id
      UNION ALL
      SELECT 'shift40', a.s, a.e,
             b.s + INTERVAL 40 DAY, b.e + INTERVAL 40 DAY
      FROM a JOIN b ON a.user_id = b.user_id
      UNION ALL
      SELECT 'self', s, e, s, e FROM a
    ), rels AS (
      SELECT variant, {_ALLEN_CASE_SQL} AS rel FROM pairs
    ), spine AS (
      SELECT v.variant, r.rel
      FROM (VALUES ('organic'), ('shift40'), ('self')) v(variant)
      CROSS JOIN (VALUES {_ALLEN_RELS_SQL}) r(rel)
    )
    SELECT s.variant, s.rel,
           CAST(COALESCE(COUNT(rels.rel), 0) AS BIGINT) AS n_pairs
    FROM spine s
    LEFT JOIN rels ON rels.variant = s.variant AND rels.rel = s.rel
    GROUP BY 1, 2
    """,
    priority="P2",
    tags=("temporal", "interval", "allen"),
)
def q_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra profile (Allen 1983) between each
    user's click activity span and purchase activity span: every
    pair classified into one of the 13 mutually-exclusive temporal
    relations (before/meets/overlaps/starts/during/finishes/equals
    + inverses), reported on the full 13-relation dense spine
    (house rule — holes are signal). `q_join_interval` asks "do
    intervals intersect"; this asks HOW they relate, the read
    behind cause-precedes-effect checks (a purchase span strictly
    `before_inv` its click span would be an attribution bug).
    The 30-day fixture makes organic spans overlap-heavy, so two
    planted variants keep the sparse branches live at every SF:
    'shift40' pushes purchase spans past the window (all 'before')
    and 'self' pairs each span with itself (all 'equals').

    The classifier is a single CASE over four exact
    timestamp-endpoint comparisons — order matters and is identical
    in both engines; no floats anywhere.

    Scale: intervals come from one pass to the (user, type) grain
    (min/max, map-side combined); the pair join is per-user 1×1,
    never a time-grain blowup; output is the fixed 39-row grid.
    """
    iv = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id", "event_type")
        .agg(
            F.min("ts").alias("s"),
            F.max("ts").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") >= 2)
        .localCheckpoint(eager=False)  # click + purchase legs, one scan
    )
    a = iv.where(F.col("event_type") == "click").select(
        "user_id", F.col("s").alias("a_s"), F.col("e").alias("a_e")
    )
    b = iv.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("s").alias("b_s"), F.col("e").alias("b_e")
    )
    ab = a.join(b, "user_id")
    d40 = F.expr("INTERVAL 40 DAYS")
    pairs = (
        ab.select(
            F.lit("organic").alias("variant"), "a_s", "a_e", "b_s", "b_e"
        )
        .unionByName(
            ab.select(
                F.lit("shift40").alias("variant"),
                "a_s",
                "a_e",
                (F.col("b_s") + d40).alias("b_s"),
                (F.col("b_e") + d40).alias("b_e"),
            )
        )
        .unionByName(
            a.select(
                F.lit("self").alias("variant"),
                "a_s",
                "a_e",
                F.col("a_s").alias("b_s"),
                F.col("a_e").alias("b_e"),
            )
        )
    )
    rel = F.expr(_ALLEN_CASE_SQL)
    rels = pairs.select("variant", rel.alias("rel"))
    spine = spark.createDataFrame(
        [(v, r) for v in ("organic", "shift40", "self") for r in _ALLEN_RELS],
        "variant string, rel string",
    )
    hits = rels.select(
        F.col("variant").alias("v2"), F.col("rel").alias("hit")
    )
    return (
        spine.join(
            hits,
            (F.col("variant") == F.col("v2")) & (F.col("rel") == F.col("hit")),
            "left",
        )
        .groupBy("variant", "rel")
        .agg(F.count("hit").cast("bigint").alias("n_pairs"))
    )


@register(
    "q_dispersion_index",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), pool AS (
      SELECT event_type, c FROM c
      UNION ALL
      SELECT 'zz-burst', CASE WHEN DAY(d) % 7 = 0 THEN c * 5 ELSE c END
      FROM c WHERE event_type = 'click'
    ), m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM pool GROUP BY 1
    )
    SELECT event_type, n_days, s AS n_events,
           {R4('s / (n_days * 1.0)')} AS mean_daily,
           {R4('''CAST(n_days * s2 - s * s AS DOUBLE)
                 / ((n_days - 1.0) * s)''')} AS dispersion,
           {R4('''CAST(n_days * s2 - s * s AS DOUBLE)
                 / ((n_days - 1.0) * s)''')} > 2.5 AS overdispersed
    FROM m
    """,
    priority="P2",
    tags=("temporal", "dispersion", "anomaly"),
)
def q_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count dispersion index (variance-to-mean ratio, the
    negative-binomial overdispersion diagnostic) per event type —
    the TEMPORAL burstiness read beside `q_text_burstiness`'s
    per-term document VMR: D ≈ 1 says Poisson-compatible arrivals
    (rate-based capacity models hold), D ≫ 1 says bursty traffic
    (autoscaling and anomaly thresholds need the NB tail). Fixture
    arrivals are uniform (organic D ∈ [0.6, 1.8] across SFs), so a
    planted 'zz-burst' stream — click counts with every 7th
    calendar day amplified ×5 — keeps the overdispersed verdict
    live at every SF; the threshold (2.5, applied to the r4-rounded
    D) clears the organic range with margin.

    D = (n·Σc² − (Σc)²)/((n−1)·Σc) is a ratio of exact BIGINT
    moments from the (type, day) count grain — one double division
    under r4, threshold after rounding.

    Scale: one pass to the (type, day) grain (map-side combined,
    the grain is bounded by types × calendar, not rows), planted
    variant derived from that grain (checkpointed — no second
    fact scan), then 1-row-per-type moments.
    """
    c = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # organic + burst legs, one scan
    )
    burst = c.where(F.col("event_type") == "click").select(
        F.lit("zz-burst").alias("event_type"),
        F.when(F.dayofmonth("d") % 7 == 0, F.col("c") * 5)
        .otherwise(F.col("c"))
        .alias("c"),
    )
    pool = c.select("event_type", "c").unionByName(burst)
    m = pool.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(d38("c") * F.col("c")).alias("s2"),
    )
    disp = r4(
        (F.col("n_days") * F.col("s2") - d38("s") * F.col("s")).cast(
            "double"
        )
        / ((F.col("n_days") - 1.0) * F.col("s"))
    )
    return m.select(
        "event_type",
        "n_days",
        F.col("s").alias("n_events"),
        r4(F.col("s") / (F.col("n_days") * 1.0)).alias("mean_daily"),
        disp.alias("dispersion"),
        (disp > 2.5).alias("overdispersed"),
    )


@register(
    "q_percentile_bands_daily",
    oracle=f"""
    WITH e AS (
      SELECT CAST(ts AS DATE) AS d, value FROM events
    )
    SELECT CAST(d AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {R4('quantile_cont(value, 0.1)')} AS p10,
           {R4('quantile_cont(value, 0.5)')} AS p50,
           {R4('quantile_cont(value, 0.9)')} AS p90
    FROM e GROUP BY 1
    """,
    priority="P2",
    tags=("temporal", "percentile", "bands"),
)
def q_percentile_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily quantile bands of the event-value distribution — the
    p10/p50/p90 ribbon every operations dashboard draws, and the
    shape-aware companion to `q_anomaly_rolling_z`'s mean±σ: a
    drifting p90 with a stable median is a tail regression that
    mean-based monitors miss entirely. Exact interpolated
    percentiles per calendar day (Spark `percentile` ≡ DuckDB
    `quantile_cont`, the `q_agg_percentile` parity rule), r4 at
    the boundary.

    Scale: one shuffle on the bounded day grain; the exact per-day
    sort is bounded by the day's row count — at 100 TB swap in
    `percentile_approx` (GK sketch, partial+final mergeable) per
    `q_agg_approx_percentile`, with the rank-error bound documented
    there; the day grain and plan shape stay identical.
    """
    e = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "value"
    )
    return e.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        r4(F.percentile("value", F.lit(0.1))).alias("p10"),
        r4(F.percentile("value", F.lit(0.5))).alias("p50"),
        r4(F.percentile("value", F.lit(0.9))).alias("p90"),
    ).select(
        F.col("d").cast("timestamp").alias("day"),
        "n_events",
        "p10",
        "p50",
        "p90",
    )


_MARKOV_EVAL_SPLIT = "2024-01-16 00:00:00"  # train/test boundary (midpoint)


@register(
    "q_markov_prediction_eval",
    oracle=f"""
    WITH base AS (
      SELECT user_id, ts, event_id, event_type FROM events
    ), pool AS (
      SELECT 'organic' AS variant, user_id, ts, event_id, event_type
      FROM base
      UNION ALL
      SELECT 'zz-cycle', user_id, ts, event_id,
             ['click','error','purchase','signup','view']
               [1 + DAY(CAST(ts AS DATE)) % 5]
      FROM base
    ), seq AS (
      SELECT variant, event_type AS b, ts,
             LAG(event_type) OVER (
               PARTITION BY variant, user_id ORDER BY ts, event_id) AS a
      FROM pool
    ), tr AS (
      SELECT variant, a, b, ts FROM seq WHERE a IS NOT NULL
    ), train AS (
      SELECT variant, a, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM tr WHERE ts < TIMESTAMP '{_MARKOV_EVAL_SPLIT}'
      GROUP BY 1, 2, 3
    ), pred AS (
      SELECT variant, a, b AS p FROM (
        SELECT variant, a, b, ROW_NUMBER() OVER (
          PARTITION BY variant, a ORDER BY c DESC, b) AS rn
        FROM train
      ) WHERE rn = 1
    )
    SELECT tr.variant, tr.a AS prior_state, pred.p AS predicted_next,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN tr.b = pred.p THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           {R4('''SUM(CASE WHEN tr.b = pred.p THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*)''')} AS accuracy
    FROM tr
    JOIN pred ON pred.variant = tr.variant AND pred.a = tr.a
    WHERE tr.ts >= TIMESTAMP '{_MARKOV_EVAL_SPLIT}'
    GROUP BY 1, 2, 3
    """,
    priority="P2",
    tags=("temporal", "markov", "eval"),
)
def q_markov_prediction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-time evaluation of a first-order Markov next-event
    predictor: train transition counts on the pre-split half
    (`q_markov_transitions`' grain, same midpoint boundary as
    `q_diff_in_diff`), predict argmax-next per prior state
    (deterministic tie-break: count DESC, state name), score top-1
    accuracy on the post-split half — the train/score/eval loop
    every sequence model goes through, run entirely in the engine.
    Fixture transitions are iid (organic accuracy ≈ 1/5 = chance —
    itself the honest negative read), so a planted 'zz-cycle'
    variant re-labels events by calendar day (type = day mod 5):
    within-day self-transitions dominate, the model learns them,
    and planted accuracy is a multiple of chance — both regimes
    live at every SF, law-pinned.

    Counts are exact; accuracy is one division under r4.

    Scale: sequences are per-(variant, user) partitioned windows
    (entity-bounded); the trained model is a (variant, state) →
    prediction frame of ≤ 2·states rows — broadcast onto the test
    transitions; one events scan feeds both halves via the split
    filter on the transition grain.
    """
    base = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    cyc = F.element_at(
        F.array(*[F.lit(t) for t in ["click", "error", "purchase", "signup", "view"]]),
        (F.dayofmonth(F.col("ts").cast("date")) % 5 + 1).cast("int"),
    )
    pool = base.select(
        F.lit("organic").alias("variant"), "user_id", "ts", "event_id", "event_type"
    ).unionByName(
        base.select(
            F.lit("zz-cycle").alias("variant"),
            "user_id",
            "ts",
            "event_id",
            cyc.alias("event_type"),
        )
    )
    w = Window.partitionBy("variant", "user_id").orderBy("ts", "event_id")
    tr = (
        pool.select(
            "variant",
            F.col("event_type").alias("b"),
            "ts",
            F.lag("event_type").over(w).alias("a"),
        )
        .where(F.col("a").isNotNull())
        .localCheckpoint(eager=False)  # train + test halves, one scan
    )
    split = F.lit(_MARKOV_EVAL_SPLIT).cast("timestamp")
    train = (
        tr.where(F.col("ts") < split)
        .groupBy("variant", "a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wp = Window.partitionBy("variant", "a").orderBy(F.col("c").desc(), "b")
    pred = (
        train.select("variant", "a", F.col("b").alias("p"),
                     F.row_number().over(wp).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    test = tr.where(F.col("ts") >= split)
    hit = F.sum(F.when(F.col("b") == F.col("p"), 1).otherwise(0))
    return (
        test.join(F.broadcast(pred), ["variant", "a"])
        .groupBy(
            "variant",
            F.col("a").alias("prior_state"),
            F.col("p").alias("predicted_next"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            hit.cast("bigint").alias("n_correct"),
            r4(hit * 1.0 / F.count(F.lit(1))).alias("accuracy"),
        )
    )


@register(
    "q_decayed_engagement",
    oracle=f"""
    WITH anchor AS (
      SELECT MAX(ts) AS a FROM events
    ), terms AS (
      SELECT user_id,
             CAST(ROUND({R4('''value * POWER(2.0,
               -((epoch_us(anchor.a) - epoch_us(ts)) / 86400000000.0) / 7.0
             )''')} * 10000) AS BIGINT) AS t_q,
             CAST(ROUND(value * 100) AS BIGINT) AS v_cents
      FROM events CROSS JOIN anchor
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(t_q) AS BIGINT) AS score_q,
           SUM(t_q) / 10000.0 AS score,
           CAST(SUM(v_cents) AS BIGINT) AS raw_cents
    FROM terms GROUP BY 1
    """,
    priority="P2",
    tags=("temporal", "decay", "engagement"),
)
def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay engagement score per user — the
    recency-weighted lifetime value every ranking/retention system
    keeps: each event contributes value · 2^(−age/7d) with age
    measured from the corpus watermark (max ts — data-derived, so
    the score is reproducible from the table alone), i.e. a 7-day
    half-life. `q_ewma` smooths a SERIES step-by-step; this scores
    an ENTITY as-of-now in one pass — the difference between a
    chart and a feature. Raw (undecayed) cents ride along so decay
    shrinkage is auditable per user.

    Each decay term is r4-rounded then carried as exact integer
    ten-thousandths (sums are order-exact BIGINT; score = q/10⁴ is
    the 4-dp identity); the half-life exponent is a deterministic
    µs-exact age over a broadcast 1-row anchor.

    Scale: one pass, partial+final per-user aggregate; the anchor
    is a 1-row broadcast. Incremental refresh multiplies yesterday's
    score by the constant 2^(−1/7) and adds the new day — the
    standard decayed-counter trick; documented, not needed at the
    batch grain.
    """
    e = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .localCheckpoint(eager=False)  # anchor + decay terms, one scan
    )
    anchor = e.agg(F.max("ts").alias("a"))
    age_days = (
        F.unix_micros(F.col("a").cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    ) / 86400000000.0
    t_q = (
        F.round(r4(F.col("value") * F.pow(F.lit(2.0), -age_days / 7.0)) * 10000, 0)
        .cast("bigint")
        .alias("t_q")
    )
    terms = e.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        t_q,
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_cents"),
    )
    return terms.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("t_q").cast("bigint").alias("score_q"),
        (F.sum("t_q") / 10000.0).alias("score"),
        F.sum("v_cents").cast("bigint").alias("raw_cents"),
    )


@register(
    "q_scd2_lookup",
    oracle="""
    WITH dim AS (
      SELECT user_id, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS version
      FROM events WHERE event_type = 'signup'
    ), fact AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.ts AS purchase_ts,
           CAST(d.version AS BIGINT) AS version,
           d.valid_from,
           d.version IS NULL AS pre_history
    FROM fact f
    LEFT JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
    priority="P2",
    tags=("temporal", "scd2", "lookup"),
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dated dimension lookup — the consumption side of
    `q_scd2_build`: each purchase fact joins the signup-version
    dimension row VALID AT its timestamp ([valid_from, valid_to)
    half-open intervals, the warehouse effective-dating rule), LEFT
    so pre-history facts (purchases before the user's first signup
    version) survive with a NULL version and an explicit
    pre_history flag — the correctness trap this operator exists to
    expose, since an INNER effective-date join silently drops those
    facts. The as-of twins (`q_join_asof*`) return nearest VALUES;
    this returns the versioned dimension ROW, which is what SCD2
    consumers join for.

    Intervals partition each user's timeline (build and lookup
    share the (ts, event_id) total order), so at most one version
    matches — exact timestamp comparisons, no floats.

    Scale: the dimension is the signup subset at the user grain
    (versions per user are bounded); the lookup is an equi-join on
    user_id with a residual interval predicate — per-user version
    lists stay small, so no time-grain blowup; one events scan
    feeds both legs via a checkpointed projection.
    """
    e = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("signup", "purchase"))
        .select("event_id", "user_id", "ts", "event_type")
        .localCheckpoint(eager=False)  # dim + fact legs, one scan
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = e.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )
    fact = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    cond = (
        (dim["user_id"] == fact["user_id"])
        & (F.col("valid_from") <= F.col("purchase_ts"))
        & (F.col("valid_to").isNull() | (F.col("purchase_ts") < F.col("valid_to")))
    )
    return fact.join(dim, cond, "left").select(
        "event_id",
        fact["user_id"].alias("user_id"),
        "purchase_ts",
        "version",
        "valid_from",
        F.col("version").isNull().alias("pre_history"),
    )


_BT_VALID_CUT = "2024-01-15 23:59:59"  # valid-time as-of
_BT_TX_CUT = "2024-01-16 23:59:59"  # transaction-time as-of


@register(
    "q_bitemporal_asof",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, value,
             ts + INTERVAL ((event_id % 4) * 3) DAY AS tx,
             epoch_ms(ts) * 1000000 + event_id % 1000000 AS ok
      FROM events
    ), then_v AS (
      SELECT user_id, MAX_BY(value, ok) AS v, CAST(COUNT(*) AS BIGINT) AS n
      FROM e
      WHERE ts <= TIMESTAMP '{_BT_VALID_CUT}'
        AND tx <= TIMESTAMP '{_BT_TX_CUT}'
      GROUP BY 1
    ), now_v AS (
      SELECT user_id, MAX_BY(value, ok) AS v, CAST(COUNT(*) AS BIGINT) AS n
      FROM e
      WHERE ts <= TIMESTAMP '{_BT_VALID_CUT}'
      GROUP BY 1
    )
    SELECT n.user_id,
           {R4('t.v')} AS value_known_then,
           {R4('n.v')} AS value_known_now,
           t.n AS rows_known_then, n.n AS rows_known_now,
           COALESCE(t.v <> n.v, TRUE) AS corrected
    FROM now_v n LEFT JOIN then_v t ON t.user_id = n.user_id
    """,
    priority="P2",
    tags=("temporal", "bitemporal", "asof"),
)
def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of query — the two-clock read behind every
    restatement audit: VALID time (when the fact was true) vs
    TRANSACTION time (when the system learned it). `q_scd2_lookup`
    answers "which version was valid at V"; this answers "what did
    we BELIEVE was valid at V, as the ledger stood at T" and diffs
    it against current knowledge — the gap is exactly the
    late-arriving corrections a report issued at T silently missed.
    Transaction time is derived deterministically from the data
    (records arrive 0/3/6/9 days late by event id — the
    late-arrival pattern `q_stream_late` handles in streaming), so
    ~75% of users show a correction and ~25% don't at every SF —
    both branches live, law-pinned.

    The latest-version pick uses a single exact BIGINT order key
    (epoch-ms·10⁶ + id) so max_by needs no struct key in either
    engine; values pass through r4 only at output.

    Scale: two filtered aggregations to the user grain off ONE
    checkpointed event projection (map-side combined) and a
    user-grain join — the same plan reconstructs any as-of pair at
    100 TB; at scale the tx filter pushes into the partition column
    a bitemporal table is laid out by.
    """
    e = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "value",
            (
                F.col("ts")
                + F.expr("make_interval(0, 0, 0, (event_id % 4) * 3, 0, 0, 0)")
            ).alias("tx"),
            (
                F.unix_millis(F.col("ts").cast("timestamp")) * 1000000
                + F.col("event_id") % 1000000
            ).alias("ok"),
        )
        .localCheckpoint(eager=False)  # then + now legs, one scan
    )
    vcut = F.lit(_BT_VALID_CUT).cast("timestamp")
    tcut = F.lit(_BT_TX_CUT).cast("timestamp")
    then_v = (
        e.where((F.col("ts") <= vcut) & (F.col("tx") <= tcut))
        .groupBy("user_id")
        .agg(
            F.max_by("value", "ok").alias("tv"),
            F.count(F.lit(1)).cast("bigint").alias("rows_known_then"),
        )
    )
    now_v = (
        e.where(F.col("ts") <= vcut)
        .groupBy("user_id")
        .agg(
            F.max_by("value", "ok").alias("nv"),
            F.count(F.lit(1)).cast("bigint").alias("rows_known_now"),
        )
    )
    return now_v.join(then_v, "user_id", "left").select(
        "user_id",
        r4(F.col("tv")).alias("value_known_then"),
        r4(F.col("nv")).alias("value_known_now"),
        "rows_known_then",
        "rows_known_now",
        F.coalesce(F.col("tv") != F.col("nv"), F.lit(True)).alias(
            "corrected"
        ),
    )


_FE_DAILY_V4 = R(f"({R4('SUM(value)')} * 10000)", 0)  # the LTOB grain device
_FE_DAILY_V2 = R(f"({R4('SUM(value)')} * 100)", 0)  # cents grain (q_cronbach_alpha)


@register(
    "q_forecast_eval",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_FE_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, d, v4,
             lag(v4, 1) OVER (PARTITION BY event_type ORDER BY d) AS f1,
             lag(v4, 7) OVER (PARTITION BY event_type ORDER BY d) AS f7
      FROM daily
    ), ev AS (
      SELECT event_type, v4, f1, f7,
             ABS(v4 - f1) AS ae1, ABS(v4 - f7) AS ae7,
             CASE WHEN v4 + f7 = 0 THEN 0
                  ELSE CAST({R('2.0 * ABS(v4 - f7) / (v4 + f7) * 10000', 0)}
                    AS BIGINT)
             END AS sm_q4
      FROM lagged WHERE d >= 8
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ae1) AS BIGINT) AS sae1,
             CAST(SUM(ae7) AS BIGINT) AS sae7,
             CAST(SUM(sm_q4) AS BIGINT) AS ssm
      FROM ev GROUP BY 1
    )
    SELECT event_type, n_days,
           {R4('sae1 * 1.0 / n_days / 10000')} AS mae_naive4,
           {R4('sae7 * 1.0 / n_days / 10000')} AS mae_snaive4,
           CASE WHEN sae1 = 0 THEN 0.0
                ELSE {R4('sae7 * 1.0 / sae1')} END AS mase4,
           {R4('ssm * 1.0 / n_days / 10000')} AS smape4
    FROM s
    """,
    priority="P2",
    tags=("temporal", "forecast", "evaluation"),
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation of the two standard zero-parameter
    baselines on each metric stream — naive (yesterday) and
    seasonal-naive (same weekday last week) — over the last 23 days:
    MAE for both, MASE (seasonal-naive MAE scaled by naive MAE — the
    scale-free Hyndman-Koehler metric that compares across streams of
    different magnitudes), and sMAPE for the seasonal-naive. The gate
    every forecasting pipeline runs FIRST: a model that can't beat
    these baselines isn't a model.

    Determinism: daily sums ride as exact integer ten-thousandths (the
    LTOB grain device), absolute errors stay integer, sMAPE terms
    quantize per-day before the sum, and every reported metric is one
    division of exact integer sums. The v4 + f7 = 0 sMAPE singularity
    null-guards to 0; MASE's sae1 = 0 (constant stream) guards to 0.

    Scale: one pass to the daily grain (map-side combined), two lags
    on one calendar-bounded window, exact-integer rollup — billions of
    events enter only through the daily grain."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0).cast("bigint").alias("v4")
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "d",
        "v4",
        F.lag("v4", 1).over(w).alias("f1"),
        F.lag("v4", 7).over(w).alias("f7"),
    )
    sm_q4 = F.when(F.col("v4") + F.col("f7") == 0, F.lit(0)).otherwise(
        F.round(
            2.0 * F.abs(F.col("v4") - F.col("f7"))
            / (F.col("v4") + F.col("f7"))
            * 10000,
            0,
        ).cast("bigint")
    )
    ev = lagged.where(F.col("d") >= 8).select(
        "event_type",
        F.abs(F.col("v4") - F.col("f1")).alias("ae1"),
        F.abs(F.col("v4") - F.col("f7")).alias("ae7"),
        sm_q4.alias("sm_q4"),
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("ae1").cast("bigint").alias("sae1"),
        F.sum("ae7").cast("bigint").alias("sae7"),
        F.sum("sm_q4").cast("bigint").alias("ssm"),
    )
    return s.select(
        "event_type",
        "n_days",
        r4(F.col("sae1") * 1.0 / F.col("n_days") / 10000).alias("mae_naive4"),
        r4(F.col("sae7") * 1.0 / F.col("n_days") / 10000).alias("mae_snaive4"),
        F.when(F.col("sae1") == 0, F.lit(0.0))
        .otherwise(r4(F.col("sae7") * 1.0 / F.col("sae1")))
        .alias("mase4"),
        r4(F.col("ssm") * 1.0 / F.col("n_days") / 10000).alias("smape4"),
    )


@register(
    "q_fifo_allocation",
    oracle=f"""
    WITH li AS (
      SELECT l_partkey AS part, l_returnflag = 'R' AS is_sale,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST({R('l_extendedprice * 100', 0)} AS BIGINT) AS ep_c,
             l_shipdate, l_orderkey, l_linenumber
      FROM lineitem WHERE l_partkey < 40
    ), lots AS (
      SELECT part, qty, ep_c,
             SUM(qty) OVER (PARTITION BY part
               ORDER BY l_shipdate, l_orderkey, l_linenumber, qty, ep_c)
               - qty AS lo,
             SUM(qty) OVER (PARTITION BY part
               ORDER BY l_shipdate, l_orderkey, l_linenumber, qty, ep_c)
               AS hi
      FROM li WHERE NOT is_sale
    ), sales AS (
      SELECT part, qty,
             SUM(qty) OVER (PARTITION BY part
               ORDER BY l_shipdate, l_orderkey, l_linenumber, qty, ep_c)
               - qty AS lo,
             SUM(qty) OVER (PARTITION BY part
               ORDER BY l_shipdate, l_orderkey, l_linenumber, qty, ep_c)
               AS hi
      FROM li WHERE is_sale
    ), alloc AS (
      SELECT l.part,
             LEAST(l.hi, s.hi) - GREATEST(l.lo, s.lo) AS aq,
             CAST({R('(LEAST(l.hi, s.hi) - GREATEST(l.lo, s.lo))'
                     ' * l.ep_c * 1.0 / l.qty', 0)} AS BIGINT) AS cost_c
      FROM lots l JOIN sales s
        ON l.part = s.part AND l.lo < s.hi AND s.lo < l.hi
    ), d AS (
      SELECT part, CAST(SUM(qty) AS BIGINT) AS demand_qty,
             CAST(COUNT(*) AS BIGINT) AS n_sales
      FROM li WHERE is_sale GROUP BY part
    ), sup AS (
      SELECT part, CAST(SUM(qty) AS BIGINT) AS supply_qty FROM li
      WHERE NOT is_sale GROUP BY part
    )
    SELECT d.part, d.n_sales, d.demand_qty,
           CAST(COALESCE(sup.supply_qty, 0) AS BIGINT) AS supply_qty,
           CAST(COALESCE(a.filled, 0) AS BIGINT) AS filled_qty,
           CAST(d.demand_qty - COALESCE(a.filled, 0) AS BIGINT)
             AS unfilled_qty,
           CAST(COALESCE(a.cogs_c, 0) AS BIGINT) AS cogs_c
    FROM d
    LEFT JOIN sup ON d.part = sup.part
    LEFT JOIN (
      SELECT part, CAST(SUM(aq) AS BIGINT) AS filled,
             CAST(SUM(cost_c) AS BIGINT) AS cogs_c
      FROM alloc GROUP BY part
    ) a ON d.part = a.part
    """,
    priority="P2",
    tags=("temporal", "inventory", "range-join"),
)
def q_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO inventory allocation as a RANGE-INTERSECT join of
    cumulative quantity ranges — the distributed form of the
    inherently-sequential "consume oldest lot first" loop: per part,
    receipts (non-returned lines, ship-date order) occupy cumulative
    intervals [lo, hi), sales (returned lines) likewise; a sale
    consumes min(hi,hi)−max(lo,lo) units of every lot its interval
    overlaps, at that lot's unit cost. Emits per-part demand, supply,
    filled/unfilled quantity, and FIFO cost of goods in exact cents —
    the inventory-valuation query (FIFO COGS, lot aging) every ERP
    pipeline ships.

    Determinism: quantities are integral by generator contract (cast
    BIGINT), cumulative ranges are exact integer window sums over the
    (shipdate, orderkey, linenumber, qty, ep_c) order — the fixture's
    (orderkey, linenumber) is NOT unique (r7 discovery), so qty and
    price join the key; rows still tying after that are full-duplicate
    lots/sales whose swap leaves every cumulative range and cost
    identical. Each allocation's cost rounds once to integer cents
    before the sum.

    Scale: the p_partkey < 40 slice bounds THIS demo's output; the
    shape is per-part windows + a per-part interval overlap join —
    at 100 TB the overlap join bins on cumulative-quantity ranges
    exactly like `q_join_range_binned` (each lot/sale pair lands in
    ⌈span/bin⌉ buckets), and the per-part windows partition cleanly."""
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < 40)
        .select(
            F.col("l_partkey").alias("part"),
            (F.col("l_returnflag") == "R").alias("is_sale"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("ep_c"),
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
        .localCheckpoint(eager=False)  # lots + sales + demand + supply legs
    )
    w = Window.partitionBy("part").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "qty", "ep_c"
    )
    cum = F.sum("qty").over(w)
    lots = li.where(~F.col("is_sale")).select(
        "part",
        "qty",
        "ep_c",
        (cum - F.col("qty")).alias("lo"),
        cum.alias("hi"),
    )
    sales = li.where(F.col("is_sale")).select(
        "part",
        "qty",
        (cum - F.col("qty")).alias("s_lo"),
        cum.alias("s_hi"),
    )
    aq = F.least(F.col("hi"), F.col("s_hi")) - F.greatest(
        F.col("lo"), F.col("s_lo")
    )
    alloc = (
        lots.join(
            sales.select("part", "s_lo", "s_hi"),
            ["part"],
        )
        .where((F.col("lo") < F.col("s_hi")) & (F.col("s_lo") < F.col("hi")))
        .select(
            "part",
            aq.alias("aq"),
            F.round(aq * F.col("ep_c") * 1.0 / F.col("qty"), 0)
            .cast("bigint")
            .alias("cost_c"),
        )
        .groupBy("part")
        .agg(
            F.sum("aq").cast("bigint").alias("filled"),
            F.sum("cost_c").cast("bigint").alias("cogs_c"),
        )
    )
    d = li.where(F.col("is_sale")).groupBy("part").agg(
        F.sum("qty").cast("bigint").alias("demand_qty"),
        F.count(F.lit(1)).cast("bigint").alias("n_sales"),
    )
    sup = li.where(~F.col("is_sale")).groupBy("part").agg(
        F.sum("qty").cast("bigint").alias("supply_qty")
    )
    return (
        d.join(sup, "part", "left")
        .join(alloc, "part", "left")
        .select(
            "part",
            "n_sales",
            "demand_qty",
            F.coalesce("supply_qty", F.lit(0)).cast("bigint")
            .alias("supply_qty"),
            F.coalesce("filled", F.lit(0)).cast("bigint").alias("filled_qty"),
            (F.col("demand_qty") - F.coalesce("filled", F.lit(0)))
            .cast("bigint")
            .alias("unfilled_qty"),
            F.coalesce("cogs_c", F.lit(0)).cast("bigint").alias("cogs_c"),
        )
    )


@register(
    "q_cronbach_alpha",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_FE_DAILY_V2} AS BIGINT) AS v2
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT t.event_type, dd.d, COALESCE(x.v2, 0) AS v2
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN (SELECT DISTINCT d FROM daily) dd
      LEFT JOIN daily x ON x.event_type = t.event_type AND x.d = dd.d
    ), item AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v2) AS BIGINT) AS sx,
             CAST(SUM(v2 * v2) AS BIGINT) AS sxx
      FROM grid GROUP BY 1
    ), iv AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, MAX(n) AS n,
             {R4('SUM((CAST(sxx AS DOUBLE)'
                 ' - CAST(sx AS DOUBLE) * sx / n) / (n - 1) / 10000)')}
               AS item_var4
      FROM item
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS sx,
             CAST(SUM(s * s) AS BIGINT) AS sxx
      FROM (SELECT d, CAST(SUM(v2) AS BIGINT) AS s FROM grid GROUP BY d)
    ), tv AS (
      SELECT {R4('(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)'
                 ' / (n - 1) / 10000')} AS total_var4
      FROM tot
    )
    SELECT iv.k, iv.n AS n_days, iv.item_var4, tv.total_var4,
           CASE WHEN tv.total_var4 = 0 THEN 0.0
                ELSE {R4('iv.k * 1.0 / (iv.k - 1)'
                         ' * (1.0 - iv.item_var4 / tv.total_var4)')}
           END AS alpha4
    FROM iv CROSS JOIN tv
    """,
    priority="P2",
    tags=("temporal", "statistics", "reliability"),
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the metric streams — internal-consistency
    reliability with event types as the k "items" and days as the
    respondents: alpha = k/(k−1)·(1 − Σ item-variance / total-variance).
    The composite-metric sanity check: before averaging five health
    metrics into one dashboard score, alpha says whether they move
    together enough for the composite to mean anything (near 0 here —
    the generator's streams are independent, which is itself the
    informative reading).

    Determinism: the (type, day) grain rides as exact integer
    hundredths (cents grain, NOT the usual ten-thousandths: the
    day-TOTAL squared moments overflow bigint at sf0.1 on the finer
    grid — caught by the three-SF vacuity run) on a ZERO-FILLED dense grid (the dense-spine rule:
    a missing day must count as 0, not vanish — item and total
    variances must see the same respondents); variances are single
    double expressions over exact bigint moments ((Σv)² would overflow
    bigint at sf0.1, so the squaring happens in double — deterministic
    because the INPUTS are exact integers and the expression is one
    formula); total_var = 0 null-guards alpha to 0.

    Scale: one pass to the daily grain; the grid is types × days
    (calendar-bounded), moments map-side combine."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 100, 0).cast("bigint").alias("v2")
        )
    )
    types = daily.select("event_type").distinct()
    days = daily.select("d").distinct()
    grid = (
        types.crossJoin(days)
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce("v2", F.lit(0)).alias("v2")
        )
        .localCheckpoint(eager=False)  # item-variance + day-total legs
    )
    item = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v2").cast("bigint").alias("sx"),
        F.sum(d38("v2") * F.col("v2")).alias("sxx"),
    )
    iv = item.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("n").alias("n"),
        r4(
            F.sum(
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx") / F.col("n")
                )
                / (F.col("n") - 1)
                / 10000
            )
        ).alias("item_var4"),
    )
    tot = (
        grid.groupBy("d")
        .agg(F.sum("v2").cast("bigint").alias("s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("s").cast("bigint").alias("sx"),
            F.sum(d38("s") * F.col("s")).alias("sxx"),
        )
    )
    tv = tot.select(
        r4(
            (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx") / F.col("n")
            )
            / (F.col("n") - 1)
            / 10000
        ).alias("total_var4")
    )
    return (
        iv.crossJoin(tv)
        .select(
            "k",
            F.col("n").alias("n_days"),
            "item_var4",
            "total_var4",
            F.when(F.col("total_var4") == 0, F.lit(0.0))
            .otherwise(
                r4(
                    F.col("k") * 1.0 / (F.col("k") - 1)
                    * (1.0 - F.col("item_var4") / F.col("total_var4"))
                )
            )
            .alias("alpha4"),
        )
    )


# F(0.99; 1, df2) step table — 1%, not 5%: with 20 organic pairs a 5%
# test is EXPECTED to false-reject ~1 pair per run (observed 1-2 at
# sf0.001/0.01), while planted F values clear 99 everywhere. Bands are
# conservative: each uses the crit of its LOWER df bound. Shared
# literals, both engines.
_GRANGER_CRIT = "CASE WHEN {df2} >= 30 THEN 7.56 WHEN {df2} >= 20 THEN 8.10 WHEN {df2} >= 10 THEN 10.04 ELSE 16.26 END"


@register(
    "q_granger_lite",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_FE_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT t.event_type, dd.d, COALESCE(x.v4, 0) AS v4
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN (SELECT DISTINCT d FROM daily) dd
      LEFT JOIN daily x ON x.event_type = t.event_type AND x.d = dd.d
    ), lagd AS (
      SELECT event_type, d, v4,
             lag(v4) OVER (PARTITION BY event_type ORDER BY d) AS prev
      FROM grid
    ), tgt AS (
      SELECT event_type AS target, d, v4 AS z, prev AS u
      FROM lagd WHERE prev IS NOT NULL
    ), obs AS (
      SELECT t.target, c.event_type AS cause, t.z, t.u, c.prev AS w
      FROM tgt t JOIN lagd c ON t.d = c.d
      WHERE c.prev IS NOT NULL AND c.event_type != t.target
      UNION ALL
      SELECT target, 'lead_self' AS cause, z, u, (z // 1000) * 1000 AS w
      FROM tgt
    ), m AS (
      SELECT target, cause, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z) AS BIGINT) AS sz, CAST(SUM(u) AS BIGINT) AS su,
             CAST(SUM(w) AS BIGINT) AS sw,
             CAST(SUM(z * u) AS BIGINT) AS szu,
             CAST(SUM(z * w) AS BIGINT) AS szw,
             CAST(SUM(u * w) AS BIGINT) AS suw,
             CAST(SUM(u * u) AS BIGINT) AS suu,
             CAST(SUM(w * w) AS BIGINT) AS sww,
             CAST(SUM(z * z) AS BIGINT) AS szz
      FROM obs GROUP BY 1, 2
    ), cm AS (
      SELECT target, cause, n,
             CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / n AS czz,
             CAST(szu AS DOUBLE) - CAST(sz AS DOUBLE) * su / n AS czu,
             CAST(szw AS DOUBLE) - CAST(sz AS DOUBLE) * sw / n AS czw,
             CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * su / n AS cuu,
             CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * sw / n AS cww,
             CAST(suw AS DOUBLE) - CAST(su AS DOUBLE) * sw / n AS cuw
      FROM m
    ), rss AS (
      SELECT target, cause, n,
             {R4('czz - CASE WHEN cuu = 0 THEN 0 ELSE czu * czu / cuu END')}
               AS rss_r,
             {R4('czz - (czu * czu * cww - 2 * czu * czw * cuw'
                 ' + czw * czw * cuu) / (cuu * cww - cuw * cuw)')} AS rss_f
      FROM cm
      WHERE cuu * cww - cuw * cuw > 0
    ), f AS (
      SELECT target, cause, n,
             CASE WHEN rss_f <= 0 THEN 99999.0
                  ELSE {R4('(rss_r - rss_f) * (n - 3) / rss_f')}
             END AS f4
      FROM rss
    )
    SELECT target, cause, n, f4,
           f4 > ({_GRANGER_CRIT.format(df2='n - 3')}) AS reject
    FROM f
    """,
    priority="P2",
    tags=("temporal", "statistics", "causality"),
)
def q_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen (lag-1, the "lite" form): for every
    ordered metric-stream pair, does yesterday's CAUSE value improve
    the prediction of today's TARGET beyond the target's own
    yesterday? F-test of nested OLS — restricted z~u vs full z~u+w —
    in closed form from exact integer moment sums (no iterative
    fitting). The lead-indicator discovery query of metric pipelines.

    Both verdict branches at every SF: organic cross-stream pairs
    ACCEPT (the generator's streams are independent), and a planted
    'lead_self' cause — the target's own tomorrow, coarsened to the
    1000-grid so RSS_f stays > 0 — REJECTS (a near-perfect leading
    indicator by construction). RSS_f ≤ 0 still sentinel-guards to
    F = 99999. α = 0.01 (with 20 organic pairs a 5% test false-rejects
    ~1 pair per run by design — observed 1-2; planted F clears 99
    everywhere); the F critical value is a conservative step table
    (each band uses its lower-df crit) shipped as shared literals;
    both F and RSS are r4-rounded before comparison.

    Determinism: the daily grain rides as exact integer
    ten-thousandths on the dense zero-filled grid (the `q_cronbach_
    alpha` spine); all moments are exact bigint sums; the centered
    algebra runs in double over those exact integers — one formula,
    engine-identical.

    Scale: one pass to the daily grain; pairs × days frames are
    calendar-bounded (k²·days rows), moments map-side combine."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0).cast("bigint").alias("v4")
        )
    )
    types = daily.select("event_type").distinct()
    days = daily.select("d").distinct()
    grid = (
        types.crossJoin(days)
        .join(daily, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("v4", F.lit(0)).alias("v4"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagd = grid.select(
        "event_type", "d", "v4", F.lag("v4").over(w).alias("prev")
    ).localCheckpoint(eager=False)  # target leg + cause leg + planted leg
    tgt = lagd.where(F.col("prev").isNotNull()).select(
        F.col("event_type").alias("target"),
        "d",
        F.col("v4").alias("z"),
        F.col("prev").alias("u"),
    )
    cse = lagd.where(F.col("prev").isNotNull()).select(
        F.col("event_type").alias("cause"), "d", F.col("prev").alias("w")
    )
    organic = (
        tgt.join(cse, "d")
        .where(F.col("cause") != F.col("target"))
        .select("target", "cause", "z", "u", "w")
    )
    planted = tgt.select(
        "target",
        F.lit("lead_self").alias("cause"),
        "z",
        "u",
        (F.expr("z div 1000") * 1000).alias("w"),
    )
    obs = organic.unionByName(planted)
    m = obs.groupBy("target", "cause").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("u").cast("bigint").alias("su"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(d38("z") * F.col("u")).alias("szu"),
        F.sum(d38("z") * F.col("w")).alias("szw"),
        F.sum(d38("u") * F.col("w")).alias("suw"),
        F.sum(d38("u") * F.col("u")).alias("suu"),
        F.sum(d38("w") * F.col("w")).alias("sww"),
        F.sum(d38("z") * F.col("z")).alias("szz"),
    )

    def cen(sab: str, sa: str, sb: str):
        return F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(
            sb
        ) / F.col("n")

    cm = m.select(
        "target",
        "cause",
        "n",
        cen("szz", "sz", "sz").alias("czz"),
        cen("szu", "sz", "su").alias("czu"),
        cen("szw", "sz", "sw").alias("czw"),
        cen("suu", "su", "su").alias("cuu"),
        cen("sww", "sw", "sw").alias("cww"),
        cen("suw", "su", "sw").alias("cuw"),
    )
    det = F.col("cuu") * F.col("cww") - F.col("cuw") * F.col("cuw")
    rss = cm.where(det > 0).select(
        "target",
        "cause",
        "n",
        r4(
            F.col("czz")
            - F.when(F.col("cuu") == 0, F.lit(0.0)).otherwise(
                F.col("czu") * F.col("czu") / F.col("cuu")
            )
        ).alias("rss_r"),
        r4(
            F.col("czz")
            - (
                F.col("czu") * F.col("czu") * F.col("cww")
                - 2 * F.col("czu") * F.col("czw") * F.col("cuw")
                + F.col("czw") * F.col("czw") * F.col("cuu")
            )
            / det
        ).alias("rss_f"),
    )
    f4 = F.when(F.col("rss_f") <= 0, F.lit(99999.0)).otherwise(
        r4((F.col("rss_r") - F.col("rss_f")) * (F.col("n") - 3) / F.col("rss_f"))
    )
    crit = (
        F.when(F.col("n") - 3 >= 30, F.lit(7.56))
        .when(F.col("n") - 3 >= 20, F.lit(8.10))
        .when(F.col("n") - 3 >= 10, F.lit(10.04))
        .otherwise(F.lit(16.26))
    )
    return rss.select(
        "target",
        "cause",
        "n",
        f4.alias("f4"),
        (f4 > crit).alias("reject"),
    )


_MK_Z_CRIT = 2.5758  # two-sided alpha = 0.01


@register(
    "q_mann_kendall",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_FE_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), streams AS (
      SELECT event_type AS stream, d, v4 FROM daily
      UNION ALL
      SELECT 'trend_planted' AS stream, d, v4 + d * 10000000 AS v4
      FROM daily WHERE event_type = 'click'
    ), pairs AS (
      SELECT a.stream,
             CAST(SUM(CASE WHEN b.v4 > a.v4 THEN 1
                           WHEN b.v4 < a.v4 THEN -1 ELSE 0 END) AS BIGINT) AS s
      FROM streams a JOIN streams b
        ON a.stream = b.stream AND a.d < b.d
      GROUP BY a.stream
    ), nn AS (
      SELECT stream, CAST(COUNT(*) AS BIGINT) AS n FROM streams GROUP BY 1
    ), ties AS (
      SELECT stream,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
      FROM (SELECT stream, v4, CAST(COUNT(*) AS BIGINT) AS t
            FROM streams GROUP BY stream, v4)
      GROUP BY stream
    ), st AS (
      SELECT p.stream, nn.n, p.s,
             {R4('(p.s - CASE WHEN p.s > 0 THEN 1'
                 ' WHEN p.s < 0 THEN -1 ELSE 0 END)'
                 ' / SQRT((nn.n * (nn.n - 1.0) * (2 * nn.n + 5) - t.tsum)'
                 ' / 18.0)')} AS z4
      FROM pairs p JOIN nn ON p.stream = nn.stream
      JOIN ties t ON p.stream = t.stream
      WHERE nn.n * (nn.n - 1.0) * (2 * nn.n + 5) > t.tsum
    )
    SELECT stream, n, s AS s_stat, z4, ABS(z4) > {_MK_Z_CRIT!r} AS reject
    FROM st
    """,
    priority="P2",
    tags=("temporal", "statistics", "trend"),
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per metric stream — the nonparametric
    "is this metric drifting?" monitor (sign-based, so spikes and
    heavy tails can't fake a trend the way they bias OLS slopes):
    S = Σ_{{i<j}} sign(v_j − v_i) over day pairs, tie-corrected normal
    approximation with continuity correction, two-sided α = 0.01. The
    monitoring twin of `q_theil_sen` (which estimates the slope MK
    tests the existence of).

    Both branches at every SF: organic streams ACCEPT (daily sums are
    i.i.d. by generator), a planted 'trend_planted' stream — click
    plus a deterministic d-proportional ramp — REJECTS. S and the tie
    term are exact integers; z is one double formula over them. The
    all-tied degenerate stream (Var ≤ 0) is filtered rather than
    divided by zero.

    Scale: pairs are per-stream day² (calendar-bounded, 435 at 30
    days) off the daily grain — billions of events enter only through
    that grain; everything downstream is constant-size."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0).cast("bigint").alias("v4")
        )
    )
    streams = daily.select(
        F.col("event_type").alias("stream"), "d", "v4"
    ).unionByName(
        daily.where(F.col("event_type") == "click").select(
            F.lit("trend_planted").alias("stream"),
            "d",
            (F.col("v4") + F.col("d") * 10000000).alias("v4"),
        )
    ).localCheckpoint(eager=False)  # pair join (both sides) + n + ties
    a = streams.select("stream", F.col("d").alias("da"), F.col("v4").alias("va"))
    b = streams.select("stream", F.col("d").alias("db"), F.col("v4").alias("vb"))
    pairs = (
        a.join(b, "stream")
        .where(F.col("da") < F.col("db"))
        .groupBy("stream")
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    nn = streams.groupBy("stream").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tt = F.col("t")
    ties = (
        streams.groupBy("stream", "v4")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("stream")
        .agg(
            F.sum(d38(tt) * (tt - 1) * (2 * tt + 5)).alias("tsum")
        )
    )
    var18 = F.col("n") * (F.col("n") - 1.0) * (2 * F.col("n") + 5) - F.col(
        "tsum"
    )
    cc = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    z4 = r4((F.col("s") - cc) / F.sqrt(var18 / 18.0))
    return (
        pairs.join(nn, "stream")
        .join(ties, "stream")
        .where(var18 > 0)
        .select(
            "stream",
            "n",
            F.col("s").alias("s_stat"),
            z4.alias("z4"),
            (F.abs(z4) > _MK_Z_CRIT).alias("reject"),
        )
    )


# chi-square upper 1% points for the two k values that occur
_FRIEDMAN_CRIT = "CASE WHEN {k} = 6 THEN 15.0863 ELSE 13.2767 END"


@register(
    "q_friedman_test",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_FE_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT t.event_type, dd.d, COALESCE(x.v4, 0) AS v4
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN (SELECT DISTINCT d FROM daily) dd
      LEFT JOIN daily x ON x.event_type = t.event_type AND x.d = dd.d
    ), streams AS (
      SELECT 'organic' AS scope, event_type AS stream, d, v4 FROM grid
      UNION ALL
      SELECT 'planted' AS scope, event_type AS stream, d, v4 FROM grid
      UNION ALL
      SELECT 'planted' AS scope, 'shift_planted' AS stream, d,
             v4 + 50000000 AS v4
      FROM grid WHERE event_type = 'click'
    ), ranked AS (
      SELECT scope, stream, d, v4,
             COUNT(*) OVER (PARTITION BY scope, d ORDER BY v4
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_le,
             COUNT(*) OVER (PARTITION BY scope, d, v4) AS c_eq
      FROM streams
    ), r2 AS (
      SELECT scope, stream, d,
             CAST(2 * (c_le - c_eq) + c_eq + 1 AS BIGINT) AS r2
      FROM ranked
    ), rj AS (
      SELECT scope, stream, CAST(SUM(r2) AS BIGINT) AS r2j FROM r2
      GROUP BY 1, 2
    ), s AS (
      SELECT scope, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(r2j * r2j) AS BIGINT) AS sr2
      FROM rj GROUP BY 1
    ), nb AS (
      SELECT scope, CAST(COUNT(DISTINCT d) AS BIGINT) AS n FROM r2 GROUP BY 1
    ), ties AS (
      SELECT scope, CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
      FROM (SELECT scope, d, v4, CAST(COUNT(*) AS BIGINT) AS t
            FROM streams GROUP BY 1, 2, 3)
      GROUP BY scope
    ), f AS (
      SELECT s.scope, s.k, nb.n,
             {R4('3.0 * s.sr2 / (nb.n * s.k * (s.k + 1.0))'
                 ' - 3.0 * nb.n * (s.k + 1)')} AS fr4,
             {R4('(3.0 * s.sr2 / (nb.n * s.k * (s.k + 1.0))'
                 ' - 3.0 * nb.n * (s.k + 1))'
                 ' / (1.0 - CAST(t.tie3 AS DOUBLE)'
                 '   / (nb.n * s.k * (CAST(s.k AS DOUBLE) * s.k - 1)))')}
               AS frc4
      FROM s JOIN nb ON s.scope = nb.scope JOIN ties t ON s.scope = t.scope
      WHERE 1.0 - CAST(t.tie3 AS DOUBLE)
            / (nb.n * s.k * (CAST(s.k AS DOUBLE) * s.k - 1)) > 0
    )
    SELECT scope, k, n, fr4, frc4,
           frc4 > ({_FRIEDMAN_CRIT.format(k='k')}) AS reject
    FROM f
    """,
    priority="P2",
    tags=("temporal", "statistics", "rank-test"),
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the nonparametric repeated-measures ANOVA: do k
    related treatments (metric streams) rank the same across blocks
    (days)? Within-block average ranks carry as 2·rank integers (the
    ×2 tie device), ΣRⱼ² is an exact bigint, and the statistic (with
    the tie-corrected variant) is one double formula. The k-sample
    blocked sibling of `q_kruskal_wallis` (which ignores blocking) —
    blocking removes day-level noise, which is exactly why this is the
    multi-metric drift monitor.

    Both branches at every SF (α = 0.01, crit by k from a shared
    literal CASE): 'organic' ranks the five generator streams
    (exchangeable — ACCEPTS), 'planted' adds a +5·10⁷-shifted copy of
    click that pins the top rank every day (REJECTS). The all-tied
    degenerate correction (C ≤ 0) filters rather than divides.

    Scale: one pass to the daily grain; ranking windows are per-block
    (k rows each), never global; everything downstream is k-row
    frames."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0).cast("bigint").alias("v4")
        )
    )
    types = daily.select("event_type").distinct()
    days = daily.select("d").distinct()
    grid = (
        types.crossJoin(days)
        .join(daily, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("v4", F.lit(0)).alias("v4"))
    )
    streams = (
        grid.select(
            F.lit("organic").alias("scope"),
            F.col("event_type").alias("stream"),
            "d",
            "v4",
        )
        .unionByName(
            grid.select(
                F.lit("planted").alias("scope"),
                F.col("event_type").alias("stream"),
                "d",
                "v4",
            )
        )
        .unionByName(
            grid.where(F.col("event_type") == "click").select(
                F.lit("planted").alias("scope"),
                F.lit("shift_planted").alias("stream"),
                "d",
                (F.col("v4") + 50000000).alias("v4"),
            )
        )
        .localCheckpoint(eager=False)  # rank leg + tie leg
    )
    wle = (
        Window.partitionBy("scope", "d")
        .orderBy("v4")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    weq = Window.partitionBy("scope", "d", "v4")
    ranked = streams.select(
        "scope",
        "stream",
        "d",
        (
            2 * (F.count(F.lit(1)).over(wle) - F.count(F.lit(1)).over(weq))
            + F.count(F.lit(1)).over(weq)
            + 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    rj = ranked.groupBy("scope", "stream").agg(
        F.sum(d38("r2")).alias("r2j")
    )
    s = rj.groupBy("scope").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("r2j") * F.col("r2j")).alias("sr2"),  # decimal through
    )
    nb = ranked.groupBy("scope").agg(
        F.countDistinct("d").cast("bigint").alias("n")
    )
    tt = F.col("t")
    ties = (
        streams.groupBy("scope", "d", "v4")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("scope")
        .agg(F.sum(d38(tt) * tt * tt - tt).alias("tie3"))
    )
    fr = 3.0 * F.col("sr2") / (
        F.col("n") * F.col("k") * (F.col("k") + 1.0)
    ) - 3.0 * F.col("n") * (F.col("k") + 1)
    corr = 1.0 - F.col("tie3").cast("double") / (
        F.col("n")
        * F.col("k")
        * (F.col("k").cast("double") * F.col("k") - 1)
    )
    frc4 = r4(fr / corr)
    crit = F.when(F.col("k") == 6, F.lit(15.0863)).otherwise(F.lit(13.2767))
    return (
        s.join(nb, "scope")
        .join(ties, "scope")
        .where(corr > 0)
        .select(
            "scope",
            "k",
            "n",
            r4(fr).alias("fr4"),
            frc4.alias("frc4"),
            (frc4 > crit).alias("reject"),
        )
    )


_RUNS_Z_CRIT = 2.5758  # two-sided alpha = 0.01
_RUNS_Z_SENTINEL = 99999.0  # >= half the values tie the median: sigma = 0


@register(
    "q_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_FE_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), streams AS (
      SELECT event_type AS stream, d, v4 FROM daily
      UNION ALL
      SELECT 'ramp_planted' AS stream, d, v4 + d * 1000000000000 AS v4
      FROM daily WHERE event_type = 'click'
      UNION ALL
      SELECT 'zigzag_planted' AS stream, d, v4 + (d % 2) * 1000000000000 AS v4
      FROM daily WHERE event_type = 'click'
    ), med AS (
      SELECT stream, MEDIAN(v4) AS med FROM streams GROUP BY 1
    ), signs AS (
      SELECT s.stream, s.d,
             CASE WHEN s.v4 > m.med THEN 1 ELSE -1 END AS sgn
      FROM streams s JOIN med m ON s.stream = m.stream
      WHERE s.v4 <> m.med
    ), runs AS (
      SELECT stream, d, sgn,
             LAG(sgn) OVER (PARTITION BY stream ORDER BY d) AS prev_sgn
      FROM signs
    ), agg AS (
      SELECT stream,
             CAST(SUM(CASE WHEN prev_sgn IS NULL OR sgn <> prev_sgn
                           THEN 1 ELSE 0 END) AS BIGINT) AS r_runs,
             CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
             CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dn
      FROM runs GROUP BY 1
    )
    SELECT stream, r_runs, n_up, n_dn,
           CASE WHEN n_up = 0 OR n_dn = 0 THEN {_RUNS_Z_SENTINEL!r}
           ELSE {R4('(r_runs - (1.0 + 2.0 * n_up * n_dn / (n_up + n_dn)))'
                    ' / SQRT(2.0 * n_up * n_dn'
                    '   * (2.0 * n_up * n_dn - n_up - n_dn)'
                    '   / ((n_up + n_dn) * (n_up + n_dn)'
                    '      * (n_up + n_dn - 1.0)))')}
           END AS z4,
           CASE WHEN n_up = 0 OR n_dn = 0 THEN TRUE
                ELSE ABS({R4('(r_runs - (1.0 + 2.0 * n_up * n_dn / (n_up + n_dn)))'
                             ' / SQRT(2.0 * n_up * n_dn'
                             '   * (2.0 * n_up * n_dn - n_up - n_dn)'
                             '   / ((n_up + n_dn) * (n_up + n_dn)'
                             '      * (n_up + n_dn - 1.0)))')})
                     > {_RUNS_Z_CRIT!r}
           END AS reject
    FROM agg
    """,
    priority="P2",
    tags=("temporal", "statistics", "randomness"),
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (above/below-median form) per metric
    stream — the randomness monitor orthogonal to `q_mann_kendall`
    (MK asks "is it drifting?"; runs asks "is the SEQUENCE patterned?"
    — clustering below/above the median collapses the run count,
    alternation inflates it, both with zero net trend). Signs are
    above(+1)/below(-1) the per-stream median (exact-median ties
    dropped — the textbook treatment, and the split that makes the
    null EXACT for i.i.d. data: the diffs-sign variant tried first
    leans z ≈ +2 organically because differences of i.i.d. values are
    negatively autocorrelated); R = maximal same-sign runs,
    z = (R - mu)/sigma, two-sided alpha = 0.01.

    Three regimes at every SF: organic daily sums are i.i.d. (ACCEPT),
    a planted monotone ramp (slope 1e12 dominates any SF's daily
    variance) is below-median then above — R = 2, z ~ -5 (REJECT,
    clustering tail), and a planted parity zig-zag alternates sides —
    R = n, z ~ +5 (REJECT, alternation tail). The median of 30 bigint
    grain values is the average of the two middle integers — exactly
    representable, so the sign split is deterministic cross-engine;
    the sigma = 0 degenerate (half the values AT the median) is
    guarded with a sentinel rather than divided through.

    Scale: everything happens on the daily grain (calendar-bounded:
    30 rows per stream regardless of event count); the billions of
    raw events enter only through the grain's partial-agg sums."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0).cast("bigint").alias("v4")
        )
    )
    ramp = F.col("v4") + F.col("d") * F.lit(1000000000000).cast("bigint")
    zig = F.col("v4") + (F.col("d") % 2) * F.lit(1000000000000).cast("bigint")
    streams = (
        daily.select(F.col("event_type").alias("stream"), "d", "v4")
        .unionByName(
            daily.where(F.col("event_type") == "click").select(
                F.lit("ramp_planted").alias("stream"), "d", ramp.alias("v4")
            )
        )
        .unionByName(
            daily.where(F.col("event_type") == "click").select(
                F.lit("zigzag_planted").alias("stream"), "d", zig.alias("v4")
            )
        )
        .localCheckpoint(eager=False)  # median leg + sign leg
    )
    med = streams.groupBy("stream").agg(F.median("v4").alias("med"))
    signs = (
        streams.join(F.broadcast(med), "stream")
        .where(F.col("v4") != F.col("med"))
        .select(
            "stream",
            "d",
            F.when(F.col("v4") > F.col("med"), 1).otherwise(-1).alias("sgn"),
        )
    )
    w = Window.partitionBy("stream").orderBy("d")
    runs = signs.select(
        "stream", "d", "sgn", F.lag("sgn").over(w).alias("prev_sgn")
    )
    agg = runs.groupBy("stream").agg(
        F.sum(
            F.when(
                F.col("prev_sgn").isNull()
                | (F.col("sgn") != F.col("prev_sgn")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("r_runs"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dn"),
    )
    n_up, n_dn, r_runs = F.col("n_up"), F.col("n_dn"), F.col("r_runs")
    n = n_up + n_dn
    mu = 1.0 + 2.0 * n_up * n_dn / n
    sigma = F.sqrt(
        2.0 * n_up * n_dn * (2.0 * n_up * n_dn - n_up - n_dn)
        / (n * n * (n - 1.0))
    )
    z4 = r4((r_runs - mu) / sigma)
    degenerate = (n_up == 0) | (n_dn == 0)
    return agg.select(
        "stream",
        "r_runs",
        "n_up",
        "n_dn",
        F.when(degenerate, F.lit(_RUNS_Z_SENTINEL)).otherwise(z4).alias("z4"),
        F.when(degenerate, F.lit(True))
        .otherwise(F.abs(z4) > _RUNS_Z_CRIT)
        .alias("reject"),
    )


@register(
    "q_rsi",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_FE_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), streams AS (
      SELECT event_type AS stream, d, v4 FROM daily
      UNION ALL
      SELECT 'ramp_planted' AS stream, d, v4 + d * 1000000000000 AS v4
      FROM daily WHERE event_type = 'click'
      UNION ALL
      SELECT 'fade_planted' AS stream, d, v4 - d * 1000000000000 AS v4
      FROM daily WHERE event_type = 'click'
    ), diffs AS (
      SELECT stream, d,
             v4 - LAG(v4) OVER (PARTITION BY stream ORDER BY d) AS delta
      FROM streams
    ), roll AS (
      SELECT stream, d,
             CAST(SUM(GREATEST(delta, 0)) OVER w AS BIGINT) AS g,
             CAST(SUM(GREATEST(-delta, 0)) OVER w AS BIGINT) AS l,
             COUNT(*) OVER w AS win_n
      FROM diffs WHERE delta IS NOT NULL
      WINDOW w AS (PARTITION BY stream ORDER BY d
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT stream, d,
           CASE WHEN g + l = 0 THEN 50.0
                ELSE {R4('100.0 * g / (g + l)')} END AS rsi4,
           CASE WHEN g + l = 0 THEN 'neutral'
                WHEN {R4('100.0 * g / (g + l)')} > 70 THEN 'overbought'
                WHEN {R4('100.0 * g / (g + l)')} < 30 THEN 'oversold'
                ELSE 'neutral' END AS signal
    FROM roll WHERE win_n = 14
    """,
    priority="P2",
    tags=("temporal", "timeseries", "finance"),
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period relative strength index per metric stream — the
    bounded momentum oscillator beside `q_ewma` (level smoothing) and
    `q_anomaly_rolling_z` (deviation scoring): RSI = 100·G/(G+L) over
    the trailing 14 day-over-day moves, where G/L are summed gains/
    losses (Cutler's simple-average form — deliberately NOT Wilder's
    recursive smoothing, which is a sequential fold no engine can
    shuffle; the simple form is windowable and the standard batch
    variant). Overbought (>70) / oversold (<30) signal bands.

    Branches at every SF: organic daily sums hover near 50 (i.i.d.
    moves — neutral), a planted +1e12/day ramp pins RSI = 100
    (overbought: losses are literally zero), a planted mirror fade
    pins 0 (oversold). Gains/losses are exact bigints off the
    ten-thousandths daily grain; RSI is one guarded integer ratio
    (flat-window G+L=0 lands the 50.0/'neutral' convention, not a
    division crash). Only complete 14-move windows emit.

    Scale: the rolling sums are per-stream partitioned windows over
    the calendar-bounded daily grain (30 rows/stream at any event
    count) — raw events enter via the grain's partial aggs only."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0).cast("bigint").alias("v4")
        )
        .localCheckpoint(eager=False)  # three stream legs — one scan
    )
    big = F.lit(1000000000000).cast("bigint")
    streams = (
        daily.select(F.col("event_type").alias("stream"), "d", "v4")
        .unionByName(
            daily.where(F.col("event_type") == "click").select(
                F.lit("ramp_planted").alias("stream"),
                "d",
                (F.col("v4") + F.col("d") * big).alias("v4"),
            )
        )
        .unionByName(
            daily.where(F.col("event_type") == "click").select(
                F.lit("fade_planted").alias("stream"),
                "d",
                (F.col("v4") - F.col("d") * big).alias("v4"),
            )
        )
    )
    w_lag = Window.partitionBy("stream").orderBy("d")
    diffs = streams.select(
        "stream", "d", (F.col("v4") - F.lag("v4").over(w_lag)).alias("delta")
    ).where(F.col("delta").isNotNull())
    w_roll = w_lag.rowsBetween(-13, 0)
    roll = diffs.select(
        "stream",
        "d",
        F.sum(F.greatest(F.col("delta"), F.lit(0)))
        .over(w_roll)
        .cast("bigint")
        .alias("g"),
        F.sum(F.greatest(-F.col("delta"), F.lit(0)))
        .over(w_roll)
        .cast("bigint")
        .alias("l"),
        F.count(F.lit(1)).over(w_roll).alias("win_n"),
    ).where(F.col("win_n") == 14)
    rsi4 = r4(100.0 * F.col("g") / (F.col("g") + F.col("l")))
    flat = (F.col("g") + F.col("l")) == 0
    return roll.select(
        "stream",
        "d",
        F.when(flat, F.lit(50.0)).otherwise(rsi4).alias("rsi4"),
        F.when(flat, F.lit("neutral"))
        .when(rsi4 > 70, F.lit("overbought"))
        .when(rsi4 < 30, F.lit("oversold"))
        .otherwise(F.lit("neutral"))
        .alias("signal"),
    )


# Shapley coalition weights for n = 4 channels: w(s) = s!(n-s-1)!/n!
_SHAP_W = "CASE WHEN {s} = 0 THEN 0.25 WHEN {s} = 3 THEN 0.25 ELSE 1.0/12.0 END"


@register(
    "q_attribution_shapley",
    oracle=f"""
    WITH j AS (
      SELECT user_id, CAST(day(ts) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END) > 0
                  AS INT) * 1 +
             CAST(SUM(CASE WHEN event_type = 'view'   THEN 1 ELSE 0 END) > 0
                  AS INT) * 2 +
             CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) > 0
                  AS INT) * 4 +
             CAST(SUM(CASE WHEN event_type = 'error'  THEN 1 ELSE 0 END) > 0
                  AS INT) * 8 AS mask,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
                  AS INT) AS conv
      FROM events GROUP BY 1, 2
    ), obs AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_j,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM j GROUP BY 1
    ), spine AS (
      SELECT UNNEST(GENERATE_SERIES(0, 15)) AS mask
    ), mv AS (
      SELECT s.mask,
             (s.mask // 1) % 2 + (s.mask // 2) % 2
               + (s.mask // 4) % 2 + (s.mask // 8) % 2 AS sz,
             COALESCE(o.n_conv * 1.0 / o.n_j, 0.0) AS v
      FROM spine s LEFT JOIN obs o ON s.mask = o.mask
    ), ch AS (
      SELECT * FROM (VALUES ('click', 1), ('view', 2),
                            ('signup', 4), ('error', 8)) AS t(channel, bit)
    ), terms AS (
      SELECT ch.channel,
             CAST(ROUND(({_SHAP_W.format(s='m0.sz')})
                        * (m1.v - m0.v) * 100000000, 0) AS BIGINT) AS term8
      FROM ch
      JOIN mv m0 ON (m0.mask // ch.bit) % 2 = 0
      JOIN mv m1 ON m1.mask = m0.mask + ch.bit
    ), phi AS (
      SELECT channel, CAST(SUM(term8) AS BIGINT) AS phi8 FROM terms GROUP BY 1
    ), naive AS (
      SELECT ch.channel,
             CAST(SUM(o.n_j) AS BIGINT) AS present_n,
             CAST(SUM(o.n_conv) AS BIGINT) AS present_conv
      FROM ch JOIN obs o ON (o.mask // ch.bit) % 2 = 1
      GROUP BY 1
    )
    SELECT p.channel, {R4('p.phi8 / 100000000.0')} AS phi4,
           n.present_n, {R4('n.present_conv * 1.0 / n.present_n')} AS naive_rate4
    FROM phi p JOIN naive n ON p.channel = n.channel
    """,
    priority="P2",
    tags=("temporal", "events", "attribution", "shapley"),
)
def q_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven Shapley-value attribution (Zhao et al. 2018, the
    game-theoretic model behind ad-platform "data-driven attribution")
    — the principled answer to the credit question
    `q_attribution_multitouch` answers with position HEURISTICS
    (first/last/linear): treat each (user, day) journey's touched
    channel SET as a coalition, v(S) = conversion rate of journeys
    with exactly coalition S, and pay each channel its marginal
    contribution averaged over all coalition orderings:
    phi_i = sum_{{S not containing i}} w(|S|) * (v(S + i) - v(S)),
    w(s) = s!(n-s-1)!/n!. Reported beside the naive
    conversion-rate-when-present, the biased baseline Shapley
    corrects (a channel present in every converting journey free-rides
    in the naive rate; Shapley nets out what the OTHER channels
    already earn). Unobserved coalitions impute v = 0 — the standard
    sparse-journey treatment, documented not hidden.

    Exactness: coalition masks and counts are exact integers; each of
    the 8 marginal terms per channel is quantized to integer 1e-8ths
    BEFORE the sum (order-independent bigint addition — the shared-
    literal-weights device), one r4 division at the end.

    Scale: one pass to the (user, day) journey grain (conditional
    aggs, map-side combined), then a 16-row coalition frame — the 2^n
    blow-up is bounded by the CHANNEL vocabulary (n = 4), never data
    size; everything after the journey collapse is broadcast-sized."""
    ev = load(spark, sf_dir, "events")
    has = lambda t: (  # noqa: E731
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)) > 0
    ).cast("int")
    j = ev.groupBy(
        "user_id", F.dayofmonth("ts").cast("bigint").alias("d")
    ).agg(
        (
            has("click") * 1
            + has("view") * 2
            + has("signup") * 4
            + has("error") * 8
        ).alias("mask"),
        has("purchase").alias("conv"),
    )
    obs = (
        j.groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_j"),
            F.sum("conv").cast("bigint").alias("n_conv"),
        )
        .localCheckpoint(eager=False)  # coalition frame + naive leg
    )
    spine = spark.range(16).select(F.col("id").cast("int").alias("mask"))
    sz = sum((F.col("mask") / (1 << b)).cast("int") % 2 for b in range(4))
    mv = (
        spine.join(F.broadcast(obs), "mask", "left")
        .select(
            "mask",
            sz.alias("sz"),
            F.coalesce(
                F.col("n_conv") * 1.0 / F.col("n_j"), F.lit(0.0)
            ).alias("v"),
        )
    )
    ch = spark.range(4).select(
        F.element_at(
            F.array(
                F.lit("click"), F.lit("view"), F.lit("signup"), F.lit("error")
            ),
            (F.col("id") + 1).cast("int"),
        ).alias("channel"),
        F.element_at(
            F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8)),
            (F.col("id") + 1).cast("int"),
        ).alias("bit"),
    )
    m0 = mv.select(
        F.col("mask").alias("mask0"), F.col("sz").alias("sz0"),
        F.col("v").alias("v0"),
    )
    m1 = mv.select(F.col("mask").alias("mask1"), F.col("v").alias("v1"))
    w = (
        F.when(F.col("sz0") == 0, 0.25)
        .when(F.col("sz0") == 3, 0.25)
        .otherwise(1.0 / 12.0)
    )
    terms = (
        ch.join(
            F.broadcast(m0), (F.col("mask0") / F.col("bit")).cast("int") % 2 == 0
        )
        .join(F.broadcast(m1), F.col("mask1") == F.col("mask0") + F.col("bit"))
        .select(
            "channel",
            F.round(w * (F.col("v1") - F.col("v0")) * 100000000, 0)
            .cast("bigint")
            .alias("term8"),
        )
    )
    phi = terms.groupBy("channel").agg(
        F.sum("term8").cast("bigint").alias("phi8")
    )
    naive = (
        ch.join(
            F.broadcast(obs),
            (F.col("mask") / F.col("bit")).cast("int") % 2 == 1,
        )
        .groupBy("channel")
        .agg(
            F.sum("n_j").cast("bigint").alias("present_n"),
            F.sum("n_conv").cast("bigint").alias("present_conv"),
        )
    )
    return (
        phi.join(naive, "channel")
        .select(
            "channel",
            r4(F.col("phi8") / 100000000.0).alias("phi4"),
            "present_n",
            r4(F.col("present_conv") * 1.0 / F.col("present_n")).alias(
                "naive_rate4"
            ),
        )
    )


@register(
    "q_spc_xbar",
    oracle=f"""
    WITH base AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({R('value * 100', 0)} AS BIGINT) AS y2
      FROM events
    ), scoped AS (
      SELECT 'organic' AS scope, event_type AS stream, d, y2 FROM base
      UNION ALL
      SELECT 'planted' AS scope, event_type AS stream, d,
             CASE WHEN d = 17 THEN y2 + 10000 ELSE y2 END AS y2
      FROM base WHERE event_type = 'click'
    ), sub AS (
      SELECT scope, stream, d, CAST(COUNT(*) AS BIGINT) AS n_d,
             CAST(SUM(y2) AS BIGINT) AS s_d,
             CAST(SUM(y2 * y2) AS BIGINT) AS ss_d
      FROM scoped GROUP BY 1, 2, 3
    ), pooled AS (
      SELECT scope, stream,
             {R('SUM(s_d) * 1.0 / SUM(n_d)', 10)} AS grand,
             {R('SUM(ss_d - s_d * s_d * 1.0 / n_d) * 1.0 / SUM(n_d - 1)', 10)}
               AS wvar
      FROM sub GROUP BY 1, 2
    )
    SELECT s.scope, s.stream, s.d,
           {R4('s.s_d * 1.0 / s.n_d / 100')} AS xbar4,
           {R4('(p.grand - 3 * SQRT(p.wvar / s.n_d)) / 100')} AS lcl4,
           {R4('(p.grand + 3 * SQRT(p.wvar / s.n_d)) / 100')} AS ucl4,
           s.s_d * 1.0 / s.n_d < p.grand - 3 * SQRT(p.wvar / s.n_d)
             OR s.s_d * 1.0 / s.n_d > p.grand + 3 * SQRT(p.wvar / s.n_d)
             AS out_of_control
    FROM sub s JOIN pooled p
      ON s.scope = p.scope AND s.stream = p.stream
    """,
    priority="P2",
    tags=("temporal", "quality", "spc"),
)
def q_spc_xbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X-bar control chart per metric stream — the SPC
    discipline beside `q_anomaly_rolling_z` (whose adaptive window
    LEARNS a drifting baseline; a control chart's limits come from
    pooled WITHIN-subgroup variation, so a between-day assignable
    cause can't inflate its own detection threshold): daily subgroup
    means against grand-mean +/- 3*sqrt(s2_within / n_d) limits
    (variable subgroup sizes — the unequal-n X-bar form; the A2*Rbar
    textbook constants assume fixed n).

    Branches at every SF: organic days stay inside the limits
    (within-day variance dominates day-mean wobble by ~sqrt(n_d)
    — sized so even sf0.001's ~7-row subgroups separate),
    and a planted +100.00 shift of day 17 in a copied stream is an
    assignable cause that lands far outside UCL — while barely
    moving the pooled-within estimate, which is exactly the property
    that makes X-bar charts work. Values carry as integer cents;
    within-variance pools via the exact-sums identity
    ss - s^2/n (bigint-safe: cents^2 * rows < 2^63 at sf0.1);
    grand mean and pooled variance are r10-rounded before the limit
    formulas (the q_ab_ttest device).

    Scale: one pass to the (scope, stream, day) grain with exact
    partial-agg sums; limits join back broadcast; flags are per-grain
    row arithmetic. Calendar-bounded output (30 rows per stream)."""
    base = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.dayofmonth("ts").cast("bigint").alias("d"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("y2"),
        )
        .localCheckpoint(eager=False)  # organic + planted legs — one scan
    )
    scoped = base.select(
        F.lit("organic").alias("scope"),
        F.col("event_type").alias("stream"),
        "d",
        "y2",
    ).unionByName(
        base.where(F.col("event_type") == "click").select(
            F.lit("planted").alias("scope"),
            F.col("event_type").alias("stream"),
            "d",
            F.when(F.col("d") == 17, F.col("y2") + 10000)
            .otherwise(F.col("y2"))
            .alias("y2"),
        )
    )
    sub = scoped.groupBy("scope", "stream", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_d"),
        F.sum("y2").cast("bigint").alias("s_d"),
        F.sum(d38("y2") * F.col("y2")).alias("ss_d"),
    )
    pooled = sub.groupBy("scope", "stream").agg(
        F.round(F.sum("s_d") * 1.0 / F.sum("n_d"), 10).alias("grand"),
        F.round(
            F.sum(
                F.col("ss_d") - F.col("s_d") * 1.0 * F.col("s_d") / F.col("n_d")
            )
            * 1.0
            / F.sum(F.col("n_d") - 1),
            10,
        ).alias("wvar"),
    )
    j = sub.join(F.broadcast(pooled), ["scope", "stream"])
    xbar = F.col("s_d") * 1.0 / F.col("n_d")
    half = 3 * F.sqrt(F.col("wvar") / F.col("n_d"))
    return j.select(
        "scope",
        "stream",
        "d",
        r4(xbar / 100).alias("xbar4"),
        r4((F.col("grand") - half) / 100).alias("lcl4"),
        r4((F.col("grand") + half) / 100).alias("ucl4"),
        (
            (xbar < F.col("grand") - half) | (xbar > F.col("grand") + half)
        ).alias("out_of_control"),
    )


_ES_EVENT_DAYS = (8, 17, 26)  # deterministic "deploy days"
_ES_WIN = 3                   # relative-day window: tau in [-3, +3]


@register(
    "q_event_study",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_FE_DAILY_V4} AS BIGINT) AS v4
      FROM events GROUP BY 1, 2
    ), scoped AS (
      SELECT 'organic' AS scope, event_type AS stream, d, v4 FROM daily
      UNION ALL
      SELECT 'planted' AS scope, event_type AS stream, d,
             CASE WHEN d IN {_ES_EVENT_DAYS}
                  THEN v4 + 500000000
                  WHEN d - 1 IN {_ES_EVENT_DAYS}
                  THEN v4 + 250000000
                  ELSE v4 END AS v4
      FROM daily WHERE event_type = 'click'
    ), events_spine AS (
      SELECT UNNEST({list(_ES_EVENT_DAYS)}) AS e_d
    ), baseline AS (
      SELECT s.scope, s.stream,
             {R('AVG(s.v4)', 10)} AS base
      FROM scoped s
      WHERE NOT EXISTS (SELECT 1 FROM events_spine e
                        WHERE ABS(s.d - e.e_d) <= {_ES_WIN})
      GROUP BY 1, 2
    ), panel AS (
      SELECT s.scope, s.d - e.e_d AS tau, s.v4 - b.base AS abn
      FROM scoped s
      JOIN events_spine e ON ABS(s.d - e.e_d) <= {_ES_WIN}
      JOIN baseline b ON s.scope = b.scope AND s.stream = b.stream
    )
    SELECT scope, CAST(tau AS BIGINT) AS tau,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {R4('AVG(abn) / 10000')} AS mean_abnormal4
    FROM panel GROUP BY 1, 2
    """,
    priority="P2",
    tags=("temporal", "events", "causal"),
)
def q_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study panel — the AROUND-THE-EVENT view beside
    `q_diff_in_diff` (one pre/post split) and `q_changepoint_cusum`
    (detects WHEN; this measures the response SHAPE): for a set of
    known intervention days (deploys, launches, incidents), average
    the baseline-adjusted metric at each relative day tau in
    [-{_ES_WIN}, +{_ES_WIN}] across all events and streams — the
    standard pre-trend / impact / decay panel (flat left half =
    no anticipation, the identifying assumption made VISIBLE).

    Branches at every SF: the organic scope is flat around the
    (arbitrary) day spine — mean abnormal stays within daily noise
    (orders of magnitude below the planted jump), the honest
    negative; a planted scope adds a +50k spike on event days
    decaying to +25k the day after, so the panel shows the classic
    zero / jump / half-decay shape and nothing before tau = 0.
    Baselines come from OUTSIDE every event window (the estimation-
    window discipline); daily sums ride the exact ten-thousandths
    grain, baselines r10, one r4 average at the end.

    Scale: the event spine is a literal broadcast; everything runs
    on the calendar-bounded daily grain — billions of raw events
    enter through one partial-agg pass."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.sum("value")) * 10000, 0).cast("bigint").alias("v4")
        )
    )
    ev = list(_ES_EVENT_DAYS)
    plant = (
        F.when(F.col("d").isin(ev), F.col("v4") + 500000000)
        .when((F.col("d") - 1).isin(ev), F.col("v4") + 250000000)
        .otherwise(F.col("v4"))
    )
    scoped = (
        daily.select(
            F.lit("organic").alias("scope"),
            F.col("event_type").alias("stream"),
            "d",
            "v4",
        )
        .unionByName(
            daily.where(F.col("event_type") == "click").select(
                F.lit("planted").alias("scope"),
                F.col("event_type").alias("stream"),
                "d",
                plant.alias("v4"),
            )
        )
        .localCheckpoint(eager=False)  # baseline leg + panel leg
    )
    spine = spark.range(len(ev)).select(
        F.element_at(
            F.array(*[F.lit(e) for e in ev]), (F.col("id") + 1).cast("int")
        )
        .cast("bigint")
        .alias("e_d")
    )
    in_any_window = scoped.join(
        F.broadcast(spine),
        F.abs(F.col("d") - F.col("e_d")) <= _ES_WIN,
        "left_semi",
    )
    baseline = (
        scoped.join(
            F.broadcast(spine),
            F.abs(F.col("d") - F.col("e_d")) <= _ES_WIN,
            "left_anti",
        )
        .groupBy("scope", "stream")
        .agg(F.round(F.avg("v4"), 10).alias("base"))
    )
    panel = (
        in_any_window.join(
            F.broadcast(spine), F.abs(F.col("d") - F.col("e_d")) <= _ES_WIN
        )
        .join(F.broadcast(baseline), ["scope", "stream"])
        .select(
            "scope",
            (F.col("d") - F.col("e_d")).cast("bigint").alias("tau"),
            (F.col("v4") - F.col("base")).alias("abn"),
        )
    )
    return panel.groupBy("scope", "tau").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        r4(F.avg("abn") / 10000).alias("mean_abnormal4"),
    )


_MA_CHANNELS = ("click", "view", "signup", "error")
_MA_ROUNDS = 12  # value-iteration rounds (absorption is geometric)


def _ma_round_sql(i: int) -> str:
    """One value-iteration round as SQL: v'(variant, s) = sum_t
    P_variant(s, t) * v(variant, t) for transient s; absorbing states
    pinned. r10 per round (the PageRank discipline)."""
    prev = f"v{i - 1}"
    from modforms_db_spark.oracle_dialect import R

    # the absorbing rows are CONSTANTS (conv = 1, null = 0), emitted as
    # literals so each round references the previous round exactly ONCE —
    # a second back-reference makes un-materialized CTE inlining expand
    # the upstream tree 2^rounds times (DuckDB ran out of file handles
    # re-opening events.parquet ~4096 times; caught at build).
    return f"""
    v{i} AS (
      SELECT p.variant, p.s AS state,
             {R(f"SUM(p.pr * {prev}.val)", 10)} AS val
      FROM pmat p JOIN {prev} ON p.variant = {prev}.variant
                              AND p.t = {prev}.state
      GROUP BY 1, 2
      UNION ALL
      SELECT variant, 'conv' AS state, 1.0 AS val FROM variants
      UNION ALL
      SELECT variant, 'null' AS state, 0.0 AS val FROM variants
    )"""


_MA_ORACLE = (
    """
    WITH all_ev AS (
      SELECT user_id, CAST(day(ts) AS BIGINT) AS d, ts, event_id, event_type,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, CAST(day(ts) AS BIGINT)) AS conv
      FROM events
    ), t2 AS (
      SELECT *, LEAD(event_type) OVER w AS nxt, ROW_NUMBER() OVER w AS rn
      FROM (SELECT * FROM all_ev WHERE event_type != 'purchase')
      WINDOW w AS (PARTITION BY user_id, d ORDER BY ts, event_id)
    ), trans AS (
      SELECT 'start' AS s, event_type AS t FROM t2 WHERE rn = 1
      UNION ALL
      SELECT event_type AS s, nxt AS t FROM t2 WHERE nxt IS NOT NULL
      UNION ALL
      SELECT event_type AS s,
             CASE WHEN conv = 1 THEN 'conv' ELSE 'null' END AS t
      FROM t2 WHERE nxt IS NULL
    ), counts AS (
      SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c FROM trans GROUP BY 1, 2
    ), variants AS (
      SELECT UNNEST(['full', 'no_click', 'no_view', 'no_signup', 'no_error'])
        AS variant
    ), redirected AS (
      SELECT v.variant, c.s,
             CASE WHEN v.variant != 'full'
                   AND c.t = regexp_replace(v.variant, '^no_', '')
                  THEN 'null' ELSE c.t END AS t,
             c.c
      FROM counts c CROSS JOIN variants v
    ), aggm AS (
      SELECT variant, s, t, CAST(SUM(c) AS BIGINT) AS c
      FROM redirected GROUP BY 1, 2, 3
    ), pmat AS (
      SELECT variant, s, t,
             """
    + R("c * 1.0 / SUM(c) OVER (PARTITION BY variant, s)", 10)
    + """ AS pr
      FROM aggm
    ), v0 AS (
      SELECT v.variant, st.state,
             CASE WHEN st.state = 'conv' THEN 1.0 ELSE 0.0 END AS val
      FROM variants v CROSS JOIN
           (SELECT UNNEST(['start', 'click', 'view', 'signup', 'error',
                           'conv', 'null']) AS state) st
    ),
    """
    + ",".join(_ma_round_sql(i) for i in range(1, _MA_ROUNDS + 1))
    + f"""
    , p_start AS (
      SELECT variant, val AS p_conv FROM v{_MA_ROUNDS} WHERE state = 'start'
    ), full_p AS (
      SELECT p_conv AS p_full FROM p_start WHERE variant = 'full'
    ), rem AS (
      SELECT regexp_replace(variant, '^no_', '') AS channel,
             """
    + R("(f.p_full - p.p_conv) / f.p_full", 10)
    + f"""
               AS re, p.p_conv, f.p_full
      FROM p_start p CROSS JOIN full_p f
      WHERE p.variant != 'full'
    ), tot AS (SELECT SUM(re) AS tot_re FROM rem)
    SELECT channel,
           {R4('p_conv')} AS p_removed4,
           {R4('re')} AS removal_effect4,
           {R4('re / tot.tot_re')} AS share4
    FROM rem CROSS JOIN tot
    """
)


@register(
    "q_markov_attribution",
    oracle=_MA_ORACLE,
    priority="P2",
    tags=("temporal", "events", "attribution", "markov"),
)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.) — the
    industry counterpart to `q_attribution_shapley` (Shapley prices
    coalition PRESENCE; the Markov model prices PATH structure, so
    order and repetition matter): fit a first-order chain over
    (user, day) journeys (start -> touches -> conv/null), compute the
    absorbing conversion probability from 'start' by value
    iteration, then for each channel REDIRECT every edge into it to
    'null' and recompute — the relative drop is the channel's
    removal effect, normalized into attribution shares.

    All five chain variants (full + 4 removals) iterate as ONE keyed
    frame: the transition matrix is (variant, from, to, p) with r10
    probabilities, and each of the {_MA_ROUNDS} rounds is a single
    join + groupBy over that ~250-row frame — the `q_ipf_raking` /
    PageRank iteration discipline, identical in both engines.
    Absorption is geometric (every journey ends), so {_MA_ROUNDS}
    rounds converge far past the r4 reporting grain.

    Scale: the data-sized work is ONE pass to journey transitions
    (window lead over (user, day) orderings); everything after the
    (from, to) count collapse is a broadcast-sized matrix. Removal
    variants multiply the TINY frame, never the data."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    touches = (
        ev.select(
            "user_id",
            F.dayofmonth("ts").cast("bigint").alias("d"),
            "ts",
            "event_id",
            "event_type",
        )
        .withColumn(
            "conv",
            F.max((F.col("event_type") == "purchase").cast("int")).over(
                Window.partitionBy("user_id", "d")
            ),
        )
        .where(F.col("event_type") != "purchase")
        .withColumn("nxt", F.lead("event_type").over(w))
        .withColumn("rn", F.row_number().over(w))
    )
    ends = F.when(F.col("conv") == 1, F.lit("conv")).otherwise(F.lit("null"))
    trans = (
        touches.where(F.col("rn") == 1)
        .select(F.lit("start").alias("s"), F.col("event_type").alias("t"))
        .unionByName(
            touches.where(F.col("nxt").isNotNull()).select(
                F.col("event_type").alias("s"), F.col("nxt").alias("t")
            )
        )
        .unionByName(
            touches.where(F.col("nxt").isNull()).select(
                F.col("event_type").alias("s"), ends.alias("t")
            )
        )
    )
    counts = trans.groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)  # five variant projections
    variants = ["full"] + [f"no_{c}" for c in _MA_CHANNELS]
    vdim = spark.range(len(variants)).select(
        F.element_at(
            F.array(*[F.lit(v) for v in variants]), (F.col("id") + 1).cast("int")
        ).alias("variant")
    )
    removed = F.regexp_replace("variant", "^no_", "")
    redirected = counts.crossJoin(F.broadcast(vdim)).select(
        "variant",
        "s",
        F.when(
            (F.col("variant") != "full") & (F.col("t") == removed),
            F.lit("null"),
        )
        .otherwise(F.col("t"))
        .alias("t"),
        "c",
    )
    agg = redirected.groupBy("variant", "s", "t").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    wsum = Window.partitionBy("variant", "s")
    pmat = agg.select(
        "variant",
        "s",
        "t",
        F.round(F.col("c") * 1.0 / F.sum("c").over(wsum), 10).alias("pr"),
    ).localCheckpoint(eager=False)  # reused every iteration round
    states = ["start", *_MA_CHANNELS, "conv", "null"]
    sdim = spark.range(len(states)).select(
        F.element_at(
            F.array(*[F.lit(s) for s in states]), (F.col("id") + 1).cast("int")
        ).alias("state")
    )
    v = vdim.crossJoin(F.broadcast(sdim)).select(
        "variant",
        "state",
        F.when(F.col("state") == "conv", 1.0).otherwise(0.0).alias("val"),
    )
    for _ in range(_MA_ROUNDS):
        trans_v = (
            pmat.join(
                v.select(
                    F.col("variant").alias("v_var"),
                    F.col("state").alias("t_state"),
                    "val",
                ),
                (F.col("variant") == F.col("v_var"))
                & (F.col("t") == F.col("t_state")),
            )
            .groupBy("variant", F.col("s").alias("state"))
            .agg(F.round(F.sum(F.col("pr") * F.col("val")), 10).alias("val"))
        )
        absorbing = vdim.select(
            "variant", F.lit("conv").alias("state"), F.lit(1.0).alias("val")
        ).unionByName(
            vdim.select(
                "variant", F.lit("null").alias("state"),
                F.lit(0.0).alias("val"),
            )
        )
        v = trans_v.unionByName(absorbing).localCheckpoint(eager=False)
    p_start = v.where(F.col("state") == "start").select(
        "variant", F.col("val").alias("p_conv")
    )
    full = p_start.where(F.col("variant") == "full").select(
        F.col("p_conv").alias("p_full")
    )
    rem = (
        p_start.where(F.col("variant") != "full")
        .crossJoin(F.broadcast(full))
        .select(
            F.regexp_replace("variant", "^no_", "").alias("channel"),
            F.round((F.col("p_full") - F.col("p_conv")) / F.col("p_full"), 10)
            .alias("re"),
            "p_conv",
            "p_full",
        )
        .localCheckpoint(eager=False)  # share normalization re-reads
    )
    tot = rem.agg(F.sum("re").alias("tot_re"))
    return rem.crossJoin(F.broadcast(tot)).select(
        "channel",
        r4(F.col("p_conv")).alias("p_removed4"),
        r4(F.col("re")).alias("removal_effect4"),
        r4(F.col("re") / F.col("tot_re")).alias("share4"),
    )


_LB_LAGS = 5
_LB_CRIT = 15.0863  # chi-square(5) upper 1% point
# daily grain for Ljung-Box: r4 MEAN in cents (means keep the n-scaled
# centered products inside bigint at every SF; daily SUMS overflow)
_LB_DAILY_M2 = R(f"({R4('AVG(value)')} * 100)", 0)


@register(
    "q_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_LB_DAILY_M2} AS BIGINT) AS m2
      FROM events GROUP BY 1, 2
    ), walk AS (
      SELECT event_type, d,
             CAST(SUM(m2) OVER (PARTITION BY event_type ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
      FROM daily
    ), streams AS (
      SELECT event_type AS stream, d, m2 AS x FROM daily
      UNION ALL
      SELECT 'randomwalk_planted' AS stream, d, cum2 AS x
      FROM walk WHERE event_type = 'click'
    ), stats AS (
      SELECT stream, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s
      FROM streams GROUP BY 1
    ), w AS (
      SELECT t.stream, t.d, st.n, t.x * st.n - st.s AS wv
      FROM streams t JOIN stats st ON t.stream = st.stream
    ), rho AS (
      SELECT a.stream, k.k, MIN(a.n) AS n,
             {R('SUM(a.wv * b.wv) * 1.0'
                ' / MIN(den.d0)', 10)} AS rho
      FROM w a
      JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_LB_LAGS})) AS k) k ON TRUE
      JOIN w b ON a.stream = b.stream AND b.d = a.d + k.k
      JOIN (SELECT stream, CAST(SUM(wv * wv) AS BIGINT) AS d0
            FROM w GROUP BY 1) den ON a.stream = den.stream
      GROUP BY a.stream, k.k
    )
    , terms AS (
      SELECT stream, n, rho * rho / (n - k) AS term FROM rho
    )
    SELECT stream, MIN(n) AS n,
           {R4('MIN(n) * (MIN(n) + 2.0) * SUM(term)')} AS lb4,
           {R4('MIN(n) * (MIN(n) + 2.0) * SUM(term)')} > {_LB_CRIT!r}
             AS reject
    FROM terms GROUP BY stream
    """,
    priority="P2",
    tags=("temporal", "timeseries", "statistics"),
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test over lags 1..{_LB_LAGS} — the
    VERDICT layer for `q_autocorrelation` (which reports the ACF;
    LB asks "is there ANY serial structure?", jointly across lags —
    the whiteness gate run on model residuals and on metrics before
    trusting i.i.d.-assuming monitors): LB = n(n+2) * sum rho_k^2 /
    (n-k) ~ chi-square(m) under independence, alpha = 0.01.

    Streams on the CENTS-MEAN daily grain (means, not sums — the
    n-scaled centered products w_t = n*x_t - S stay inside bigint at
    every SF; the sum grain overflows at sf0.1, sized before
    shipping): organic daily means are i.i.d. (ACCEPT), and the
    planted stream is the running CUMSUM of click means — a random
    walk, the canonical serially-dependent process (rho_1 ~ 0.9, LB
    explodes — REJECT). Autocovariances are exact bigint
    cross-products over exact centered integers; each rho is one r10
    division; LB is one r4 formula over the 5-row rho frame.

    Scale: lag joins and the LB reduction run on the calendar-bounded
    daily grain; raw events enter through one partial-agg pass."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(
            F.round(r4(F.avg("value")) * 100, 0).cast("bigint").alias("m2")
        )
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = daily.select(
        "event_type", "d", F.sum("m2").over(w_cum).cast("bigint").alias("cum2")
    )
    streams = (
        daily.select(F.col("event_type").alias("stream"), "d", F.col("m2").alias("x"))
        .unionByName(
            walk.where(F.col("event_type") == "click").select(
                F.lit("randomwalk_planted").alias("stream"),
                "d",
                F.col("cum2").alias("x"),
            )
        )
    )
    stats = streams.groupBy("stream").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    w = streams.join(F.broadcast(stats), "stream").select(
        "stream",
        "d",
        "n",
        (F.col("x") * F.col("n") - F.col("s")).alias("wv"),
    ).localCheckpoint(eager=False)  # lag join (both sides) + denominator
    den = w.groupBy("stream").agg(
        F.sum(d38("wv") * F.col("wv")).alias("d0")
    )
    ks = spark.range(1, _LB_LAGS + 1).select(F.col("id").alias("k"))
    b = w.select(
        F.col("stream").alias("stream_b"),
        F.col("d").alias("d_b"),
        F.col("wv").alias("wv_b"),
    )
    rho = (
        w.crossJoin(F.broadcast(ks))
        .join(
            b,
            (F.col("stream") == F.col("stream_b"))
            & (F.col("d_b") == F.col("d") + F.col("k")),
        )
        .join(F.broadcast(den), "stream")
        .groupBy("stream", "k")
        .agg(
            F.min("n").alias("n"),
            F.round(
                F.sum(d38("wv") * F.col("wv_b")) * 1.0 / F.min("d0"), 10
            ).alias("rho"),
        )
    )
    terms = rho.select(
        "stream",
        "n",
        (F.col("rho") * F.col("rho") / (F.col("n") - F.col("k"))).alias(
            "term"
        ),
    )
    lb4 = r4(F.min("n") * (F.min("n") + 2.0) * F.sum("term"))
    return terms.groupBy("stream").agg(
        F.min("n").alias("n"),
        lb4.alias("lb4"),
        (lb4 > _LB_CRIT).alias("reject"),
    )


_BINSEG_REL = 0.45   # accept a split iff gain > REL * segment SS
_BINSEG_MINSIDE = 4  # minimum points on each side of a split
_BINSEG_SHIFT = 100000  # planted level shift, cents (~20x daily-mean scale)


def _binseg_round_sql(i: int) -> str:
    """One binary-segmentation round as SQL over seg{i-1}(stream, seg,
    d, x): per-segment prefix stats, best admissible split by gain
    (ties to the earliest day), segments re-keyed where accepted.
    Also emits cps{i} with the accepted changepoints."""
    p = f"seg{i - 1}"
    from modforms_db_spark.oracle_dialect import R4

    return f"""
    st{i} AS (
      SELECT stream, seg, d, x,
             CAST(SUM(x) OVER w AS BIGINT) AS c1,
             CAST(SUM(x * x) OVER w AS BIGINT) AS c2,
             CAST(ROW_NUMBER() OVER (PARTITION BY stream, seg ORDER BY d)
                  AS BIGINT) AS r,
             CAST(SUM(x) OVER p AS BIGINT) AS t1,
             CAST(SUM(x * x) OVER p AS BIGINT) AS t2,
             CAST(COUNT(*) OVER p AS BIGINT) AS n
      FROM {p}
      WINDOW w AS (PARTITION BY stream, seg ORDER BY d
                   ROWS UNBOUNDED PRECEDING),
             p AS (PARTITION BY stream, seg)
    ), g{i} AS (
      SELECT stream, seg, d, r, n,
             (t2 - t1 * CAST(t1 AS DOUBLE) / n)
               - ((c2 - c1 * CAST(c1 AS DOUBLE) / r)
                  + ((t2 - c2) - (t1 - c1) * CAST(t1 - c1 AS DOUBLE)
                     / (n - r))) AS gain,
             t2 - t1 * CAST(t1 AS DOUBLE) / n AS ss_seg
      FROM st{i}
      WHERE r >= {_BINSEG_MINSIDE} AND n - r >= {_BINSEG_MINSIDE}
        AND n >= 2 * {_BINSEG_MINSIDE}
    ), best{i} AS (
      SELECT * FROM (
        SELECT stream, seg, d AS cp_d, gain, ss_seg,
               ROW_NUMBER() OVER (PARTITION BY stream, seg
                 ORDER BY gain DESC, d) AS rk
        FROM g{i}
      ) WHERE rk = 1 AND ss_seg > 0 AND gain > {_BINSEG_REL} * ss_seg
    ), cps{i} AS (
      SELECT stream, CAST({i} AS BIGINT) AS level, cp_d,
             {R4('gain / ss_seg')} AS rel_gain4
      FROM best{i}
    ), seg{i} AS (
      SELECT s.stream,
             s.seg * 2 + CASE WHEN b.cp_d IS NOT NULL AND s.d > b.cp_d
                              THEN 1 ELSE 0 END AS seg,
             s.d, s.x
      FROM {p} s LEFT JOIN best{i} b
        ON s.stream = b.stream AND s.seg = b.seg
    )"""


@register(
    "q_changepoint_binseg",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS BIGINT) AS d,
             CAST({_LB_DAILY_M2} AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), seg0 AS (
      SELECT event_type AS stream, 1 AS seg, d, x FROM daily
      UNION ALL
      SELECT 'shifts_planted' AS stream, 1 AS seg, d,
             x + CASE WHEN d >= 11 THEN {_BINSEG_SHIFT} ELSE 0 END
               + CASE WHEN d >= 21 THEN {_BINSEG_SHIFT} ELSE 0 END AS x
      FROM daily WHERE event_type = 'click'
    ),
    {_binseg_round_sql(1)},
    {_binseg_round_sql(2)}
    SELECT stream, level, cp_d, rel_gain4 FROM cps1
    UNION ALL
    SELECT stream, level, cp_d, rel_gain4 FROM cps2
    """,
    priority="P2",
    tags=("temporal", "timeseries", "changepoint"),
)
def q_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline MULTI-changepoint detection by binary segmentation
    (depth 2, up to 3 changepoints) — the retrospective complement to
    `q_changepoint_cusum`'s single-change online monitor: repeatedly
    split the series at the point maximizing the between-segment
    sum-of-squares reduction, accept a split only when it explains >
    {_BINSEG_REL:.0%} of the segment's SS with >= {_BINSEG_MINSIDE}
    points per side (measured organic max relative gain is 0.21
    across shipped SFs — the threshold clears it with margin), then
    recurse into the accepted halves.

    Planted: the click stream plus two level shifts (d >= 11 and
    d >= 21, each ~20x the daily-mean scale) — the two candidate
    first splits (d = 10, d = 20) are gain-TIED in theory (equal
    thirds), so organic noise picks one and level 2 recovers the
    other inside the remaining long half; both boundaries emitted
    at every SF is the law. Organic streams emit NOTHING (no admissible split
    clears the threshold — the honest negative is an empty group,
    not a row of false positives). Segment stats are exact bigint
    prefix sums on the cents-mean daily grain (shift sized so x^2
    stays far inside bigint); gains are single double formulas over
    them; acceptance compares r4-stable ratios.

    Scale: every window is (stream, segment)-partitioned over the
    calendar-bounded daily grain; depth-2 recursion is two identical
    relational rounds (the q_ipf_raking loop discipline), each a
    constant number of window passes regardless of data size."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").cast("bigint").alias("d"))
        .agg(F.round(r4(F.avg("value")) * 100, 0).cast("bigint").alias("x"))
        .localCheckpoint(eager=False)  # organic + planted legs
    )
    plant = (
        F.col("x")
        + F.when(F.col("d") >= 11, _BINSEG_SHIFT).otherwise(0)
        + F.when(F.col("d") >= 21, _BINSEG_SHIFT).otherwise(0)
    )
    seg = daily.select(
        F.col("event_type").alias("stream"),
        F.lit(1).cast("bigint").alias("seg"),
        "d",
        "x",
    ).unionByName(
        daily.where(F.col("event_type") == "click").select(
            F.lit("shifts_planted").alias("stream"),
            F.lit(1).cast("bigint").alias("seg"),
            "d",
            plant.alias("x"),
        )
    )
    cps = None
    for level in (1, 2):
        seg = seg.localCheckpoint(eager=False)  # stats + split legs
        wp = Window.partitionBy("stream", "seg")
        wo = wp.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
        st = seg.select(
            "stream",
            "seg",
            "d",
            "x",
            F.sum("x").over(wo).cast("bigint").alias("c1"),
            F.sum(d38("x") * F.col("x")).over(wo).alias("c2"),
            F.row_number().over(wp.orderBy("d")).cast("bigint").alias("r"),
            F.sum("x").over(wp).cast("bigint").alias("t1"),
            F.sum(d38("x") * F.col("x")).over(wp).alias("t2"),
            F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
        )
        ss_seg = F.col("t2") - F.col("t1") * F.col("t1").cast("double") / F.col("n")
        gain = ss_seg - (
            (F.col("c2") - F.col("c1") * F.col("c1").cast("double") / F.col("r"))
            + (
                (F.col("t2") - F.col("c2"))
                - (F.col("t1") - F.col("c1"))
                * (F.col("t1") - F.col("c1")).cast("double")
                / (F.col("n") - F.col("r"))
            )
        )
        g = st.where(
            (F.col("r") >= _BINSEG_MINSIDE)
            & (F.col("n") - F.col("r") >= _BINSEG_MINSIDE)
            & (F.col("n") >= 2 * _BINSEG_MINSIDE)
        ).select(
            "stream", "seg", "d",
            gain.alias("gain"), ss_seg.alias("ss_seg"),
        )
        w_rk = Window.partitionBy("stream", "seg").orderBy(
            F.desc("gain"), F.asc("d")
        )
        best = (
            g.withColumn("rk", F.row_number().over(w_rk))
            .where(
                (F.col("rk") == 1)
                & (F.col("ss_seg") > 0)
                & (F.col("gain") > _BINSEG_REL * F.col("ss_seg"))
            )
            .select(
                "stream", "seg", F.col("d").alias("cp_d"),
                r4(F.col("gain") / F.col("ss_seg")).alias("rel_gain4"),
            )
            .localCheckpoint(eager=False)  # cps leg + split leg
        )
        level_cps = best.select(
            "stream", F.lit(level).cast("bigint").alias("level"),
            "cp_d", "rel_gain4",
        )
        cps = level_cps if cps is None else cps.unionByName(level_cps)
        b = best.select(
            F.col("stream").alias("stream_b"),
            F.col("seg").alias("seg_b"),
            "cp_d",
        )
        seg = (
            seg.join(
                F.broadcast(b),
                (F.col("stream") == F.col("stream_b"))
                & (F.col("seg") == F.col("seg_b")),
                "left",
            )
            .select(
                "stream",
                (
                    F.col("seg") * 2
                    + F.when(
                        F.col("cp_d").isNotNull()
                        & (F.col("d") > F.col("cp_d")),
                        1,
                    ).otherwise(0)
                ).alias("seg"),
                "d",
                "x",
            )
        )
    return cps
