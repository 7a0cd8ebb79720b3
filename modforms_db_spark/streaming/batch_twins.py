"""Batch twins of the streaming queries — SURVEY.md §2.9.

Streaming results can't be hash-matched by a DuckDB oracle, so every
Structured Streaming query in streams.py has a batch twin here with
identical semantics; the twins ARE oracle-checked, and
tests/test_streaming.py asserts stream ≡ twin.

`window()` / `session_window()` work identically in batch mode — same
expressions, same results — which is exactly why the twin strategy is
sound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.registry import register


@register(
    "q_win_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n
    FROM events GROUP BY ws, event_type
    """,
    priority="P1",
    tags=("streaming", "window"),
)
def q_win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows × event type. Epoch-aligned 1h windows ≡
    date_trunc('hour')."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )


@register(
    "q_win_sliding",
    oracle="""
    WITH offs AS (SELECT unnest([0, 1, 2, 3]::BIGINT[]) AS j)
    SELECT make_timestamp(
             ((epoch_us(ts) - j * 900000000) // 3600000000) * 3600000000
             + j * 900000000) AS ws,
           event_type, COUNT(*) AS n
    FROM events CROSS JOIN offs
    GROUP BY ws, event_type
    """,
    priority="P2",
    tags=("streaming", "window"),
)
def q_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min — each event lands in exactly 4
    windows. The oracle enumerates the 4 candidate window starts per event
    (slide-offset arithmetic in epoch micros)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )


@register(
    "q_win_session",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
    FROM s GROUP BY user_id, session_id
    """,
    priority="P2",
    tags=("streaming", "session"),
)
def q_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min inactivity gap): count + duration.
    Spark session_window end = last event + gap, so duration-of-activity =
    (end - start) - gap; the oracle's gaps-and-islands computes max-min
    directly — identical values."""
    e = load(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes").alias("w")
    gap_us = 30 * 60 * 1_000_000
    return (
        e.groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            (
                F.unix_micros(F.col("w.end").cast("timestamp"))
                - F.unix_micros(F.col("w.start").cast("timestamp"))
                - F.lit(gap_us)
            ).alias("dur_us"),
        )
    )


@register(
    "q_join_stream_twin",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS delay_s
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    priority="P2",
    tags=("streaming", "join"),
)
def q_join_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of q_stream_join: (view, purchase) pairs per user where
    the purchase lands within 30 minutes of the view — the attribution
    join. Identical semantics to the watermarked stream-stream join
    (tests/test_streaming.py asserts equality).

    Scale: equality key user_id dominates the join; the time-range is a
    residual predicate, so this is a plain shuffled hash join on user_id —
    the same physical shape the streaming version's state store uses.
    """
    e = load(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    return (
        v.join(p, "user_id")
        .where(
            (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias(
                "delay_s"
            ),
        )
    )
