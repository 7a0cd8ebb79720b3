"""Batch ≡ stream equivalence (SURVEY.md §5.2 layer 3).

The streaming queries are rows-only for the driver; their correctness
anchor is equality with the oracle-checked batch twins, asserted here.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.registry import get_registry

from tests.conftest import SF_DIR, canon


def _run(spark, name):
    return get_registry()[name].builder(spark, SF_DIR)


def test_stream_tumbling_equals_batch_twin(spark):
    stream = canon(_run(spark, "q_stream_tumbling").toPandas())
    batch = canon(_run(spark, "q_win_tumbling").toPandas())
    assert stream.equals(batch)


def test_stream_runs_leave_no_memory_sink_views(spark):
    """Each run's memory-sink view is dropped once its frame is taken,
    and the frame still holds the rows."""
    before = sorted(t.name for t in spark.catalog.listTables())
    counts = [_run(spark, "q_stream_tumbling").count() for _ in range(3)]
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    assert counts[0] > 0 and len(set(counts)) == 1, counts


def test_stream_session_equals_batch_twin(spark):
    """session_window in a watermarked stream must produce exactly the
    batch sessionization (complete mode, availableNow ⇒ all sessions)."""
    stream = canon(_run(spark, "q_stream_session").toPandas())
    batch = canon(_run(spark, "q_win_session").toPandas())
    assert stream.equals(batch)


def test_stream_dedup_recovers_distinct(spark):
    """Doubled source + dropDuplicates == original events exactly."""
    got = canon(
        _run(spark, "q_stream_dedup")
        .select("event_id", "user_id", "event_type")
        .toPandas()
    )
    want = canon(
        load(spark, SF_DIR, "events")
        .select("event_id", "user_id", "event_type")
        .toPandas()
    )
    assert got.equals(want)


def test_stream_late_drops_old_half(spark):
    """Batch-2 (old-half) rows are beyond the batch-1 watermark → the
    emitted windows must all be from the recent half, and every recent
    window closed by the final watermark must match the batch twin."""
    out = _run(spark, "q_stream_late").toPandas()
    assert len(out) > 0
    ev = load(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    split_ts = ev.agg(
        F.expr("timestamp_micros(cast(percentile(unix_micros(ts), 0.5) as bigint))")
    ).first()[0]
    # Every emitted window starts at/after the hour containing split_ts - 1h
    # (a window straddling the split may contain recent rows; nothing older).
    import pandas as pd

    floor_split = pd.Timestamp(split_ts).floor("h")
    assert (pd.to_datetime(out["ws"]) >= floor_split).all()

    # Emitted counts agree with a batch computation over the recent half.
    batch = (
        ev.where(F.col("ts") >= F.lit(split_ts))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .toPandas()
    )
    merged = out.merge(batch, on=["ws", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(out)  # every emitted window exists in batch
    assert (merged["n_s"] == merged["n_b"]).all()


def test_stream_stateful_equals_batch_groupby(spark):
    got = canon(_run(spark, "q_stream_stateful").toPandas())
    want = canon(
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    assert got.equals(want)


def test_stream_sliding_equals_batch_twin(spark):
    stream = canon(_run(spark, "q_stream_sliding").toPandas())
    batch = canon(_run(spark, "q_win_sliding").toPandas())
    assert stream.equals(batch)


def test_stream_upsert_store_equals_batch_groupby(spark):
    """Replaying the whole events table through the foreachBatch MERGE
    must leave the store identical to a batch groupBy over all events."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load
    from tests.conftest import SF_DIR

    store = canon(_run(spark, "q_stream_upsert").toPandas())
    batch = canon(
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .toPandas()
    )
    assert store.equals(batch)


def test_stream_join_equals_batch_twin(spark):
    """Watermarked stream-stream attribution join (append mode,
    availableNow ⇒ final watermark passes everything) must emit exactly
    the batch interval-join pairs."""
    stream = canon(_run(spark, "q_stream_join").toPandas())
    batch = canon(_run(spark, "q_join_stream_twin").toPandas())
    assert len(batch) > 0
    assert stream.equals(batch)


def test_stream_outer_join_equals_batch_left_join(spark):
    """LEFT OUTER stream-stream join: matched pairs ≡ the batch inner
    join, plus one NULL-extended row per never-converted view WHOSE
    30-min horizon the final global watermark closed — a view still
    inside the horizon keeps waiting in state and its negative is
    (correctly) never emitted. The twin reproduces that watermark
    filter exactly."""
    import pandas as pd

    from modforms_db_spark.io import load
    from tests.conftest import SF_DIR

    stream = canon(_run(spark, "q_stream_outer_join").toPandas())

    e = load(spark, SF_DIR, "events")
    v = e.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    # Final global watermark = min over the two inputs of (max event
    # time − 1 h delay); negatives are provable only once it passes
    # v_ts + 30 min.
    wm = min(
        v.agg(F.max("v_ts")).collect()[0][0],
        p.agg(F.max("p_ts")).collect()[0][0],
    ) - pd.Timedelta(hours=1)
    joined = v.join(
        p,
        (v["user_id"] == p["p_user_id"])
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    batch = canon(
        joined.where(
            F.col("purchase_id").isNotNull()
            | (F.col("v_ts") + F.expr("INTERVAL 30 MINUTES") < F.lit(wm))
        )
        .select(
            v["user_id"],
            "view_id",
            "purchase_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("delay_s"),
        )
        .toPandas()
    )
    assert len(batch) > 0
    assert (batch["purchase_id"].isna()).any()  # negatives present
    assert stream.equals(batch)


def test_stream_dedup_watermark_recovers_ids(spark):
    """Source + 1s-shifted replay + dropDuplicatesWithinWatermark ==
    one row per event_id, with (user_id, event_type) intact. The ts of
    the surviving row is whichever sighting a task saw first (original
    or replay), so the law compares the time-free projection."""
    got = canon(
        _run(spark, "q_stream_dedup_watermark")
        .select("event_id", "user_id", "event_type")
        .toPandas()
    )
    want = canon(
        load(spark, SF_DIR, "events")
        .select("event_id", "user_id", "event_type")
        .toPandas()
    )
    assert got.equals(want)


def test_stream_sprt_equals_batch_monitor(spark):
    """The streaming SPRT's final per-stream verdict/stop-point must equal
    the batch twin q_sprt_monitor exactly — decision, stopping row, LLR at
    stop, and total observations."""
    got = canon(_run(spark, "q_stream_sprt").toPandas())
    want = canon(_run(spark, "q_sprt_monitor").toPandas())
    assert got.equals(want), (got, want)


def test_stream_topk_equals_batch_top5(spark):
    got = canon(_run(spark, "q_stream_topk").toPandas())
    want = canon(
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(5)
        .toPandas()
    )
    assert got.equals(want), (got, want)


def test_stream_online_moments_equal_batch(spark):
    """Integer moment carries are batch-split-independent: the streaming
    final (n, s2, ss2) per stream must equal the batch aggregates
    exactly; the prequential anomaly count is bounded by n."""
    got = _run(spark, "q_stream_online_moments").toPandas()
    want = (
        load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("s2"),
            F.sum(
                F.pow(F.round(F.col("value") * 100, 0).cast("bigint"), 2)
            )
            .cast("bigint")
            .alias("ss2"),
        )
        .toPandas()
    )
    g = canon(got[["event_type", "n", "s2", "ss2"]])
    w = canon(want)
    assert g.equals(w), (g, w)
    assert (got["n_anomalies"] <= got["n"]).all()
