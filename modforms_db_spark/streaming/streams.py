"""True Structured Streaming queries — SURVEY.md §2.9 (P3/P4).

Each builder runs a real ``readStream`` pipeline to completion with an
``availableNow`` trigger and a memory sink, then returns the sink contents
as a batch DataFrame (the driver collects it; rows-only check — streaming
results can't be DuckDB-hash-matched, so correctness is established by the
batch-twin equivalence tests in tests/test_streaming.py against the
oracle-checked twins in batch_twins.py).

Reference capability [R]: the reference's ingest was batch-only (rerunnable
compute jobs, idempotent re-ingest via GridFS find-before-insert); the
streaming surface is the north-star LLM-pipeline extension
(BASELINE.json:6) — incremental corpus ingest with exactly-once dedup,
late-data discipline, and running per-user state.

Scale notes (100 TB / 1000-executor):

- The file source scales by listing: ``maxFilesPerTrigger`` bounds batch
  size; state (agg windows, dedup keys, per-user counts) lives in the
  executor state store, sized by watermark horizon × key cardinality — the
  watermark is what keeps state finite, which is why every query here
  declares one.
- Memory sink is test-only; a deployment writes ``toTable``/kafka. The
  query shapes (watermarked window agg, watermarked dropDuplicates,
  applyInPandasWithState) are the deployment shapes verbatim.
- ``transformWithStateInPandas`` (Spark 4's successor stateful API) was
  probed and is NOT runnable here: its Python worker requires
  ``google.protobuf`` (absent in this environment, installs forbidden) —
  the driver worker crashes on import. ``applyInPandasWithState`` is the
  shipped arbitrary-state shape; the migration is mechanical (ValueState
  per user replaces the GroupState dict).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modforms_db_spark.io import load
from modforms_db_spark.registry import register
from modforms_db_spark.session import scoped_conf, scratch

# Confs pinned for the span of every stream run (start through
# termination: a streaming query reads its files in micro-batches).
# - shuffle partitions: streaming state stores partition by it at first
#   checkpoint, AQE is disabled for stateful workloads, and a driver's
#   session may keep the 200 default — 200 state-store tasks over 10k
#   rows is pure overhead. At production scale this is the one knob that
#   MUST be sized to the cluster before the first run, because it's
#   frozen into the checkpoint.
# - nanosAsLong: surfaces a timestamp[ns] events file as bigint nanos
#   (see _raw_events_schema); a no-op for every other source.
_STREAM_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _raw_events_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """Streaming sources need an explicit schema; the driver's events.parquet
    has shipped with both timestamp[ns] (read as INT64 nanos under
    nanosAsLong=true) and timestamp[us] physical types — probe the footer
    (pyarrow, metadata-only) and declare accordingly."""
    import pyarrow.parquet as pq

    import pyarrow as pa

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    # Unit-based check: str(t) would miss tz-annotated variants like
    # "timestamp[ns, tz=UTC]" and mis-declare the stream schema while
    # nanosAsLong still surfaces the column as bigint.
    is_nanos = pa.types.is_timestamp(t) and t.unit == "ns"
    ts_field = T.LongType() if is_nanos else T.TimestampNTZType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_field),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, is_nanos


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table with the same ns→µs normalization
    as the batch reader (io.py) — identical values, streaming source.
    The stream must run under ``_STREAM_CONF``."""
    schema, is_nanos = _raw_events_schema(sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks require TimestampType (not NTZ) — prep() pins UTC, so the
    # LTZ wall values equal the batch reader's NTZ values exactly.
    ts_col = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if is_nanos
        else F.col("ts").cast("timestamp")
    )
    return raw.select(
        "event_id",
        ts_col.alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _run_available_now(spark: SparkSession, writer) -> None:
    """Start the configured ``writer`` (a DataStreamWriter) with an
    availableNow trigger and wait until it has processed every available
    input, all under ``_STREAM_CONF``."""
    with scoped_conf(spark, _STREAM_CONF):
        writer.trigger(availableNow=True).start().awaitTermination()


def _run_to_table(sdf_writer, name: str, spark: SparkSession) -> DataFrame:
    """Run an availableNow stream into a memory sink named ``name`` and
    return the sink's rows. The sink's temp view is dropped once the
    frame is taken (the frame keeps the rows), so repeated runs do not
    pile up views that hold rows on the driver."""
    try:
        _run_available_now(spark, sdf_writer.queryName(name))
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


@register(
    "q_stream_tumbling",
    oracle=None,  # rows-only; ≡ q_win_tumbling (tests/test_streaming.py)
    priority="P3",
    tags=("streaming",),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → 1h watermark → 1h tumbling window × type → memory sink.

    Complete output mode so the single availableNow batch emits every
    window (append would hold windows the final watermark never passed);
    the watermark still bounds state in a continuous deployment."""
    events = _stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    return _run_to_table(
        agg.writeStream.format("memory").outputMode("complete"),
        "stream_tumbling",
        spark,
    )


@register(
    "q_stream_dedup",
    oracle=None,  # rows-only; ≡ batch distinct (tests/test_streaming.py)
    priority="P3",
    tags=("streaming",),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates(event_id) under a duplicated source.

    The source is unioned with itself (every event arrives exactly twice —
    the reference's idempotent re-ingest scenario); the dedup operator must
    emit each event_id once. Append mode: dedup emits rows immediately and
    the watermark lets state for old keys expire."""
    events = _stream_events(spark, sf_dir)
    doubled = events.union(_stream_events(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "ts", "user_id", "event_type")
    )
    return _run_to_table(
        deduped.writeStream.format("memory").outputMode("append"),
        "stream_dedup",
        spark,
    )


@register(
    "q_stream_late",
    oracle=None,  # rows-only; own late-drop assertion in tests
    priority="P3",
    tags=("streaming",),
)
def q_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data discipline across a restart: run 1 ingests the RECENT half
    of events (watermark advances to max(ts) − 30 min and is persisted in
    the checkpoint); run 2 — same checkpoint, i.e. a query restart — then
    ingests the OLD half, every row of which is now late beyond the
    watermark and is dropped (numRowsDroppedByWatermark > 0, asserted in
    tests). The emitted result is therefore exactly the closed windows of
    the recent half; old-half windows never appear.

    Within a single availableNow run the late filter uses the watermark at
    query start (measured on 4.1.2), so the restart is what makes the drop
    observable — which is also the realistic deployment scenario (late
    data arriving after recovery)."""
    run_dir = scratch(spark, "streams", "late")
    src_dir = os.path.join(run_dir, "src")
    ckpt = os.path.join(run_dir, "ckpt")
    os.makedirs(src_dir)
    # Cast to TimestampType (LTZ) up front: watermarks require it, and
    # writing it means the re-read stream needs no further conversion.
    ev = (
        load(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .cache()
    )
    split_ts = ev.agg(
        F.expr("timestamp_micros(cast(percentile(unix_micros(ts), 0.5) as bigint))")
    ).first()[0]
    schema = ev.schema
    p1, p2 = os.path.join(run_dir, "f1"), os.path.join(run_dir, "f2")
    ev.where(F.col("ts") >= F.lit(split_ts)).coalesce(1).write.parquet(p1)
    ev.where(F.col("ts") < F.lit(split_ts)).coalesce(1).write.parquet(p2)
    ev.unpersist()

    def _publish(part_dir: str, dest: str) -> None:
        f = next(
            fn for fn in os.listdir(part_dir) if fn.endswith(".parquet")
        )
        shutil.copyfile(os.path.join(part_dir, f), os.path.join(src_dir, dest))

    emitted: list = []

    def _run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(src_dir)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )
        _run_available_now(
            spark,
            agg.writeStream.foreachBatch(
                lambda df, _bid: emitted.append(df.toPandas())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt),
        )

    _publish(p1, "recent.parquet")
    _run_once()
    _publish(p2, "old.parquet")
    _run_once()

    import pandas as pd

    out = pd.concat([e for e in emitted if len(e)], ignore_index=True)
    return spark.createDataFrame(
        out, schema="ws timestamp, event_type string, n bigint"
    )


@register(
    "q_stream_session",
    oracle=None,  # rows-only; ≡ q_win_session (tests/test_streaming.py)
    priority="P3",
    tags=("streaming", "session"),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → 30-min watermark → per-user `session_window` (30-min
    inactivity gap) → count + activity duration → memory sink. Same output
    shape as the oracle-checked batch twin `q_win_session`; equivalence is
    asserted in tests. Complete mode so the single availableNow batch
    emits every session; in a continuous deployment the watermark is what
    lets the state store merge-and-expire session state."""
    events = _stream_events(spark, sf_dir)
    sw = F.session_window("ts", "30 minutes").alias("w")
    gap_us = 30 * 60 * 1_000_000
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy("user_id", sw)
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
    return _run_to_table(
        agg.writeStream.format("memory").outputMode("complete"),
        "stream_session",
        spark,
    )


@register(
    "q_stream_stateful",
    oracle=None,  # rows-only; ≡ batch groupBy count (tests)
    priority="P4",
    tags=("streaming", "stateful"),
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user event count via applyInPandasWithState — arbitrary
    stateful op; state is one long per user, updated every micro-batch.
    Update mode emits the running count each batch; the final answer per
    user (counts are monotone) equals the batch groupBy count."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = _stream_events(spark, sf_dir)

    out_schema = "user_id bigint, n_events bigint"
    state_schema = "n bigint"

    def update_count(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counts = events.groupBy("user_id").applyInPandasWithState(
        update_count,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_table(
        counts.writeStream.format("memory").outputMode("update"),
        "stream_stateful",
        spark,
    )
    # Update mode appends one row per (batch, user); running counts are
    # monotone, so max = final. This is a batch agg over the sink table.
    return sink.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@register(
    "q_stream_sliding",
    oracle=None,  # rows-only; ≡ q_win_sliding (tests/test_streaming.py)
    priority="P3",
    tags=("streaming",),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → 1h watermark → 1h window sliding 15 min × type.

    Overlapping windows are the state-heavy streaming case: every event
    lives in 4 windows, so state size is 4× tumbling for the same span —
    the watermark bounding state is what makes this deployable; complete
    mode here only because the single availableNow batch must emit every
    window for the batch-twin equality test."""
    events = _stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    return _run_to_table(
        agg.writeStream.format("memory").outputMode("complete"),
        "stream_sliding",
        spark,
    )


# The schema ``q_stream_upsert``'s merge writes; reading the store back
# with it skips a schema-inference job per read.
_UPSERT_STORE_SCHEMA = "user_id bigint, n_events bigint, total_value double"


@register(
    "q_stream_upsert",
    oracle=None,  # rows-only; own test: store ≡ batch groupBy after replay
    priority="P3",
    tags=("streaming", "merge", "etl"),
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental store build via ``foreachBatch`` MERGE — the streaming
    form of the reference's files→Mongo sync [R] and of every incremental
    DB build: each micro-batch's per-user aggregates are upserted into a
    persistent parquet store (update existing keys, insert new ones).

    ``foreachBatch`` is where Structured Streaming meets batch sinks that
    lack native streaming writers: the batch DataFrame is merged with the
    current store using the same full-outer/COALESCE plan as
    `q_merge_upsert`, then atomically swapped. Exactly-once comes from
    idempotence: re-running a batch produces the same store (tested by
    comparing against a batch groupBy of the whole input).

    Scale: the store would be a Delta/Iceberg table (MERGE INTO compiles
    to this same join) or a partition-overwrite layout; the swap-dir
    pattern here is the minimal transactional write parquet allows.
    """
    events = _stream_events(spark, sf_dir)

    store_dir = scratch(spark, "streams", "upsert_store")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        delta = (
            batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
        )
        cur_path = os.path.join(store_dir, "current")
        if os.path.exists(cur_path):
            cur = sp.read.schema(_UPSERT_STORE_SCHEMA).parquet(cur_path)
            t, s = cur.alias("t"), delta.alias("s")
            merged = (
                t.join(s, F.col("t.user_id") == F.col("s.user_id"), "full_outer")
                .select(
                    F.coalesce(F.col("t.user_id"), F.col("s.user_id")).alias("user_id"),
                    (
                        F.coalesce(F.col("t.n_events"), F.lit(0))
                        + F.coalesce(F.col("s.n_events"), F.lit(0))
                    ).alias("n_events"),
                    F.round(
                        F.coalesce(F.col("t.total_value"), F.lit(0.0))
                        + F.coalesce(F.col("s.total_value"), F.lit(0.0)),
                        4,
                    ).alias("total_value"),
                )
            )
        else:
            merged = delta
        nxt = os.path.join(store_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(nxt)
        # Atomic-enough swap for a local store: point "current" at the new
        # version. A real deployment uses a table format's commit protocol.
        tmp_link = cur_path + ".tmp"
        if os.path.islink(tmp_link):
            os.remove(tmp_link)
        os.symlink(nxt, tmp_link)
        os.replace(tmp_link, cur_path)

    _run_available_now(
        spark,
        events.writeStream.foreachBatch(merge_batch).option(
            "checkpointLocation", os.path.join(store_dir, "_ckpt")
        ),
    )
    return spark.read.schema(_UPSERT_STORE_SCHEMA).parquet(
        os.path.join(store_dir, "current")
    )


@register(
    "q_stream_join",
    oracle=None,  # rows-only; ≡ q_join_stream_twin (tests/test_streaming.py)
    priority="P3",
    tags=("streaming", "join"),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: views joined to purchases by user within
    30 minutes, both sides watermarked 1 hour — the attribution join as a
    true Structured Streaming query (state store holds both sides; the
    time-range condition + watermarks bound eviction).

    Scale: state per key is the watermark horizon's worth of events for
    that user on each side; the range condition lets Spark evict a view
    row once the purchase-side watermark passes v_ts + 30 min. Without
    the range bound, state would be unbounded — this is the canonical
    "always give a stream-stream join a time constraint" shape.
    """
    events = _stream_events(spark, sf_dir)
    v = (
        events.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = (
        v.join(
            p,
            (v["user_id"] == p["user_id"])
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            v["user_id"],
            "view_id",
            "purchase_id",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias(
                "delay_s"
            ),
        )
    )
    return _run_to_table(
        joined.writeStream.format("memory").outputMode("append"),
        "stream_join",
        spark,
    )


@register(
    "q_stream_static_join",
    oracle="""
    WITH dim(event_type, category) AS (
      VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'conversion'), ('signup', 'conversion'),
             ('error', 'ops')
    )
    SELECT e.event_id, e.user_id, d.category, e.ts
    FROM events e JOIN dim d ON e.event_type = d.event_type
    """,
    priority="P3",
    tags=("streaming", "join", "enrichment"),
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join: the event stream joined to a
    static dimension (event_type → category) — the third join shape
    next to the batch joins and the watermarked stream-stream join.
    No watermark and no state store: Spark re-broadcasts the static
    side into every micro-batch, so this is the one streaming join
    that's stateless and append-safe by construction.

    Unlike the stateful streaming rows (rows-only), enrichment is a
    deterministic row mapping, so this query carries a full SQL oracle
    — every emitted row hash-checks against the batch join.

    Scale: the static side is dimension-sized (broadcast); stream-side
    throughput is bounded by the scan, not the join. A slowly-changing
    dimension swaps in via foreachBatch re-read or a Delta-style
    versioned table; the plan shape is unchanged."""
    events = _stream_events(spark, sf_dir)
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "conversion"),
            ("signup", "conversion"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    joined = events.join(F.broadcast(dim), "event_type").select(
        "event_id", "user_id", "category", "ts"
    )
    return _run_to_table(
        joined.writeStream.format("memory").outputMode("append"),
        "stream_static_join",
        spark,
    )


@register(
    "q_stream_outer_join",
    oracle=None,  # streaming; batch-twin equivalence in tests/test_streaming.py
    priority="P3",
    tags=("streaming", "join", "outer"),
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every view, attributed to a
    purchase by the same user within 30 minutes when one exists, else
    NULL-extended — the "did this impression convert?" feed. Unlike the
    inner form (`q_stream_join`), the NULL rows can only be emitted
    when the purchase-side WATERMARK has passed the view's match
    horizon (only then is "no purchase arrived" final) — the state
    store holds the view until eviction proves the negative, which is
    why outer stream-stream joins REQUIRE both watermarks + a time
    bound, not merely benefit from them.

    Scale: state per key = watermark horizon × per-user rate, same as
    the inner join; the extra cost of OUTER is only that view rows
    always live to their full horizon before eviction (inner can drop
    on match). Semantics caveat the batch twin models exactly: a view
    whose 30-min horizon is NOT closed by the final global watermark
    (min over both inputs of max-event-time − 1 h) keeps waiting in
    state — its negative is unprovable, so it is (correctly) never
    emitted; matched pairs are emitted regardless."""
    events = _stream_events(spark, sf_dir)
    v = (
        events.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = v.join(
        p,
        (v["user_id"] == p["p_user_id"])
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(
        v["user_id"],
        "view_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("delay_s"),
    )
    return _run_to_table(
        joined.writeStream.format("memory").outputMode("append"),
        "stream_outer_join",
        spark,
    )


@register(
    "q_stream_checkpoint_resume",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT event_id) AS n_ids
    FROM events GROUP BY event_type
    """,
    priority="P3",
    tags=("streaming", "checkpoint", "exactly-once"),
)
def q_stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed RESTART with exactly-once output: half the events
    are streamed to a parquet file sink (checkpoint + commit log),
    the query STOPS, the second half lands in the source directory,
    and a NEW query started from the SAME checkpoint processes only
    the unseen file — the read-back aggregate (with a distinct-id
    column, so any duplicate or dropped row flips the hash) must equal
    the batch truth over ALL events. This is the recovery contract
    that makes streaming pipelines restartable: offsets live in the
    checkpoint, output visibility in the sink's commit log, and a
    crash between them replays into idempotent file commits.

    Scale: the checkpoint holds offsets + file-source listing state,
    not data; restart cost is reading that log. The exactly-once
    property is the file sink's transactional commit protocol — the
    same mechanism at any scale."""
    run_dir = scratch(spark, "streams", "ckpt_resume")
    src = os.path.join(run_dir, "src")
    out = os.path.join(run_dir, "out")
    ck = os.path.join(run_dir, "state")

    e = load(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    e.where(F.col("event_id") % 2 == 0).write.parquet(os.path.join(src, "half_a"))

    schema = "event_id bigint, event_type string, user_id bigint"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        _run_available_now(
            spark,
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck),
        )

    run_once()  # processes half_a, commits offsets + output
    e.where(F.col("event_id") % 2 == 1).write.parquet(os.path.join(src, "half_b"))
    run_once()  # resumes from the checkpoint: only half_b is read

    back = spark.read.schema(schema).parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("event_id").alias("n_ids"),
    )


@register(
    "q_stream_dedup_watermark",
    oracle=None,  # rows-only; ≡ batch distinct (tests/test_streaming.py)
    priority="P3",
    tags=("streaming",),
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``dropDuplicatesWithinWatermark(event_id)`` — the Spark
    3.5+ API twin of `q_stream_dedup` for sources whose duplicates carry
    DIFFERENT event times (retries, at-least-once replays): plain
    dropDuplicates keys state on the exact row and would emit a
    re-delivered event with a nudged timestamp as new, and its per-key
    state never expires unless the event-time column is part of the key;
    the WithinWatermark form deduplicates on event_id alone while
    guaranteeing state expiry once the watermark passes the FIRST
    sighting — the contract a 100 TB always-on ingest needs (state
    bounded by the watermark delay × arrival rate, not corpus size).

    Scenario: the source unioned with a 1-second-shifted copy of itself
    (every event re-delivered once with a perturbed timestamp — exactly
    the retry shape above); the operator must emit each event_id once.
    The law test pins output ≡ batch distinct on event_id."""
    events = _stream_events(spark, sf_dir)
    replay = _stream_events(spark, sf_dir).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")
    )
    doubled = events.union(replay)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_table(
        deduped.writeStream.format("memory").outputMode("append"),
        "stream_dedup_wm",
        spark,
    )


@register(
    "q_stream_sprt",
    oracle=None,  # rows-only; ≡ q_sprt_monitor (tests/test_streaming.py)
    priority="P3",
    tags=("streaming", "abtest", "sequential"),
)
def q_stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Wald SPRT monitor (`q_sprt_monitor`) run AS A STREAM — the
    deployment shape sequential testing exists for: the batch twin
    replays the whole decision path after the fact; this one carries
    (cumulative LLR, n, decided?) as per-stream GroupState via
    applyInPandasWithState and could stop the experiment the
    micro-batch the corridor is left. Same three monitored streams,
    same integer-1e-8ths LLR literals, same (ln B, ln A) corridor.

    Within each micro-batch rows are sorted by (ts, event_id) before
    the walk resumes from the carried state; once a stream decides,
    later batches only advance n_obs (the decision is sticky — the
    SPRT contract). The availableNow file source delivers batches in
    file order, so a continuous deployment would put an event-time
    ordering stage (or per-key sequence numbers) in front — the same
    caveat every stateful-order streaming op here documents.

    Law test: final per-stream (decision, n_decide, llr8_decide,
    n_obs) equals the batch twin exactly."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from modforms_db_spark.operators.aggregates import (
        _SPRT_A,
        _SPRT_L0,
        _SPRT_L1,
    )

    events = _stream_events(spark, sf_dir)
    h = F.pmod(
        F.col("event_id") * F.lit(2654435761).cast("bigint"), F.lit(1000)
    )
    arm = lambda name, x: F.struct(  # noqa: E731
        F.lit(name).alias("stream"), x.cast("int").alias("x")
    )
    streams = (
        events.select(
            "ts",
            "event_id",
            F.explode(
                F.array(
                    arm("organic_purchase", F.col("event_type") == "purchase"),
                    arm("null_5pct", h < 50),
                    arm("alt_10pct", h < 100),
                )
            ).alias("s"),
        )
        .select(F.col("s.stream").alias("stream"), "ts", "event_id", "s.x")
    )

    out_schema = (
        "stream string, n_obs bigint, decision string, "
        "n_decide bigint, llr8_decide bigint"
    )
    state_schema = (
        "llr8 bigint, n bigint, decided int, n_decide bigint, "
        "llr8_decide bigint"
    )

    def walk(key, pdf_iter, state: GroupState):
        llr8, n, decided, n_decide, llr8_decide = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        inc = batch["x"].map({1: _SPRT_L1, 0: _SPRT_L0}).astype("int64")
        cum = inc.cumsum() + llr8
        if not decided:
            crossed = (cum >= _SPRT_A) | (cum <= -_SPRT_A)
            if crossed.any():
                i = int(crossed.to_numpy().argmax())
                decided = 1
                n_decide = n + i + 1
                llr8_decide = int(cum.iloc[i])
        llr8 = int(cum.iloc[-1]) if len(cum) else llr8
        n += len(batch)
        state.update((llr8, n, decided, n_decide, llr8_decide))
        decision = (
            "undecided"
            if not decided
            else ("reject_h0" if llr8_decide > 0 else "accept_h0")
        )
        yield pd.DataFrame(
            {
                "stream": [key[0]],
                "n_obs": [n],
                "decision": [decision],
                "n_decide": [n_decide if decided else n],
                "llr8_decide": [llr8_decide if decided else llr8],
            }
        )

    walked = streams.groupBy("stream").applyInPandasWithState(
        walk,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_table(
        walked.writeStream.format("memory").outputMode("update"),
        "stream_sprt",
        spark,
    )
    # update mode appends one row per (batch, stream); the final state
    # per stream is the row with the largest n_obs.
    return (
        sink.groupBy("stream")
        .agg(
            F.max("n_obs").alias("n_obs"),
            F.max_by("decision", "n_obs").alias("decision"),
            F.max_by("n_decide", "n_obs").alias("n_decide"),
            F.max_by("llr8_decide", "n_obs").alias("llr8_decide"),
        )
    )


@register(
    "q_stream_topk",
    oracle=None,  # rows-only; ≡ batch top-5 (tests/test_streaming.py)
    priority="P3",
    tags=("streaming", "topk"),
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained top-k: readStream → complete-mode
    per-user count aggregation → memory sink, then the top-5 users by
    (count DESC, user_id) from the final materialization — the
    leaderboard shape (live dashboards, trending-items) where the
    RANKING is the product, not the aggregate. Complete output mode is
    what makes a streaming ranking consistent: update mode would emit
    per-key deltas the sink-side reader would have to re-rank.

    Law test: equals the batch groupBy-count top-5 exactly (same
    tiebreak). State is one long per user — bounded by key
    cardinality, not stream length; at scale the complete-mode
    re-emission cost is the documented trade (update mode + a
    sink-side ranking view is the alternative)."""
    events = _stream_events(spark, sf_dir)
    agg = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    sink = _run_to_table(
        agg.writeStream.format("memory").outputMode("complete"),
        "stream_topk",
        spark,
    )
    return (
        sink.orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(5)
        .select("user_id", "n_events")
    )


@register(
    "q_stream_online_moments",
    oracle=None,  # rows-only; moments ≡ batch aggregates (law test)
    priority="P3",
    tags=("streaming", "stats", "anomaly"),
)
def q_stream_online_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online per-stream moment tracking with prequential anomaly
    counting — the STREAMING feeder for every batch test that
    consumes (n, sum, sum-of-squares): per event type, GroupState
    carries exact integer cents (n, s2, ss2), and each micro-batch
    counts events whose value sits more than 4 pre-batch standard
    deviations from the pre-batch mean (prequential = scored by the
    state BEFORE the batch touched it, the honest online protocol —
    an in-batch mean would peek at the anomaly itself).

    Law test: final (n, s2, ss2) equal the batch aggregates EXACTLY
    (integer sums are order- and batch-split-independent — the same
    argument the house makes for every exact carry; the anomaly
    count is prequential by design and asserted only to be a sane
    bound, since it legitimately depends on batch arrival).

    Scale: state is three longs per stream key; the anomaly rule is
    vectorized numpy inside the state function — no per-row Python."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = _stream_events(spark, sf_dir)
    vals = events.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("y2")
    )

    out_schema = (
        "event_type string, n bigint, s2 bigint, ss2 bigint, "
        "n_anomalies bigint"
    )
    state_schema = "n bigint, s2 bigint, ss2 bigint, anom bigint"

    def track(key, pdf_iter, state: GroupState):
        n, s2, ss2, anom = state.get if state.exists else (0, 0, 0, 0)
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        y = batch["y2"].to_numpy()
        if n >= 2:
            mean = s2 / n
            var = (ss2 - s2 * s2 / n) / (n - 1)
            if var > 0:
                anom += int(((abs(y - mean) / var**0.5) > 4).sum())
        n += len(y)
        s2 += int(y.sum())
        ss2 += int((y.astype("int64") ** 2).sum())
        state.update((n, s2, ss2, anom))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n": [n],
                "s2": [s2],
                "ss2": [ss2],
                "n_anomalies": [anom],
            }
        )

    tracked = vals.groupBy("event_type").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_table(
        tracked.writeStream.format("memory").outputMode("update"),
        "stream_moments",
        spark,
    )
    return sink.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max_by("s2", "n").alias("s2"),
        F.max_by("ss2", "n").alias("ss2"),
        F.max_by("n_anomalies", "n").alias("n_anomalies"),
    )
