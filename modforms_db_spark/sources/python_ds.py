"""Custom connector via the Python DataSource API (Spark 4) —
SURVEY.md §2.1 extension.

The reference's ingest pulled from bespoke sources (filesystem trees,
GridFS); the modern Spark answer to "my data lives somewhere weird" is a
custom DataSource: implement `schema()` + `reader()`, and the engine
gets partitioned parallel reads, column pruning at the Arrow boundary,
and full DataFrame composability on top — no JVM code.

The demo source generates a calendar dimension deterministically (one
InputPartition per month → one Spark task per month), the standard
"small generated dim" every warehouse needs; a real connector swaps the
generator loop for API/page fetches with the SAME partition contract
(one partition per page range / shard / day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.registry import register
from modforms_db_spark.session import scoped_conf, scratch

try:  # Python DataSource API: Spark 4 (gate for older runtimes)
    from pyspark.sql.datasource import DataSource  # noqa: F401

    _HAVE_PYDS = True
except ImportError:  # pragma: no cover
    _HAVE_PYDS = False


def _calendar_source():
    """Factory returning the calendar DataSource CLASS. Defined NESTED
    on purpose: `spark.dataSource.register` ships the class to Python
    workers via cloudpickle, and a module-level class pickles BY
    REFERENCE — any worker that cannot `import modforms_db_spark` (the
    driver harness loads `__spark_entry__.py` by file path; workers
    inherit no repo path) fails with PYTHON_DATA_SOURCE_ERROR. Nested
    classes pickle by value (round-6 neutral-cwd sweep catch; same rule
    as `llm/multimodal._bmp_codec`)."""
    import datetime as dt

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _CalendarReader(DataSourceReader):
        """Q1-2024 calendar, one partition (= one Spark task) per month."""

        def partitions(self):
            return [InputPartition(m) for m in (1, 2, 3)]

        def read(self, partition):
            d = dt.date(2024, partition.value, 1)
            while d.month == partition.value:
                yield (d, d.isoweekday(), d.isoweekday() >= 6)
                d += dt.timedelta(days=1)

    class CalendarDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mfdb_calendar"

        def schema(self) -> str:
            return "d date, dow int, is_weekend boolean"

        def reader(self, schema):
            return _CalendarReader()

    return CalendarDataSource


@register(
    "q_source_python_ds",
    oracle="""
    SELECT CAST(month(d) AS INT) AS m,
           COUNT(*) AS n_days,
           CAST(SUM(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END) AS BIGINT)
             AS weekend_days
    FROM (SELECT CAST(unnest(generate_series(DATE '2024-01-01',
                                             DATE '2024-03-31',
                                             INTERVAL 1 DAY)) AS DATE) AS d)
    GROUP BY m
    """,
    priority="P2",
    tags=("source", "python-datasource"),
)
def q_source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a custom Python DataSource (partitioned calendar generator)
    and aggregate per month — proves the connector contract end-to-end:
    partition planning on the driver, per-partition generator execution
    on executors, Arrow transfer, then ordinary Catalyst ops on top.
    """
    if not _HAVE_PYDS:  # pragma: no cover
        raise NotImplementedError("Python DataSource API requires Spark 4+")
    spark.dataSource.register(_calendar_source())
    cal = spark.read.format("mfdb_calendar").load()
    return cal.groupBy(F.month("d").alias("m")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("is_weekend").cast("bigint")).alias("weekend_days"),
    )


if _HAVE_PYDS:
    try:  # streaming side of the API (Spark 4)
        from pyspark.sql.datasource import SimpleDataSourceStreamReader

        _HAVE_PYDS_STREAM = True
    except ImportError:  # pragma: no cover
        _HAVE_PYDS_STREAM = False
else:  # pragma: no cover
    _HAVE_PYDS_STREAM = False


_TICKS_TOTAL = 500
_TICKS_PER_BATCH = 100


def _tick_stream_source():
    """Factory returning the tick-stream DataSource CLASS — nested for
    the same by-value pickling reason as `_calendar_source`."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    total, per_batch = _TICKS_TOTAL, _TICKS_PER_BATCH  # closure-local

    class _TickStreamReader(SimpleDataSourceStreamReader):
        """Deterministic tick feed: offsets are row positions; each
        micro-batch serves the next ≤100 ticks until 500, then reports
        no new data (offset stops advancing → availableNow drains and
        terminates). Exactly-once: readBetweenOffsets re-serves any
        [start, end) range identically for replay."""

        def initialOffset(self) -> dict:
            return {"pos": 0}

        @staticmethod
        def _rows(lo: int, hi: int):
            return [(t, t % 5, (t * 7) % 101) for t in range(lo, hi)]

        def read(self, start: dict):
            lo = start["pos"]
            hi = min(lo + per_batch, total)
            return iter(self._rows(lo, hi)), {"pos": hi}

        def readBetweenOffsets(self, start: dict, end: dict):
            return iter(self._rows(start["pos"], end["pos"]))

        def commit(self, end: dict) -> None:
            pass

    class TickStreamDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mfdb_ticks"

        def schema(self) -> str:
            return "tick bigint, grp bigint, val bigint"

        def simpleStreamReader(self, schema):
            return _TickStreamReader()

    return TickStreamDataSource


@register(
    "q_source_python_stream",
    oracle=f"""
    WITH t AS (
      SELECT gs AS tick, gs % 5 AS grp, (gs * 7) % 101 AS val
      FROM UNNEST(generate_series(0, {_TICKS_TOTAL - 1})) u(gs)
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(val) AS BIGINT) AS total_val,
           CAST(MAX(tick) AS BIGINT) AS last_tick
    FROM t GROUP BY grp
    """,
    priority="P3",
    tags=("source", "python-datasource", "streaming"),
)
def q_source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python DataSource (Spark 4 `SimpleDataSourceStreamReader`)
    — the streaming sibling of `q_source_python_ds`: a custom offset-based
    tick feed served in ≤100-row micro-batches, drained with availableNow
    into a memory sink, then aggregated per group. Proves the full
    custom-streaming-connector contract: initialOffset → read(start) →
    offset advance → replay-safe readBetweenOffsets — with integer-only
    payloads so the drained result carries a full SQL oracle.

    Scale: a real connector replaces the generator with queue/page reads;
    offsets are the source's cursor, state is one dict on the driver, and
    per-batch rows flow through the same Arrow path as the batch API."""
    if not _HAVE_PYDS_STREAM:  # pragma: no cover
        raise NotImplementedError("Python streaming DataSource requires Spark 4+")
    spark.dataSource.register(_tick_stream_source())
    ticks = spark.readStream.format("mfdb_ticks").load()
    from modforms_db_spark.streaming.streams import _STREAM_CONF

    # availableNow only drains the reader's FIRST prefetched batch for
    # simple stream readers (measured: 100 of 500 rows), so this query
    # runs the default micro-batch trigger and drains explicitly:
    # processAllAvailable() blocks until the offset stops advancing —
    # all 5 micro-batches — then the query stops.
    with scoped_conf(spark, _STREAM_CONF):
        q = (
            ticks.writeStream.format("memory")
            .outputMode("append")
            .queryName("python_stream_ticks")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    sink = spark.table("python_stream_ticks")
    return sink.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("val").alias("total_val"),
        F.max("tick").alias("last_tick"),
    )


_PUSH_MONTH = 2  # the EqualTo the planner pushes into the reader


def _year_calendar_source():
    """Factory returning the filter-pushdown calendar DataSource CLASS
    (nested for by-value pickling, same rule as `_calendar_source`).
    The reader implements `pushFilters` (Spark 4.1): an EqualTo on the
    month column prunes InputPartitions BEFORE planning, so a month
    query schedules 1 task instead of 12 — the partition-pruning
    contract every real connector (JDBC ranges, API pages, shard
    manifests) implements."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        InputPartition,
    )

    class _YearCalendarReader(DataSourceReader):
        def __init__(self) -> None:
            self.months = list(range(1, 13))

        def pushFilters(self, filters):
            kept = []
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("m",):
                    self.months = [m for m in self.months if m == f.value]
                else:
                    kept.append(f)  # unconsumed → Spark re-applies post-scan
            return kept

        def partitions(self):
            return [InputPartition(m) for m in self.months]

        def read(self, partition):
            import datetime as dt

            d = dt.date(2024, partition.value, 1)
            while d.month == partition.value:
                yield (partition.value, d, d.isoweekday())
                d += dt.timedelta(days=1)

    class YearCalendarDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mfdb_calendar_year"

        def schema(self) -> str:
            return "m int, d date, dow int"

        def reader(self, schema):
            return _YearCalendarReader()

    return YearCalendarDataSource


@register(
    "q_source_python_pushdown",
    oracle=f"""
    SELECT CAST(m AS INT) AS m, CAST(d AS TIMESTAMP) AS d,
           CAST(isodow(d) AS INT) AS dow
    FROM (SELECT {_PUSH_MONTH} AS m,
                 CAST(unnest(generate_series(DATE '2024-0{_PUSH_MONTH}-01',
                                             DATE '2024-0{_PUSH_MONTH + 1}-01'
                                               - INTERVAL 1 DAY,
                                             INTERVAL 1 DAY)) AS DATE) AS d)
    """,
    priority="P2",
    tags=("source", "python-datasource", "pushdown", "spark4"),
)
def q_source_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown into a Python DataSource (Spark 4.1
    `pushFilters`): the month EqualTo is CONSUMED by the reader, which
    prunes its InputPartitions from 12 to 1 before task planning — the
    executed plan's post-scan Filter keeps only the isnotnull residue,
    and the scan schedules one task (law-test pinned: 1 partition
    filtered vs 12 unfiltered). This is the partition-pruning contract
    a real connector implements for JDBC ranges / API pages / shard
    manifests; requires `spark.sql.python.filterPushdown.enabled`
    (set here — reader init fails fast without it).

    Scale: pruning happens on the DRIVER before any task launches, so
    a selective query against a 10k-partition source costs its match
    set, not the catalog; unconsumed predicates are re-applied by
    Spark post-scan, so partial pushdown stays correct.
    """
    if not _HAVE_PYDS:  # pragma: no cover
        raise NotImplementedError("Python DataSource API requires Spark 4+")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(_year_calendar_source())
    cal = spark.read.format("mfdb_calendar_year").load()
    return cal.where(F.col("m") == _PUSH_MONTH).select(
        "m", F.col("d").cast("timestamp").alias("d"), "dow"
    )


def _region_sink_source(out_dir: str):
    """Python DataSource WRITER (Spark 4) — nested for by-value pickling
    (same rule as `_calendar_source`)."""
    import json
    import os
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _JsonlWriter(DataSourceWriter):
        """One JSON-lines file per input partition (= per Spark task)."""

        def write(self, iterator):
            rows = 0
            path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.jsonl")
            with open(path, "w") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict()) + "\n")
                    rows += 1
            return WriterCommitMessage()

    class RegionSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mfdb_jsonl_sink"

        def writer(self, schema, overwrite):
            return _JsonlWriter()

    return RegionSinkDataSource


@register(
    "q_sink_python_ds",
    oracle="""
    SELECT n_regionkey AS r_key, CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation GROUP BY 1
    """,
    priority="P2",
    tags=("sink", "python-datasource"),
)
def q_sink_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE through a custom Python DataSource (the writer half of the
    Spark 4 API — `q_source_python_ds` proves the reader half): each
    input partition's rows stream through `DataSourceWriter.write` on
    an executor, emit a JSON-lines file, and return a
    WriterCommitMessage the driver collects for commit — the same
    task-commit protocol real connectors (JDBC sinks, vendor APIs)
    implement. The written files are then read back with the ordinary
    JSON reader and aggregated; the oracle recomputes from the source
    table, proving the custom-sink round trip lossless.

    Scale: writes are per-partition streaming (no driver collect, no
    global state); commit messages are the only driver traffic —
    bytes-per-task, not rows. The file sink here stands in for any
    per-executor push connector."""
    if not _HAVE_PYDS:  # pragma: no cover
        raise NotImplementedError("Python DataSource API requires Spark 4+")
    out_dir = scratch(spark, "sinks", "nation_jsonl")
    spark.dataSource.register(_region_sink_source(out_dir))
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    nat.write.format("mfdb_jsonl_sink").mode("append").save()
    back = spark.read.schema("n_nationkey bigint, n_regionkey bigint").json(
        out_dir
    )
    return back.groupBy(F.col("n_regionkey").alias("r_key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations")
    )
