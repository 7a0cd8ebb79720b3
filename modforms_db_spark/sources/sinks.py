"""Sources & sinks — SURVEY.md §2.1 roundtrips.

Reference capability [R]: the file-store layout ``data/N/k/i/`` is a
partitioned write; Mongo document import/export maps to JSON lines; the
sync path re-reads what it wrote. Each query here writes a driver table to
a scratch dir in one format, reads it back with an explicit schema, and
aggregates — the oracle runs the same aggregate on the source table, so a
hash match proves the roundtrip was lossless.

Scale note: ``partitionBy`` on a low-cardinality column is exactly the
reference's directory layout; at 100 TB you'd partition by the query key
(lang / date) and let partition pruning skip directories — the read-back
here filters one partition value to exercise that pruning path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.parity import r4
from modforms_db_spark.registry import register
from modforms_db_spark.session import scratch


@register(
    "q_sink_roundtrip",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n, {R2('SUM(l_extendedprice)')} AS total
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    """,
    priority="P1",
    tags=("sink", "partition"),
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write → read back with a partition filter →
    group-count. The partition filter ('A','R') prunes the 'N' directory
    entirely (partition pruning, asserted in plan tests)."""
    path = scratch(spark, "sinks", "lineitem_by_flag")
    li = load(spark, sf_dir, "lineitem")
    (
        li.select("l_orderkey", "l_extendedprice", "l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.where(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
    )


@register(
    "q_sink_bucketed",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n,
           {R2('SUM(l.l_extendedprice * (1 - l.l_discount))')} AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    priority="P2",
    tags=("sink", "bucketing", "scale-path"),
)
def q_sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed write → co-located join with NO shuffle — the 100 TB
    co-location path. Both fact tables are written `bucketBy(8, orderkey)`
    (external parquet tables, explicit scratch location), then joined on
    the bucket key: Spark's bucketed-scan rule gives both sides the same
    hash partitioning, so the sort-merge join runs with zero Exchange
    (asserted in plan tests). At 100 TB this is the difference between
    re-shuffling two facts per join and paying the shuffle once at write
    time — the reference's `data/N/k/i/` layout served the same role for
    its (N,k,i)-keyed lookups [R].

    Oracle: the same join+agg on the source tables — a hash match proves
    the bucketed layout is lossless.

    Write-path shape:
    - Each side is `repartition(8, key)`-ed before the bucketed write.
      HashPartitioning(key, 8) is the bucket-id function, so every write
      task holds one bucket, sorts only that bucket and emits one file:
      8 files per table instead of (input splits × touched buckets).
    - The two table writes are independent jobs, so they run overlapped
      from a 2-thread pool (job descriptions are thread-local)."""

    def _write(spec: tuple[str, str, str, list[str]]) -> None:
        tbl, src, key, cols = spec
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load(spark, sf_dir, src)
            .select(*cols)
            .repartition(8, key)
            .write.mode("overwrite")
            .option("path", scratch(spark, "sinks", tbl))
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(tbl)
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(
            pool.map(
                _write,
                (
                    ("mfdb_orders_bkt", "orders", "o_orderkey",
                     ["o_orderkey", "o_orderpriority"]),
                    ("mfdb_lineitem_bkt", "lineitem", "l_orderkey",
                     ["l_orderkey", "l_extendedprice", "l_discount"]),
                ),
            )
        )
    o = spark.table("mfdb_orders_bkt")
    li = spark.table("mfdb_lineitem_bkt")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "q_source_json_roundtrip",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {R2('SUM(value)')} AS total_value,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid
    FROM events GROUP BY event_type
    """,
    priority="P2",
    tags=("source", "json"),
)
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write → schema'd read → aggregate (Mongo export/import [R]).

    ts is written as epoch micros (JSON has no timestamp type; explicit
    representation keeps the roundtrip exact), props stays a JSON string.
    """
    path = scratch(spark, "sinks", "events_json")
    e = load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    e.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.sum("user_id").alias("sum_uid"),
    )


@register(
    "q_source_csv_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n, MIN(ts) AS min_ts, MAX(ts) AS max_ts
    FROM events GROUP BY event_type
    """,
    priority="P2",
    tags=("source", "csv"),
)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write with header → schema'd read incl. timestamp parsing →
    min/max ts per type proves the timestamp text roundtrip is exact."""
    path = scratch(spark, "sinks", "events_csv")
    e = load(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    (
        e.write.mode("overwrite")
        .option("header", "true")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


@register(
    "q_merge_upsert",
    oracle=f"""
    WITH src AS (
      SELECT c_custkey AS k, {R2('c_acctbal * 1.1')} AS new_bal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 0.0 FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT COALESCE(t.c_custkey, s.k) AS key,
           {R2('COALESCE(s.new_bal, t.c_acctbal)')} AS bal,
           CASE WHEN s.k IS NULL THEN 'keep'
                WHEN t.c_custkey IS NULL THEN 'insert'
                ELSE 'update' END AS action
    FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.k
    """,
    priority="P1",
    tags=("sink", "merge", "etl"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over immutable parquet — the reference's
    files-store → Mongo sync [R]: for each record, update if present,
    insert if missing, keep the rest untouched.

    Without a transactional table format, MERGE is expressed relationally:
    target ⟗ source on the key, COALESCE picking source values where they
    exist — matched → update, source-only → insert, target-only → keep.
    The output is the complete post-merge table (plus the action taken),
    so the oracle hash proves all three branches.

    Scale: one shuffle on the merge key (or zero if both sides are
    bucketed by it — q_sink_bucketed's layout); at 100 TB you'd write the
    result partition-wise and swap directories atomically, or use a table
    format (Delta/Iceberg) whose MERGE compiles to this same join.
    """
    cust = load(spark, sf_dir, "customer")
    updates = cust.where(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") * 1.1, 2).alias("new_bal"),
    )
    inserts = cust.where(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("k"),
        F.lit(0.0).alias("new_bal"),
    )
    src = updates.union(inserts)
    t = cust.select("c_custkey", "c_acctbal")
    merged = t.join(src, t.c_custkey == src.k, "full_outer")
    return merged.select(
        F.coalesce(t.c_custkey, src.k).alias("key"),
        F.round(F.coalesce(src.new_bal, t.c_acctbal), 2).alias("bal"),
        F.when(src.k.isNull(), F.lit("keep"))
        .when(t.c_custkey.isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
        .alias("action"),
    )


@register(
    "q_source_orc_roundtrip",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY l_linestatus
    """,
    priority="P2",
    tags=("source", "orc"),
)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → schema-preserving read → aggregate. ORC is the other
    columnar format a lake migration encounters; Spark's native reader
    gives it the same pushdown/pruning machinery as parquet (predicate
    pushdown via ORC SearchArguments), so the engine treats both as
    first-class scan sources."""
    path = scratch(spark, "sinks", "lineitem_orc")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_quantity"
    )
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
    )


@register(
    "q_source_text_lines",
    oracle="""
    SELECT lang, COUNT(*) AS n, CAST(SUM(len(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    priority="P2",
    tags=("source", "text"),
)
def q_source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-lines roundtrip: docs written one per line as
    `lang\\ttext`, read back with `spark.read.text` and re-split — the
    shape of raw-corpus ingest (WET/plain-text dumps) where there IS no
    schema'd format and parsing is part of the scan. Tab is safe: the
    corpus text is space-separated tokens (asserted by the oracle match —
    a tab in `text` would break the split and the counts)."""
    path = scratch(spark, "sinks", "documents_text")
    d = load(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("\t", "lang", "text").alias("value")
    ).write.mode("overwrite").text(path)
    back = spark.read.text(path).select(
        F.substring_index("value", "\t", 1).alias("lang"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


@register(
    "q_source_xml_roundtrip",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n,
           array_to_string(list_sort(list(n_name)), ',') AS names_csv
    FROM nation GROUP BY n_regionkey
    """,
    priority="P2",
    tags=("source", "xml"),
)
def q_source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write → schema'd read → aggregate via Spark 4's native XML
    source (StaxXML) — the enterprise-feed format. Schema on read avoids
    the inference scan a production pipeline can't afford."""
    path = scratch(spark, "sinks", "nation_xml")
    n = load(spark, sf_dir, "nation")
    (
        n.write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .format("xml")
        .save(path)
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("rowTag", "nation")
        .format("xml")
        .load(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "names_csv"
        ),
    )


@register(
    "q_sink_compaction",
    oracle="""
    SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    priority="P2",
    tags=("sink", "compaction", "lake-ops"),
)
def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance job a streaming
    ingest makes mandatory: stage 1 writes events per-type with a
    fragmented layout (32-way round robin → up to 32 files per partition
    dir, the micro-batch debris shape); stage 2 rewrites each partition
    to 1 file via repartition on the partition key. The query returns
    per-type counts from the COMPACTED store — the oracle on the source
    proves compaction was lossless, and the unit test asserts the file
    count actually collapsed.

    Scale: repartition(partition_cols) aligns shuffle output with the
    directory layout, so each task writes exactly one file per directory
    — the standard OPTIMIZE/rewrite pattern. At 100 TB add a target file
    size (maxRecordsPerFile) and compact only partitions whose file
    count exceeds threshold; the job shuffles each partition's bytes
    once, which is why real tables compact incrementally, not globally.
    """
    frag = scratch(spark, "sinks", "events_fragmented")
    compact = scratch(spark, "sinks", "events_compacted")
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # Stage 1: fragmented write (simulates many micro-batches).
    e.repartition(32).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(frag)
    # Stage 2: compaction rewrite — one shuffle keyed on the layout.
    frag_df = spark.read.parquet(frag)
    frag_df.repartition("event_type").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(compact)
    return (
        spark.read.parquet(compact)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "q_sink_sorted_pruning",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {R2('SUM(l_extendedprice * (1 - l_discount))')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
    priority="P2",
    tags=("sink", "layout", "pruning", "scale-path"),
)
def q_sink_sorted_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered layout: rewrite lineitem range-partitioned AND
    sorted by l_shipdate, then answer a shipdate-range query from the
    clustered copy. Because each output file (and each row group inside
    it) covers a disjoint, narrow shipdate span, the parquet min/max
    statistics let the filtered scan skip most of the data — the
    Z-order/cluster-key discipline every 100 TB time-filtered table
    needs, where the same predicate on an unsorted layout reads every
    file (every row group straddles the full date range).

    The oracle runs the same filter+agg on the SOURCE table, proving
    the clustered rewrite is lossless; the unit test inspects the
    written parquet footers and asserts the per-file shipdate ranges
    are disjoint (the property pruning relies on).
    """
    path = scratch(spark, "sinks", "lineitem_sorted_shipdate")
    (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_shipdate", "l_returnflag", "l_extendedprice", "l_discount"
        )
        .repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(
        F.col("l_shipdate")
        >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def zvalue(a: F.Column, b: F.Column) -> F.Column:
    """Morton/Z-order interleave of the low 16 bits of two
    non-negative integer columns — a JVM-side codegen expression (no
    UDF): z = Σᵢ bitᵢ(a)·4ⁱ + bitᵢ(b)·2·4ⁱ."""
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = z + (
            F.shiftleft(F.shiftright(a.cast("bigint"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(b.cast("bigint"), i) % 2, 2 * i + 1)
        ).cast("bigint")
    return z


@register(
    "q_sink_zorder",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {R2('SUM(l_extendedprice * (1 - l_discount))')} AS revenue
    FROM lineitem
    WHERE l_partkey BETWEEN 20 AND 120
      AND l_suppkey BETWEEN 2 AND 8
    GROUP BY l_returnflag
    """,
    priority="P2",
    tags=("sink", "layout", "zorder", "pruning", "scale-path"),
)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered layout — the 2-D generalization of
    `q_sink_sorted_pruning`'s 1-D sort clustering: rewrite lineitem
    range-partitioned and sorted by the Morton interleave of
    (l_partkey, l_suppkey), then answer a 2-D box query from the
    clustered copy. Because Z-order keeps both dimensions locally
    correlated, each output file's (partkey, suppkey) bounding box is
    small on BOTH axes, so parquet min/max stats prune files for
    either-or-both predicates — a single-column sort would prune only
    its own column. The z-value is a pure codegen bit-interleave
    expression (no UDF); the oracle runs the same box filter on the
    SOURCE table, proving the rewrite lossless; the unit test reads
    the written footers and asserts the per-file bounding boxes
    actually shrink vs the unclustered layout."""
    path = scratch(spark, "sinks", "lineitem_zorder")
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    z = zvalue(F.col("l_partkey"), F.col("l_suppkey"))
    (
        li.withColumn("zv", z)
        .repartitionByRange(8, "zv")
        .sortWithinPartitions("zv")
        .drop("zv")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(
        F.col("l_partkey").between(20, 120)
        & F.col("l_suppkey").between(2, 8)
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register(
    "q_source_csv_corrupt",
    oracle=f"""
    SELECT
      CAST(SUM(CASE WHEN o_orderkey % 97 != 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_good,
      CAST(SUM(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_corrupt,
      {R2("SUM(CASE WHEN o_orderkey % 97 != 0 THEN o_totalprice ELSE 0 END)")}
        AS good_total
    FROM orders
    """,
    priority="P2",
    tags=("source", "csv", "corrupt-records", "quality"),
)
def q_source_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling — the ingest reality every pipeline
    hits: a CSV feed where some rows are garbage (here every orderkey
    divisible by 97 emits an unparseable line), read back in PERMISSIVE
    mode with `columnNameOfCorruptRecord`, so bad rows survive AS DATA
    (nulls + the raw line in `_bad`) instead of killing the job
    (FAILFAST) or silently vanishing (DROPMALFORMED). The report counts
    good vs corrupt and sums a value column over the good rows only;
    the oracle recomputes all three from the clean source table, so a
    parser that drops, double-counts, or misclassifies rows fails the
    hash.

    Gotcha baked into the design (hit live): the CSV parser only
    attempts conversion for REFERENCED columns, so corruption in a
    pruned-away column is invisible — the malformed token therefore
    sits in the `total` field this query actually reads. A short row
    (fewer tokens) is NOT corrupt to CSV either; it just nulls the
    tail.

    Scale: corruption handling is row-local — the permissive parse
    costs nothing extra on clean rows, and quarantined rows flow to a
    dead-letter sink via `WHERE _bad IS NOT NULL` on the same scan."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.concat_ws(
                ",",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.lit("notanumber"),
            ),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_totalprice").cast("string"),
            )
        )
        .alias("value")
    )
    path = scratch(spark, "sinks", "orders_corrupt_csv")
    lines.write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema(
            "okey bigint, custkey bigint, total double, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    )
    return parsed.agg(
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.round(
            F.sum(F.when(F.col("_bad").isNull(), F.col("total")).otherwise(0.0)), 2
        ).alias("good_total"),
    )


@register(
    "q_sink_partition_overwrite",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           MAX(event_id) AS max_eid
    FROM events
    WHERE event_type <> 'error' OR event_id % 2 = 0
    GROUP BY event_type
    """,
    priority="P2",
    tags=("sink", "partition", "overwrite"),
)
def q_sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite: full partitioned write of events,
    then a second `overwrite` write containing ONLY re-derived 'error'
    rows (even event_id) under `partitionOverwriteMode=dynamic` — the
    engine must replace just the touched partition and leave the other
    four directories intact. The read-back aggregate proves both halves:
    'error' shows the filtered counts, everything else the originals.

    Scale: dynamic overwrite is THE idempotent-backfill primitive for a
    date-partitioned 100 TB table — re-running one day's pipeline
    replaces one directory atomically-per-partition instead of
    truncating the table (static mode) or hand-deleting paths. Cost is
    the rewritten partition only.
    """
    path = scratch(spark, "sinks", "events_dyn_overwrite")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    (
        e.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("event_type")
        .parquet(path)
    )
    (
        e.where((F.col("event_type") == "error") & (F.col("event_id") % 2 == 0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(path)
    )
    return (
        spark.read.schema("event_id bigint, user_id bigint, event_type string")
        .parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_eid"),
        )
    )


@register(
    "q_source_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents WHERE doc_id < 20
    """,
    priority="P2",
    tags=("source", "binary"),
)
def q_source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source round-trip: 20 documents written as raw
    one-file-per-record blobs, read back with the built-in binaryFile
    format (path, modificationTime, length, content), doc id recovered
    from the path, content integrity proven by sha256 against an oracle
    that hashes the SOURCE text — the ingest shape for every
    bytes-on-object-store corpus (images, PDFs, audio) before a decode
    UDF ever runs.

    Scale: binaryFile parallelizes by FILE listing (each file one row;
    big files are not split), so millions of small blobs want either
    `pathGlobFilter`-scoped directories or consolidation into an
    indexed container format upstream; here the format surface itself
    is the point. Hash + length computed JVM-side off the content
    column."""
    path = scratch(spark, "sinks", "binary_blobs")
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()
    )  # 20 rows — test-fixture write, not a data-path collect
    for row in docs:
        with open(os.path.join(path, f"{row.doc_id}.bin"), "wb") as fh:
            fh.write(row.text.encode("utf-8"))
    back = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(path)
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("sha"),
    )


@register(
    "q_nested_roundtrip",
    oracle=f"""
    SELECT l.l_returnflag, COUNT(*) AS n_lines,
           {R2('SUM(l.l_extendedprice * (1 - l.l_discount))')} AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
    priority="P2",
    tags=("sink", "nested", "struct"),
)
def q_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema round-trip: orders denormalized into one record per
    order carrying an ARRAY<STRUCT> of its lines (sorted by linenumber
    for determinism), written as genuinely nested parquet, read back,
    and SHREDDED (explode + dot-path projection) into the same flat
    aggregate the oracle computes from the normalized tables — proving
    the nest/unnest cycle is lossless. This is the document-style
    storage layout (one parent + embedded children) round-tripped
    through columnar nested encoding.

    Scale: the nest is one groupBy on the join key; nested parquet
    stores struct fields as separate column chunks, so the read-back
    projection of two line fields still prunes columns (ReadSchema
    shows the struct subpaths). Array-per-order memory is bounded by
    order width, not table size."""
    path = scratch(spark, "sinks", "orders_nested")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_returnflag"
    )
    nested = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("l_linenumber", "l_extendedprice", "l_discount", "l_returnflag")
                )
            ).alias("lines")
        )
    )
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    line = F.explode("lines").alias("line")
    return (
        back.select(line)
        .select(
            F.col("line.l_returnflag").alias("l_returnflag"),
            (F.col("line.l_extendedprice") * (1 - F.col("line.l_discount"))).alias("rev"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
    )


@register(
    "q_schema_evolution",
    oracle=f"""
    WITH unioned AS (
      SELECT p_partkey, p_name, CAST(NULL AS DOUBLE) AS p_retailprice, 'v1' AS batch
      FROM part WHERE p_partkey % 2 = 0
      UNION ALL
      SELECT p_partkey, p_name, p_retailprice, 'v2' AS batch
      FROM part WHERE p_partkey % 2 = 1
    )
    SELECT batch, COUNT(*) AS n,
           COUNT(p_retailprice) AS n_priced,
           {R2('COALESCE(SUM(p_retailprice), 0)')} AS total_price
    FROM unioned GROUP BY batch
    """,
    priority="P2",
    tags=("source", "schema-evolution"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a v1 batch written WITHOUT the price
    column and a v2 batch WITH it live in one dataset; reading with
    `mergeSchema=true` reconciles the footers into the superset schema,
    v1 rows surfacing NULL prices — the append-only column-add pattern
    every long-lived 100 TB table hits. The batch tag column makes the
    NULL provenance auditable, and the oracle reproduces the exact
    union semantics.

    Scale: schema merge is a FOOTER operation (per-file metadata union)
    — it never rewrites data; the cost caveat is that mergeSchema reads
    every file's footer at planning, so production tables pin the
    merged schema in a catalog instead of re-deriving it per query
    (which is also why the default is off)."""
    path = scratch(spark, "sinks", "part_evolving")
    p = load(spark, sf_dir, "part")
    v1 = p.where(F.col("p_partkey") % 2 == 0).select(
        "p_partkey", "p_name", F.lit("v1").alias("batch")
    )
    v2 = p.where(F.col("p_partkey") % 2 == 1).select(
        "p_partkey", "p_name", "p_retailprice", F.lit("v2").alias("batch")
    )
    v1.write.parquet(os.path.join(path, "batch=v1x"))  # plain subdirs, not
    v2.write.parquet(os.path.join(path, "batch=v2x"))  # partition columns
    back = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(path)
    return back.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("p_retailprice").alias("n_priced"),
        F.round(F.coalesce(F.sum("p_retailprice"), F.lit(0.0)), 2).alias("total_price"),
    )


@register(
    "q_table_diff",
    oracle=f"""
    WITH v1 AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
    ), v2 AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 101 = 0
    ), h1 AS (
      SELECT c_custkey, sha256(c_name || '|' ||
        CAST(CAST({R("c_acctbal * 100", 0)} AS BIGINT) AS VARCHAR) || '|' || c_mktsegment) AS h
      FROM v1
    ), h2 AS (
      SELECT c_custkey, sha256(c_name || '|' ||
        CAST(CAST({R("c_acctbal * 100", 0)} AS BIGINT) AS VARCHAR) || '|' || c_mktsegment) AS h
      FROM v2
    )
    SELECT COALESCE(h1.c_custkey, h2.c_custkey) AS c_custkey,
           CASE WHEN h1.c_custkey IS NULL THEN 'added'
                WHEN h2.c_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS diff
    FROM h1 FULL OUTER JOIN h2 ON h1.c_custkey = h2.c_custkey
    WHERE h1.c_custkey IS NULL OR h2.c_custkey IS NULL OR h1.h <> h2.h
    """,
    priority="P2",
    tags=("sink", "diff", "audit"),
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot data-diff (the reconciliation tool behind every
    migration sign-off): v2 is a deterministic mutation of customer
    (every 97th key deleted, every 7th balance bumped, every 101st key
    re-inserted under a new id), and the diff classifieseach key as
    added / removed / changed by comparing ROW HASHES over a full-outer
    key join — payload width doesn't multiply the compare cost, one
    hash per side does. Balances enter the hash as exact integer cents
    (Spark-round parity) so fp formatting can't fake a diff.

    Scale: one full-outer join on the key (both sides shuffle once);
    the hash collapses arbitrarily wide payloads to 32 bytes BEFORE the
    join, so network cost is keys + hashes, not rows. Unchanged rows
    are filtered post-join — at 100 TB you'd pre-partition both
    snapshots identically (bucketing) and diff partition-locally."""
    c = load(spark, sf_dir, "customer")
    v1 = c.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    v2 = (
        c.where(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10.0)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            c.where(F.col("c_custkey") % 101 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                "c_name",
                "c_acctbal",
                "c_mktsegment",
            )
        )
    )

    def rowhash(df):
        cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint").cast("string")
        return df.select(
            "c_custkey",
            F.sha2(
                F.concat_ws("|", F.col("c_name"), cents, F.col("c_mktsegment")), 256
            ).alias("h"),
        )

    h1 = rowhash(v1).withColumnRenamed("c_custkey", "k1").withColumnRenamed("h", "h_1")
    h2 = rowhash(v2).withColumnRenamed("c_custkey", "k2").withColumnRenamed("h", "h_2")
    j = h1.join(h2, h1.k1 == h2.k2, "full_outer")
    return (
        j.where(
            F.col("k1").isNull() | F.col("k2").isNull() | (F.col("h_1") != F.col("h_2"))
        )
        .select(
            F.coalesce("k1", "k2").alias("c_custkey"),
            F.when(F.col("k1").isNull(), "added")
            .when(F.col("k2").isNull(), "removed")
            .otherwise("changed")
            .alias("diff"),
        )
    )


@register(
    "q_source_json_corrupt",
    oracle=f"""
    SELECT COUNT(*) FILTER (WHERE o_orderkey % 89 <> 0) AS n_good,
           COUNT(*) FILTER (WHERE o_orderkey % 89 = 0)  AS n_corrupt,
           {R2('SUM(o_totalprice) FILTER (WHERE o_orderkey % 89 <> 0)')} AS good_total
    FROM orders
    """,
    priority="P2",
    tags=("source", "json", "corrupt"),
)
def q_source_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSON ingest — the JSON-lines twin of
    `q_source_csv_corrupt`: every 89th order emits a truncated
    non-JSON line; the PERMISSIVE reader quarantines those rows into
    `_bad` (raw line preserved, typed fields NULL) instead of failing
    the job. JSON differs from CSV in WHICH corruption is detectable —
    a syntactically broken document corrupts the whole ROW regardless
    of column pruning (unlike CSV's referenced-columns-only rule), but
    a wrong-TYPE field only nulls that field. The truncated-line shape
    here exercises the whole-row path.

    Scale: same row-local contract — clean rows pay nothing, corrupt
    rows flow to a dead-letter sink off the same scan."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    good = F.concat(
        F.lit('{"okey": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "total": '),
        F.col("o_totalprice").cast("string"),
        F.lit("}"),
    )
    bad = F.concat(F.lit('{"okey": '), F.col("o_orderkey").cast("string"), F.lit(", {{"))
    lines = o.select(
        F.when(F.col("o_orderkey") % 89 == 0, bad).otherwise(good).alias("value")
    )
    path = scratch(spark, "sinks", "orders_corrupt_json")
    lines.write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema("okey bigint, total double, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return parsed.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).alias("n_corrupt"),
        F.round(
            F.sum(F.when(F.col("_bad").isNull(), F.col("total"))), 2
        ).alias("good_total"),
    )


_ENC_BLOCK = 1024  # values per encoding block (parquet-page analogue)


@register(
    "q_encoding_efficiency",
    oracle=f"""
    WITH ids AS (SELECT event_id FROM events),
    sorted_lay AS (
      SELECT 'sorted' AS layout,
             event_id // {_ENC_BLOCK} AS block,
             event_id AS ord_key, event_id
      FROM ids
    ),
    shuffled_lay AS (
      SELECT 'shuffled' AS layout,
             ((event_id * 2654435761) % 4294967296) % 512 AS block,
             (event_id * 2654435761) % 4294967296 AS ord_key, event_id
      FROM ids
    ),
    lay AS (SELECT * FROM sorted_lay UNION ALL SELECT * FROM shuffled_lay),
    d AS (
      SELECT layout, block, event_id,
             event_id - lag(event_id) OVER (
               PARTITION BY layout, block ORDER BY ord_key, event_id
             ) AS delta
      FROM lay
    ),
    bits AS (
      SELECT layout,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(COUNT(DISTINCT block) AS BIGINT) AS n_blocks,
             CAST(SUM(CASE WHEN delta IS NULL THEN 64
                           WHEN delta = 0 THEN 1
                           ELSE length(bin(ABS(delta)))
                               + 1 END) AS BIGINT) AS payload_bits
      FROM d GROUP BY layout
    )
    SELECT layout, n_values, n_blocks, payload_bits,
           {R4('payload_bits * 1.0 / n_values')} AS bits_per_value,
           {R4('64.0 * n_values / payload_bits')} AS compression_x
    FROM bits
    """,
    priority="P2",
    tags=("sink", "layout", "audit"),
)
def q_encoding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding efficiency audit of two physical layouts — the
    quantified WHY behind `q_sink_sorted_pruning`/`q_sink_zorder`: the
    event-id column is blocked into {_ENC_BLOCK}-value pages (the
    parquet-page analogue — encoders reset per page, so the first
    value of each block pays full 64-bit width) and the per-page
    delta stream is costed at minimal binary width + sign bit
    (`length(bin(|δ|))`, EXACT integer arithmetic — no fp log2).
    Sorted layout → unit deltas → ~2 bits/value; hash-shuffled layout
    → deltas spanning the id range → ~20+ bits/value. The ~10×
    compression gap is the storage cost of ignoring sort order at
    write time, before any scan-pruning benefit.

    Scale: both layouts derive from ONE scan; each delta window
    partitions by (layout, block) — thousands of small independent
    groups, the opposite of a global sort; the report is a 2-row
    combine. At 100 TB this audit reads the column once and writes
    nothing.
    """
    e = (
        load(spark, sf_dir, "events")
        .select("event_id")
        .localCheckpoint(eager=False)  # both layout legs
    )
    knuth = (F.col("event_id") * F.lit(2654435761)) % F.lit(4294967296)
    sorted_lay = e.select(
        F.lit("sorted").alias("layout"),
        (F.col("event_id") / _ENC_BLOCK).cast("bigint").alias("block"),
        F.col("event_id").alias("ord_key"),
        "event_id",
    )
    shuffled_lay = e.select(
        F.lit("shuffled").alias("layout"),
        (knuth % 512).alias("block"),
        knuth.alias("ord_key"),
        "event_id",
    )
    lay = sorted_lay.unionByName(shuffled_lay)
    from pyspark.sql import Window

    w = Window.partitionBy("layout", "block").orderBy("ord_key", "event_id")
    d = lay.select(
        "layout",
        "block",
        "event_id",
        (F.col("event_id") - F.lag("event_id").over(w)).alias("delta"),
    )
    bits = F.when(F.col("delta").isNull(), 64).when(
        F.col("delta") == 0, 1
    ).otherwise(F.length(F.bin(F.abs(F.col("delta")))) + 1)
    b = d.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.countDistinct("block").cast("bigint").alias("n_blocks"),
        F.sum(bits).cast("bigint").alias("payload_bits"),
    )
    return b.select(
        "layout",
        "n_values",
        "n_blocks",
        "payload_bits",
        r4(F.col("payload_bits") * 1.0 / F.col("n_values")).alias(
            "bits_per_value"
        ),
        r4(64.0 * F.col("n_values") / F.col("payload_bits")).alias(
            "compression_x"
        ),
    )


_RG_TABLES = (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))


@register(
    "q_parquet_rowgroup_stats",
    oracle=None,  # rows-only: physical row-group layout is not derivable
    # from the logical view — tests/test_edgecases.py pins it EXACTLY
    # against DuckDB's parquet_metadata() on the same files instead
    priority="P2",
    tags=("source", "metadata", "layout"),
)
def q_parquet_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet row-group footer audit: one row per (table, row group)
    with row count, the key column's min/max statistics, and the
    uncompressed byte size — the physical-layout read behind every
    row-group-pruning decision (`q_sink_sorted_pruning` proves pruning
    works; this op shows WHY, by surfacing the min/max fences a scan
    compares predicates against). At 100 TB this is the first
    diagnostic for "why is this filter still reading everything":
    overlapping fences = unsorted layout = no pruning.

    Footers are read on EXECUTORS via Arrow (mapInPandas over a
    file-path frame — the plumbing that distributes across a million
    files; metadata-only reads, no data pages touched). Rows-only by
    necessity: row-group boundaries are writer-physical, invisible to
    the logical table view — the suite pins the output exactly
    against DuckDB's ``parquet_metadata()`` on the same files.
    """
    rows = [(t, f"{sf_dir}/{t}.parquet", k) for t, k in _RG_TABLES]
    src = spark.createDataFrame(
        rows, "tbl string, path string, key_col string"
    ).repartition(len(rows))

    def read_footers(batches):
        # imports + helpers stay INSIDE the closure: cloudpickle ships
        # module-level refs by reference and driver-harness workers
        # can't import this package (house worker-portability rule)
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                md = pq.ParquetFile(r.path).metadata
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                ci = names.index(r.key_col)
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    st = rg.column(ci).statistics
                    out.append(
                        (
                            r.tbl,
                            g,
                            rg.num_rows,
                            int(st.min),
                            int(st.max),
                            rg.total_byte_size,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "tbl",
                    "row_group",
                    "num_rows",
                    "key_min",
                    "key_max",
                    "byte_size",
                ],
            )

    return src.mapInPandas(
        read_footers,
        "tbl string, row_group int, num_rows bigint, "
        "key_min bigint, key_max bigint, byte_size bigint",
    )


_CH_RING = 16777216  # 2^24 ring positions (md5 first 6 hex chars)
_CH_VNODES = 32


def _ch_vnode_sql(shards: int) -> str:
    return f"""
      SELECT s.s AS shard,
             ('0x' || substr(md5('shard' || s.s || ':' || v.v), 1, 6))::BIGINT
               AS vpos
      FROM (SELECT UNNEST(generate_series(0, {shards - 1})) AS s) s
      CROSS JOIN (SELECT UNNEST(generate_series(0, {_CH_VNODES - 1})) AS v) v
    """


@register(
    "q_consistent_hash_shards",
    oracle=f"""
    WITH keys AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
               AS kpos
      FROM documents
    ), v4 AS ({_ch_vnode_sql(4)}), v5 AS ({_ch_vnode_sql(5)}),
    a4 AS (
      SELECT doc_id,
             MIN(struct_pack(d := (vpos - kpos + {_CH_RING}) % {_CH_RING},
                             shard := shard)) AS best
      FROM keys CROSS JOIN v4 GROUP BY 1
    ), a5 AS (
      SELECT doc_id,
             MIN(struct_pack(d := (vpos - kpos + {_CH_RING}) % {_CH_RING},
                             shard := shard)) AS best
      FROM keys CROSS JOIN v5 GROUP BY 1
    ), asn AS (
      SELECT a4.doc_id, a4.best.shard AS s4, a5.best.shard AS s5
      FROM a4 JOIN a5 ON a5.doc_id = a4.doc_id
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM asn),
    grouped AS (
      SELECT 'ring4' AS ring, s4 AS shard, CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM asn GROUP BY 2
      UNION ALL
      SELECT 'ring5', s5, CAST(COUNT(*) AS BIGINT) FROM asn GROUP BY 2
      UNION ALL
      SELECT 'moved', s5, CAST(COUNT(*) AS BIGINT) FROM asn
      WHERE s4 <> s5 GROUP BY 2
    )
    SELECT g.ring, CAST(g.shard AS BIGINT) AS shard, g.n_keys,
           {R4('g.n_keys * 1.0 / tot.n')} AS share
    FROM grouped g CROSS JOIN tot
    """,
    priority="P2",
    tags=("sink", "sharding", "consistent-hash"),
)
def q_consistent_hash_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash shard assignment with virtual nodes (Karger
    et al. 1997 — the placement scheme behind Dynamo/Cassandra-style
    stores): 32 vnodes per shard on a 2²⁴ md5 ring, each key owned
    by the clockwise-nearest vnode. Evaluated at BOTH 4 and 5
    shards, plus the 'moved' group — keys whose owner changed when
    the 5th shard joined — because bounded relocation (≈ 1/5 of
    keys, vs 4/5 under mod-N hashing) IS consistent hashing's whole
    point, and the law test pins it. Complements `q_shard_manifest`
    (static range sharding) with the elastic-membership scheme.

    Determinism: md5 positions are bit-identical in both engines
    (the `q_dsir_weights` idiom); the owner is the MIN of exact
    integer (clockwise distance, shard) pairs — a total order, no
    float, no tie ambiguity.

    Scale: the vnode tables are literal 128/160-row broadcasts; the
    owner argmin is a map-side-combinable MIN per key (never a
    ring sort); output is the bounded shard grain. At 100 TB the
    same plan assigns any keyspace — the ring never grows with
    data.
    """
    keys = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        .alias("kpos"),
    )

    def vnodes(shards: int):
        rows = [
            (s, v) for s in range(shards) for v in range(_CH_VNODES)
        ]
        vn = spark.createDataFrame(rows, "s int, v int")
        return vn.select(
            F.col("s").alias("shard"),
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("shard"), F.col("s"), F.lit(":"), F.col("v"))),
                    1,
                    6,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("vpos"),
        )

    def assign(vn, out: str):
        dist = F.pmod(F.col("vpos") - F.col("kpos") + _CH_RING, _CH_RING)
        return (
            keys.crossJoin(F.broadcast(vn))
            .groupBy("doc_id")
            .agg(F.min(F.struct(dist.alias("d"), F.col("shard"))).alias("b"))
            .select("doc_id", F.col("b.shard").alias(out))
        )

    asn = assign(vnodes(4), "s4").join(assign(vnodes(5), "s5"), "doc_id")
    asn = asn.localCheckpoint(eager=False)  # three groupings + total
    tot = asn.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    g4 = asn.groupBy(F.col("s4").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    ).select(F.lit("ring4").alias("ring"), "shard", "n_keys")
    g5 = asn.groupBy(F.col("s5").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    ).select(F.lit("ring5").alias("ring"), "shard", "n_keys")
    gm = (
        asn.where(F.col("s4") != F.col("s5"))
        .groupBy(F.col("s5").alias("shard"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
        .select(F.lit("moved").alias("ring"), "shard", "n_keys")
    )
    return (
        g4.unionByName(g5)
        .unionByName(gm)
        .crossJoin(F.broadcast(tot))
        .select(
            "ring",
            F.col("shard").cast("bigint").alias("shard"),
            "n_keys",
            r4(F.col("n_keys") * 1.0 / F.col("n")).alias("share"),
        )
    )


@register(
    "q_dpp_prune",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT o_orderpriority AS pr FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    )
    SELECT o.o_orderpriority AS pr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders o JOIN dim ON dim.pr = o.o_orderpriority
    GROUP BY 1
    """,
    priority="P2",
    tags=("sink", "pruning", "dpp"),
)
def q_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the runtime cousin of the static
    pruning `q_sink_sorted_pruning`/`q_sink_partition_overwrite`
    prove: orders are written PARTITIONED BY priority, then joined
    to a small FILTERED dimension whose qualifying keys are only
    known at run time; Spark plants a dynamicpruning subquery on the
    fact scan so only the 2 qualifying partition directories are
    read — at 100 TB this is the star-join pattern (date-partitioned
    fact ⋈ filtered date dim) where DPP is the difference between
    scanning 2 days and 2 000. The plan carries
    `dynamicpruningexpression` on the fact-side scan (pinned by the
    plan test); the aggregate proves the result equals the logical
    join.

    Write-path operator (the partitioned write IS the setup), so it
    is excluded from the engine-comparable bench set like every
    sink twin.

    Scale: one partitioned write (cost = the table), then a
    broadcast dim join whose DPP filter prunes the fact scan to the
    qualifying directories before any row is read.
    """
    path = scratch(spark, "sinks", "orders_by_priority_dpp")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("pr"))
        .where(F.col("pr").isin("1-URGENT", "2-HIGH"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact["o_orderpriority"] == dim["pr"])
        .groupBy("pr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


_SHUF_EPOCH_MULT = (2654435761, 40503, 2246822519)


@register(
    "q_shuffle_epochs",
    oracle=f"""
    WITH epochs AS (
      SELECT e, m FROM (VALUES {', '.join(f'({i + 1}, {m})' for i, m in enumerate(_SHUF_EPOCH_MULT))}) AS t(e, m)
    ), ordered AS (
      SELECT e, doc_id,
             row_number() OVER (PARTITION BY e
               ORDER BY ((doc_id + 1) * m) % 1000000007, doc_id) AS rn
      FROM documents CROSS JOIN epochs
    ), head AS (
      SELECT e, doc_id, rn FROM ordered WHERE rn <= 10
    ), e1 AS (SELECT doc_id FROM head WHERE e = 1)
    SELECT h.e AS epoch,
           string_agg(CAST(h.doc_id AS VARCHAR), ','
                      ORDER BY h.rn) AS first10_csv,
           CAST(SUM(CASE WHEN e1.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS overlap_with_e1
    FROM head h LEFT JOIN e1 ON h.doc_id = e1.doc_id
    GROUP BY h.e
    """,
    priority="P2",
    tags=("source", "training", "shuffle"),
)
def q_shuffle_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch data shuffling — the reproducibility
    contract of a training data loader: epoch e orders the corpus by a
    Knuth hash keyed on (doc_id, epoch multiplier), so (a) every
    worker/engine/partitioning derives the SAME order (seeded
    `orderBy(rand)` does not survive a repartition), (b) different
    epochs see genuinely different orders (the emitted first-10
    overlap with epoch 1 is ~0 for e ≠ 1), and (c) any shard of the
    order can be reconstructed independently — the property that lets
    a 1000-worker job resume mid-epoch without replaying the stream.

    Scale: per epoch the head-of-order is TakeOrdered-shaped (the
    window here ranks only to slice the demo's first 10; a loader
    materializes the order lazily by hash-range). The hash is sargable
    scan-side arithmetic.

    The full-order window on (epoch × corpus) exists to hash-pin the
    ORDER itself; production reads it as a sort key, not a window."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    epochs = d.sparkSession.createDataFrame(
        [(i + 1, m) for i, m in enumerate(_SHUF_EPOCH_MULT)], "e int, m long"
    )
    w = Window.partitionBy("e").orderBy(
        F.pmod((F.col("doc_id") + 1) * F.col("m"), F.lit(1000000007)),
        F.col("doc_id"),
    )
    head = (
        d.crossJoin(F.broadcast(epochs))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("e", "doc_id", "rn")
        .localCheckpoint(eager=False)  # report leg + epoch-1 overlap leg
    )
    e1 = head.where(F.col("e") == 1).select(
        F.col("doc_id").alias("e1_doc")
    )
    return (
        head.join(F.broadcast(e1), head.doc_id == e1.e1_doc, "left")
        .groupBy(F.col("e").alias("epoch"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "doc_id"))
                    ),
                    lambda s: s.getField("doc_id").cast("string"),
                ),
                ",",
            ).alias("first10_csv"),
            F.sum(F.col("e1_doc").isNotNull().cast("int"))
            .cast("bigint")
            .alias("overlap_with_e1"),
        )
    )


@register(
    "q_source_glob_nested",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source IN ('src1', 'src3') AND (doc_id // 20) % 2 = 0
    GROUP BY lang
    """,
    priority="P2",
    tags=("source", "glob", "nested-layout"),
)
def q_source_glob_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-directory ingestion surface: write documents into a
    source/parity/ directory TREE that is NOT a partitioned table
    (plain nested dirs — the layout crawl dumps and vendor drops
    actually arrive in), then read back with `recursiveFileLookup` +
    `pathGlobFilter` so only two source branches' even-parity files
    are scanned — directory-level pruning when there is no partition
    metadata to prune with. The oracle recomputes the same slice from
    the source table, proving the glob selected exactly the right
    branches.

    Scale: pathGlobFilter prunes at FILE LISTING time — the excluded
    branches are never opened (no footer reads, no tasks) — which is
    the only pruning available on non-tabular layouts; at 100 TB you
    promote such trees to real partitioned tables precisely to trade
    glob-listing for catalog pruning (q_sink_roundtrip's path)."""
    base = scratch(spark, "sinks", "glob_nested_docs")
    d = load(spark, sf_dir, "documents")
    # Six subtrees: the two globbed sources, a decoy source, × block
    # parity (doc_id div 20 — raw doc_id parity is DEGENERATE here:
    # the generator assigns source = src{doc_id % 20}, so src1 docs
    # are all odd; caught by the fresh-interpreter non-empty check).
    # Branch list is a literal — no driver-side distinct().collect().
    for src in ("src1", "src3", "src5"):
        for par in (0, 1):
            (
                d.where(
                    (F.col("source") == src)
                    & (F.pmod(F.expr("doc_id div 20"), F.lit(2)) == par)
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(base, f"src_{src}", f"par{par}"))
            )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(
            os.path.join(base, "src_src1", "par0"),
            os.path.join(base, "src_src3", "par0"),
        )
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "q_sink_parquet_bloom",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           {R2('SUM(o_totalprice)')} AS total
    FROM orders
    WHERE o_custkey IN (7, 42, 99)
    GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("sink", "layout", "bloom", "scale-path"),
)
def q_sink_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter layout: rewrite orders with a column bloom
    filter on o_custkey (parquet.bloom.filter.enabled#o_custkey, NDV
    hint sized to the key domain, per-column dictionary off — see the
    inline note), then answer a point-lookup IN query from the bloom
    copy. Min/max row-group stats (the
    `q_sink_sorted_pruning` device) are useless for point lookups on
    a UNSORTED high-cardinality key — every row group's [min, max]
    straddles any probe — but the bloom filter answers "definitely
    absent" per row group at ~10 bits/key, so a 100 TB fact table
    skips the row groups that cannot contain the customer. This is
    the layout trick behind needle-in-haystack serving queries
    (order history for ONE customer) on fact tables too big to sort
    by every access path.

    The oracle runs the same IN-filter aggregate on the SOURCE table,
    proving the bloom rewrite is lossless; the unit test reads the
    written footers and asserts a bloom offset is recorded for the
    o_custkey column chunks (the property the skip relies on).

    Scale: the rewrite is one map-only pass (no shuffle — bloom
    filters accumulate per row group at write time); the probe scan
    prunes row groups before decoding any page."""
    path = scratch(spark, "sinks", "orders_bloom_custkey")
    (
        load(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "200000")
        # parquet-mr silently OMITS the bloom filter for a column whose
        # pages all landed dictionary-encoded (the dict is already an
        # exact filter) — at test SFs the key domain is small enough to
        # dict-encode, so force plain encoding to keep the written
        # artifact the one the 100 TB layout would have (discovered by
        # the footprint law test: zero growth with dictionary on).
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(
        F.col("o_custkey").isin(7, 42, 99)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q_sink_csv_quoting",
    oracle="""
    WITH tricky AS (
      SELECT doc_id,
             'x,"y' || chr(10) || substr(text, 1, 20) || ',' || lang
               AS payload
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(length(payload)) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT payload) AS BIGINT) AS n_distinct
    FROM tricky
    """,
    priority="P2",
    tags=("sink", "csv", "fidelity"),
)
def q_sink_csv_quoting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip fidelity under the three classic corruptors —
    embedded DELIMITERS, embedded QUOTES, and embedded NEWLINES
    (`q_source_csv_roundtrip` proves the happy path; every real CSV
    incident is one of these three): build a payload column that
    contains all of them, write RFC 4180 CSV (quote-doubling escape,
    not backslash — the dialect every spreadsheet and COPY command
    speaks), read it back with multiLine=true (without it the
    embedded newline SPLITS ROWS — silent corruption, not an error),
    and aggregate count / total chars / distinct payloads. The
    oracle recomputes the same aggregates from the SOURCE table —
    byte-exact payload survival is the assertion.

    Scale: multiLine=true is the documented cost of embedded
    newlines — files can no longer be split at newline boundaries,
    so parallelism drops to one task per FILE; the write side
    controls file count (partition count) to keep that parallel.
    Production guidance in the docstring is the op's point: quote
    discipline is a correctness gate BEFORE a performance choice."""
    path = scratch(spark, "sinks", "docs_csv_quoting")
    tricky = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('x,"y'),
            F.lit("\n"),
            F.substring("text", 1, 20),
            F.lit(","),
            F.col("lang"),
        ).alias("payload"),
    )
    (
        tricky.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')  # RFC 4180 quote doubling
        .csv(path)
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .schema("doc_id bigint, payload string")
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.length("payload")).cast("bigint").alias("total_chars"),
        F.countDistinct("payload").cast("bigint").alias("n_distinct"),
    )
