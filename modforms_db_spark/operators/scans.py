"""Scans — SURVEY.md §2.1.

Reference capability [R]: scan a GridFS collection / metadata-filtered
``find`` without fetching blobs. Spark-native form: parquet scan with
column pruning + predicate pushdown (verified by plan tests in
tests/test_plans.py — PushedFilters + ReadSchema must show both fired).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load, load_raw
from modforms_db_spark.registry import register


@register(
    "q_scan_full",
    oracle="SELECT r_regionkey, r_name FROM region",
    priority="P0",
    tags=("scan",),
)
def q_scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan + projection of region."""
    return load(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "q_scan_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
    """,
    priority="P0",
    tags=("scan", "pushdown"),
)
def q_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered 3-column scan — exercises parquet predicate pushdown + pruning."""
    import pyspark.sql.functions as F

    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("2001-06-01 00:00:00").cast("timestamp_ntz"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@register(
    "q_sample",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem
    WHERE (l_orderkey * 2654435761 + l_linenumber * 40503) % 100 < 20
    GROUP BY l_returnflag
    """,
    priority="P2",
    tags=("scan", "sample"),
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% Bernoulli sample by content hash (Knuth
    multiplicative hashing on the row key), then a per-flag profile.

    `df.sample(seed=...)`/TABLESAMPLE is partition-order-dependent — the
    same seed yields different rows after a repartition, which is useless
    for reproducible holdouts. Hashing the ROW KEY makes the sample a pure
    function of the data: stable across engines, partitionings, and
    cluster sizes (and hence oracle-checkable). At 100 TB this predicate
    is sargable arithmetic — it rides the scan inside codegen with no
    shuffle at all."""
    li = load(spark, sf_dir, "lineitem")
    keep = (
        (F.col("l_orderkey") * F.lit(2654435761).cast("bigint")
         + F.col("l_linenumber") * F.lit(40503)) % 100
    ) < 20
    return (
        li.where(keep)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_sample_stratified",
    oracle="""
    WITH rates AS (
      SELECT * FROM (VALUES ('en', 50), ('de', 20), ('fr', 20), ('es', 10), ('zh', 5))
             AS t(lang, pct)
    )
    SELECT d.lang, COUNT(*) AS n_sampled,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE (doc_id * 2654435761) % 100 < r.pct
    GROUP BY d.lang
    """,
    priority="P2",
    tags=("scan", "sample", "stratified"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: a different content-hash keep
    rate per stratum (lang) — the rebalancing step of every training-data
    mix (downsample the head language, keep the tail). Same
    partition-independence argument as `q_sample`; the per-stratum rate
    arrives via a broadcast dimension join, so the predicate is still
    scan-side arithmetic (no shuffle, no `sampleBy` seed drift).

    Scale: `df.stat.sampleBy` is seed+partition-order dependent —
    unusable for reproducible mixes; this formulation re-samples
    identically on any engine or cluster shape.
    """
    d = load(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("en", 50), ("de", 20), ("fr", 20), ("es", 10), ("zh", 5)],
        "lang string, pct int",
    )
    keep = (F.col("doc_id") * F.lit(2654435761).cast("bigint")) % 100 < F.col("pct")
    return (
        d.join(F.broadcast(rates), "lang")
        .where(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@register(
    "q_scan_metadata",
    oracle="""
    SELECT COUNT(*) AS total_rows,
           TRUE     AS files_complete
    FROM lineitem
    """,
    priority="P2",
    tags=("scan", "metadata", "lineage"),
)
def q_scan_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file scan audit via the hidden `_metadata` struct (file_path,
    row_index): the scan-level lineage a 100 TB ingest audit needs
    (which files fed this table, were any partially read). The GridFS
    metadata-without-blob read [R], at file granularity.

    Self-validating form so the driver can hash-match it: the per-file
    row counts derived purely from `_metadata` must reconcile with the
    table — `total_rows` (sum of per-file counts) equals the oracle's
    COUNT(*), and `files_complete` asserts every file's row_index span
    is exactly [0, n_rows) (no partially-read file). The contract row
    deliberately emits only LAYOUT-INDEPENDENT facts (a multi-file
    sf_dir must still hash-match); the file-count audit itself lives in
    the unit test (:func:`scan_metadata_per_file` vs the file listing).
    """
    return scan_metadata_per_file(spark, sf_dir).agg(
        F.sum("n_rows").alias("total_rows"),
        F.bool_and(
            (F.col("first_idx") == F.lit(0))
            & (F.col("last_idx") == F.col("n_rows") - F.lit(1))
        ).alias("files_complete"),
    )


def scan_metadata_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file `_metadata` audit (file_path, n_rows, row_index span) —
    the full-granularity lineage view `q_scan_metadata` summarizes;
    unit-tested against the physical file listing."""
    df = load_raw(spark, sf_dir, "lineitem")
    return (
        df.select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("row_index"),
        )
        .groupBy("file_path")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("row_index").alias("first_idx"),
            F.max("row_index").alias("last_idx"),
        )
    )


@register(
    "q_scan_observed",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS keysum
    FROM orders GROUP BY o_orderstatus
    """,
    priority="P2",
    tags=("scan", "observe", "metrics"),
)
def q_scan_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation with in-flight `Observation` metrics: the SAME pass that
    answers the query also reports rows-scanned and null-key counts to the
    driver (no second job, no extra scan) — the reference's
    `check_records` instrumentation [R] as Spark's observe() API. The
    observation is invisible to the result (oracle-checked); the unit
    test asserts the metrics.

    Scale: observe() piggybacks accumulators on the existing tasks —
    0-cost monitoring at 100 TB, vs a separate validation scan that
    doubles the read.
    """
    from pyspark.sql import Observation

    obs = Observation("scan_audit")
    # Observe a projection of our own, never the catalog's shared frame:
    # an observe() on the shared frame stays registered on it, and a
    # build that is never executed then starves every later call's get.
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    ).observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_keys"),
    )
    out = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("keysum"),
    )
    # Stash the Observation so tests can read the metrics after the
    # driver/test collects the result.
    q_scan_observed.last_observation = obs  # type: ignore[attr-defined]
    return out


@register(
    "q_source_range",
    oracle="""
    SELECT CAST(i % 7 AS BIGINT) AS residue,
           COUNT(*) AS n,
           CAST(SUM(i) AS BIGINT) AS sum_i,
           CAST(SUM(i * i) AS BIGINT) AS sum_sq,
           MIN(i) AS min_i,
           MAX(i) AS max_i
    FROM (SELECT CAST(range AS BIGINT) AS i FROM range(250000))
    GROUP BY 1
    """,
    priority="P2",
    tags=("source", "generated", "range"),
)
def q_source_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated-sequence source: `spark.range(250k)` (no input files at
    all) aggregated by residue class mod 7 with exact BIGINT moments —
    the spine/backfill generator every calendar-gapfill and synthetic-
    benchmark path starts from.

    Scale: `Range` is a leaf that SPLITS ACROSS EXECUTORS (each task
    materializes its own [start,end) slice — no driver materialization,
    no file listing), so a 10^12-row spine is as cheap to parallelize
    as a parquet scan; the residue agg is one partial-agg shuffle of 7
    groups. All-integer arithmetic → engine-exact parity."""
    i = F.col("id")
    return (
        spark.range(250_000)
        .groupBy((i % 7).alias("residue"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(i).alias("sum_i"),
            F.sum(i * i).alias("sum_sq"),
            F.min(i).alias("min_i"),
            F.max(i).alias("max_i"),
        )
    )


@register(
    "q_partition_skew_report",
    oracle=None,  # partition ids come from Spark's Murmur3 hash — not
    # reproducible in the oracle engine; laws (totality, bounds,
    # determinism) are pinned by the unit test instead
    priority="P3",
    tags=("scan", "skew", "introspection"),
)
def q_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnostic: repartition the fact table 16 ways on
    the join key and report per-partition row counts plus each
    partition's share of the total — the check you run BEFORE a big
    keyed shuffle to see whether AQE skew-split or salting
    (`q_join_skew_salted`) will be needed. `spark_partition_id` is the
    engine's own placement, so this measures the REAL hash layout, not
    a model of it.

    Scale: the report is one partial-agg over partition ids (≤16
    groups); determinism holds because hash partitioning is a pure
    function of (key bytes, partition count) — pinned by the unit
    test across two runs."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    parts = (
        li.repartition(16, "l_orderkey")
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .localCheckpoint(eager=False)  # total + output both read the 16 rows
    )
    tot = parts.agg(F.sum("n_rows").alias("total"))
    return (
        parts.crossJoin(F.broadcast(tot))
        .select(
            "pid",
            "n_rows",
            F.round(F.col("n_rows") / F.col("total"), 4).alias("share"),
        )
    )
