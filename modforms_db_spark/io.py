"""Table loading for the driver parquet layout (TESTDATA.md).

``load(spark, sf_dir, name)`` is the single scan entry point used by every
registered query — keeping it centralized means pushdown/pruning behavior is
uniform and the plan-shape tests only cover one reader.

Timestamp policy (measured this session with pyarrow + Spark 4.1.2):

- ``orders.o_orderdate`` / ``lineitem.l_shipdate`` are parquet ``timestamp[ms]``
  with ``isAdjustedToUTC=false`` → Spark reads TIMESTAMP_NTZ natively, which is
  the exact semantic twin of DuckDB's naive TIMESTAMP. No conversion needed.
- ``events.ts`` is parquet ``timestamp[ns]`` which Spark's reader REJECTS
  (``PARQUET_TYPE_ILLEGAL: INT64 (TIMESTAMP(NANOS,false))``). We resolve the
  read under ``spark.sql.legacy.parquet.nanosAsLong=true``, scoped to the
  read (:func:`modforms_db_spark.session.scoped_conf`; the resolved frame
  keeps its bigint ``ts`` and executes the same once the conf is back),
  and convert ``ns → µs`` with integer division, which
  truncates identically to DuckDB's ns→µs read (verified on sf0.001: both
  yield e.g. ``.778549`` from ``.778549829ns``). The conversion goes through
  ``timestamp_micros`` (an absolute-instant type) and a cast to NTZ; both
  steps use the session timezone, which :func:`modforms_db_spark.session.prep`
  pins to UTC so they cancel exactly.

The reference persisted records as a filesystem-as-database plus GridFS
metadata+blob documents (SURVEY.md §1.1 [R]); parquet column pruning is the
Spark-native equivalent of "read the metadata without fetching the blob".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark import cache
from modforms_db_spark.schemas import SCHEMAS, TABLES, path_for
from modforms_db_spark.session import scoped_conf


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, normalized to its canonical schema; served
    from the session catalog (see :mod:`modforms_db_spark.cache`)."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return cache.get(
        cache.CATALOG, spark, sf_dir, name, lambda: _build(spark, sf_dir, name), name
    )


def _build(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    df = spark.read.parquet(path_for(sf_dir, name))
    target = SCHEMAS[name]
    if df.schema == target:
        return df
    cast_cols = [
        F.col(f.name) if df.schema[f.name].dataType == f.dataType
        else F.col(f.name).cast(f.dataType).alias(f.name)
        for f in target.fields
    ]
    return df.select(*cast_cols)


def load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Uncast raw reader for one driver table — for consumers that need
    pre-projection scan facilities (the hidden `_metadata` struct, which
    a `select` projection drops). Same catalog cache as :func:`load`."""
    return cache.get(
        cache.CATALOG,
        spark,
        sf_dir,
        name,
        lambda: spark.read.parquet(path_for(sf_dir, name)),
        f"_raw:{name}",
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        df = spark.read.parquet(path_for(sf_dir, "events"))
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        # timestamp[ns] physical type: arrives as bigint nanoseconds under
        # nanosAsLong; div-1000 truncation == DuckDB's ns→µs read.
        ts_col = F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    else:
        # timestamp[us/ms] physical type: Spark reads a timestamp natively;
        # normalize to NTZ (no-op when isAdjustedToUTC=false, and the session
        # timezone is pinned UTC so an instant-typed read converts losslessly).
        ts_col = F.col("ts").cast("timestamp_ntz")
    return df.select(
        "event_id",
        ts_col.alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism before compute-heavy
    per-row work (tokenization, hashing, shingling).

    Why this exists: an input whose files/row-groups are fewer than the
    cluster's cores runs every narrow stage on those few tasks — the
    driver's single-row-group parquet files at test SF are the extreme
    case (1 task for the whole scan). One cheap shuffle of the RAW rows
    (pre-explosion, pre-fan-out: the smallest the data ever is) buys full
    parallelism for everything downstream. At 100 TB inputs normally
    arrive in thousands of splits and this becomes a no-op-sized guard —
    keep it only ahead of stages whose compute-per-byte is extreme
    (signatures, shingle explosion), where even there the shuffled bytes
    are a rounding error next to the fan-out they parallelize.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
