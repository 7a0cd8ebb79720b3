"""SparkSession factory + per-query session preparation.

Two distinct paths:

- :func:`get_spark` — our own session (tests, bench.py): local[$SPARK_GRAFT_CPUS],
  AQE on, shuffle partitions sized for single-node SF (SURVEY.md §4: "8-32, not
  the 200 default"), UTC timezone, Arrow enabled.
- :func:`prep` — called at the top of every registered query builder, because the
  DRIVER owns the session there (__spark_entry__.py contract). Only touches
  runtime-settable confs that correctness depends on (timezone; Arrow for the
  pandas-UDF operators). Never assumes our factory ran.

:func:`collect_within_budget` with :func:`driver_row_budget` is the
sketch-then-exact switch of the iterative index builds: a frame that fits
the driver is finished there in one collect instead of a Spark job per
round.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import pyarrow as pa


def get_spark(app_name: str = "modforms-db-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("MFDB_SHUFFLE_PARTITIONS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("MFDB_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    return spark


# A driver-side finish may fill this share of the driver JVM's max heap
# with collected rows; the rest stays with the engine.
_DRIVER_HEAP_SHARE = 16


def driver_row_budget(spark: SparkSession, row_bytes: int) -> int:
    """Rows of about ``row_bytes`` each that a driver-side finish may
    collect: 1/16 of the driver's measured max heap
    (``Runtime.maxMemory()``), so the threshold scales with the driver
    the session actually has instead of a tuned constant."""
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    return int(heap) // (_DRIVER_HEAP_SHARE * row_bytes)


def collect_within_budget(df: DataFrame, budget: int) -> pa.Table | None:
    """``df`` as a ``pyarrow.Table`` if it has at most ``budget`` rows,
    else None. One ``limit(budget + 1).toArrow()`` job either way, so
    ``budget=0`` is an emptiness test that returns an empty table."""
    tbl = df.limit(budget + 1).toArrow()
    return tbl if tbl.num_rows <= budget else None


def prep(spark: SparkSession) -> SparkSession:
    """Pin runtime confs correctness depends on; safe on any session.

    UTC so TIMESTAMP values collected from Spark equal DuckDB's naive
    timestamps (FIXTURES.md parity rules); Arrow so pandas-UDF operators run
    vectorized instead of falling back to pickle.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # conf may be restricted on an unknown session; Arrow is perf-only
    return spark
