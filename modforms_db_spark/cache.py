"""Session cache: the one place that decides what a cached entry is keyed
on and when it is still valid.

Five stores follow the same rules:

- ``CATALOG``: resolved reader DataFrames per table (``io.load``,
  ``io.load_raw``). This is catalog caching, not data caching: it pins
  no rows, and every execution still scans parquet.
- ``LSH_CORE`` and ``LSH_LABELS`` (read ``documents``), ``KMEANS_CORE``
  and ``SEM_LABELS`` (read ``embeddings``): the dedup and k-means
  indexes, built once per corpus snapshot and served to every consumer.

Invariants:

- **Key.** ``(applicationId, os.path.abspath(sf_dir))``, plus the table
  name for catalog entries. The applicationId scopes an entry to one
  SparkContext, so a restarted session never sees frames whose
  checkpoint blocks died with the old JVM. ``abspath`` makes a relative
  ``sf_dir``, its absolute form and a trailing slash share one entry.
- **Revalidation.** Each entry stores a fingerprint, ``(size,
  st_mtime_ns)``, of the parquet file it reads. A lookup whose
  fingerprint differs rebuilds the entry and replaces it in place, so a
  rewritten input is never answered from the cache. A path that cannot
  be stat-ed (not a local file) fingerprints as None.
- **Bound.** Each index store keeps at most ``MAX_DATASETS`` keys and
  evicts the oldest first. The catalog is unbounded, and :func:`clear`
  leaves it alone, because it pins no blocks.
- **No unpersist.** Eviction and :func:`clear` only drop references; the
  JVM ContextCleaner frees the checkpoint blocks once no frame uses
  them. An explicit unpersist would break frames a caller still holds:
  ``localCheckpoint`` keeps no lineage to recompute from, so they would
  fail with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
"""

from __future__ import annotations

import functools
import os
from typing import Any, Callable

from pyspark.sql import SparkSession

from modforms_db_spark.schemas import path_for

MAX_DATASETS = 8

# key -> (fingerprint, value)
CATALOG: dict[tuple, tuple] = {}
LSH_CORE: dict[tuple, tuple] = {}
LSH_LABELS: dict[tuple, tuple] = {}
SEM_LABELS: dict[tuple, tuple] = {}
KMEANS_CORE: dict[tuple, tuple] = {}
_INDEXES = (LSH_CORE, LSH_LABELS, SEM_LABELS, KMEANS_CORE)


def _fingerprint(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def get(
    store: dict,
    spark: SparkSession,
    sf_dir: str,
    table: str,
    build: Callable[[], Any],
    *key: str,
) -> Any:
    """Return ``store``'s entry for this session, ``sf_dir`` and ``key``,
    calling ``build()`` when it is missing or ``table`` has changed."""
    k = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), *key)
    fp = _fingerprint(path_for(sf_dir, table))
    entry = store.get(k)
    if entry is not None and entry[0] == fp:
        return entry[1]
    value = build()
    if k not in store and store is not CATALOG:
        while len(store) >= MAX_DATASETS:
            del store[next(iter(store))]
    store[k] = (fp, value)
    return value


def index(store: dict, table: str):
    """Serve ``build(spark, sf_dir)`` from ``store``; ``table`` is its input."""

    def wrap(build):
        @functools.wraps(build)
        def cached(spark: SparkSession, sf_dir: str):
            return get(store, spark, sf_dir, table, lambda: build(spark, sf_dir))

        return cached

    return wrap


def clear() -> None:
    """Empty every index store. The catalog is kept: it pins no blocks."""
    for store in _INDEXES:
        store.clear()
