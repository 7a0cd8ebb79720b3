"""Query registry — the executable form of SURVEY.md §2's operator inventory.

Every operator registers a :class:`QueryDef`: a DataFrame builder
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the DuckDB
oracle SQL the driver hash-matches it against (__spark_entry__.py contract).
``oracle=None`` → the driver records the weaker rows-only check (streaming,
sketches).

:func:`register` wraps each builder to call :func:`~modforms_db_spark.session.prep`
first: the driver owns the session, so no builder may assume our factory ran.

The registry is populated by importing the operator modules
(:func:`_load_all`), so ``queries()`` / ``oracle_sql()`` in
``__spark_entry__.py`` are just views over it.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from modforms_db_spark.session import prep

Builder = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QueryDef"] = {}

# Modules that register operators on import; order mirrors SURVEY.md §2.
_OPERATOR_MODULES = [
    "modforms_db_spark.operators.scans",
    "modforms_db_spark.operators.filters",
    "modforms_db_spark.operators.joins",
    "modforms_db_spark.operators.aggregates",
    "modforms_db_spark.operators.windows",
    "modforms_db_spark.operators.sorts",
    "modforms_db_spark.operators.setops",
    "modforms_db_spark.operators.temporal",
    "modforms_db_spark.operators.quality",
    "modforms_db_spark.operators.graph",
    "modforms_db_spark.operators.tpch",
    "modforms_db_spark.sources.sinks",
    "modforms_db_spark.sources.python_ds",
    "modforms_db_spark.functions.strings",
    "modforms_db_spark.functions.dates_math",
    "modforms_db_spark.functions.arrays_json",
    "modforms_db_spark.functions.udfs",
    "modforms_db_spark.streaming.batch_twins",
    "modforms_db_spark.streaming.streams",
    "modforms_db_spark.llm.dedup",
    "modforms_db_spark.llm.similarity",
    "modforms_db_spark.llm.text_stats",
    "modforms_db_spark.llm.multimodal",
    "modforms_db_spark.llm.pipeline",
    "modforms_db_spark.llm.curation",
]

_loaded = False


@dataclass
class QueryDef:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    priority: str = "P1"  # P0..P4 per SURVEY.md §2
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    module: str = ""  # defining module (captured at registration)


def register(
    name: str,
    oracle: str | None,
    priority: str = "P1",
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            prep(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QueryDef(
            name=name,
            builder=pinned,
            oracle=oracle,
            priority=priority,
            doc=fn.__doc__.strip().splitlines()[0] if fn.__doc__ else "",
            tags=tags,
            module=fn.__module__,
        )
        return pinned

    return deco


def _load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


# The driver-contract views follow registration order.
def get_queries() -> dict[str, Builder]:
    _load_all()
    return {name: q.builder for name, q in REGISTRY.items()}


def get_oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def get_registry() -> dict[str, QueryDef]:
    _load_all()
    return REGISTRY
