"""modforms_db_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ``sehlen/modforms-db`` (reference checkout at
/root/reference was empty at survey time; see SURVEY.md §0 for the evidence
system — capabilities are reconstructed at the [R] tier and bound to the
driver contract in SURVEY.md §2).

Architecture (Spark-first, not a port):

- Every operator is a **declarative DataFrame program** registered in
  :mod:`modforms_db_spark.registry`; Catalyst/AQE pick the physical plan.
- Explicit schemas (:mod:`modforms_db_spark.schemas`) — no inference on
  correctness-checked paths.
- DuckDB-oracle parity discipline (SURVEY.md §2.11): every aggregated DOUBLE
  rounded, every top-k deterministically tie-broken, session timezone pinned
  to UTC, column names aliased identically on both engines.
- Python crosses the JVM boundary only via Arrow (pandas UDFs) on the few
  operators that genuinely need it (SURVEY.md §2.10).
"""

from modforms_db_spark.registry import REGISTRY, get_queries, get_oracle_sql

__all__ = ["REGISTRY", "get_queries", "get_oracle_sql"]
__version__ = "0.1.0"

