"""SparkSession factory + per-query session preparation.

Two distinct paths:

- :func:`get_spark` — our own session (tests, perfbench, scripts):
  local[$SPARK_GRAFT_CPUS], AQE on, shuffle partitions sized for single-node SF
  (SURVEY.md §4: "8-32, not the 200 default"), UTC timezone, Arrow enabled.
  Without the env vars, cores and driver memory come from the host.
  Its driver JVM's compiler and collector follow the session's length. A
  short session (one CLI query, one benchmark run) compiles C1-only: C2
  compilation is most of its set-up CPU and a run of a minute never earns
  it back. It also collects with the serial collector, which commits
  less of a small heap than G1 (whose eden and old generation each grow
  towards the heap's size) and runs no concurrent GC threads. A
  ``long_lived`` one (the test suite and the audit scripts, which each run
  the whole registry for minutes) keeps the default tiered JIT and G1:
  there C1 code still saves CPU but costs wall time, the suite runs
  against a wall-clock timeout, and its heap is sized to the host (up to
  16g), where the serial collector's single-threaded full collections
  would walk gigabytes.
  Both lengths size Spark's JVM-wide cache of compiled generated classes
  (``spark.sql.codegen.cache.maxEntries``) to hold every generated class
  of the registry, so a repeated query reuses its compiled code instead of
  compiling it again. The default of 100 entries is smaller than one
  workload's set of classes, so without it every warm pass recompiles
  nearly all of them.
  Both lengths also stop plan building from asking the JVM what it
  already knows. pyspark reaches its helpers by simple name
  (``PythonSQLUtils`` for every higher-order function, ``PythonUtils``
  for every column list, ``functions``), and py4j resolves a simple name
  on every access: the bare name, then each import of the view, every
  miss a failed class load across all of Spark's jars. The session's
  JVM view keeps each name it resolved to a class, so a repeat access
  sends nothing; any other name (py4j answers a name that is no class
  with a package) is asked again, so an import added later (streaming
  adds some) still takes effect. And pyspark's DataFrame call-site
  capture is off: with it on, every ``F.col`` and every ``Column``
  method also reads two confs, sets and clears the JVM's current
  origin, walks the Python stack and tries to import IPython. Spark's
  error messages then lack the Python file:line of the failing call;
  results are unchanged.
- :func:`prep` — called by the registry around every registered builder, because
  the DRIVER owns the session there (__spark_entry__.py contract). Only touches
  runtime-settable confs that correctness depends on (timezone; Arrow for the
  pandas-UDF operators). Never assumes our factory ran. The codegen cache
  size is a static conf, fixed when the JVM's first session starts, so
  ``prep`` cannot set it on the driver-owned session. ``prep`` leaves
  the JVM view and call-site capture alone too: neither changes a
  result, and pyspark fixes the capture flag for the whole process at its
  first wrapped call.

:func:`collect_within_budget` with :func:`driver_row_budget` is the
sketch-then-exact switch of the iterative index builds: a frame that fits
the driver is finished there in one collect instead of a Spark job per
round.

:func:`scratch` is the one place a builder gets a directory to write to,
and :func:`scoped_conf` the one way a builder changes a session conf for
the span of a write or a stream run.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager
from typing import TYPE_CHECKING, Iterator

from py4j.java_gateway import JavaClass, JVMView
from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import pyarrow as pa


# Upper bound of the host-derived driver memory default.
_MAX_DRIVER_MB = 16 * 1024

# Driver JVM options of the factory's short sessions: C1-only JIT
# compilation, with the code cache kept at the tiered JVM's 240m (C1-only
# alone shrinks it to 48m), and the serial collector: a one-run session's
# heap is small, so its pauses are short, and serial keeps the committed
# heap near what is live where G1 grows eden and old gen towards -Xmx.
# Long sessions keep G1 (module docstring).
_SHORT_SESSION_JAVA_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC"
)

# Entries of the JVM-wide cache of compiled generated classes: a sweep of
# the whole registry generates about 7.2k distinct classes.
_CODEGEN_CACHE_ENTRIES = 16384


class _ClassCachingJVMView(JVMView):
    """A py4j ``JVMView`` that keeps each name it resolved to a class in
    its ``__dict__``, where a repeat access finds it without a round trip.
    A ``JavaClass`` holds only its fully qualified name and the gateway
    client, so the JVM still resolves every call on it by that name.
    Any other answer (a package, which is also py4j's answer for a name
    that no import makes a class, or an error) is not kept. A kept name
    stays with its class even if a later import would resolve it to
    another."""

    def __getattr__(self, name: str):
        found = super().__getattr__(name)
        if isinstance(found, JavaClass):
            self.__dict__[name] = found
        return found


def _host_driver_mem() -> str:
    """The host's MemTotal from ``/proc/meminfo``, capped at 16g."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(kb // 1024, _MAX_DRIVER_MB)}m"


def get_spark(
    app_name: str = "modforms-db-spark", *, long_lived: bool = False
) -> SparkSession:
    """The factory's session. ``long_lived=True`` keeps the driver JVM's
    default tiered compilation and G1 collector; otherwise it compiles
    C1-only and collects with the serial collector. Both get a
    codegen cache that holds the registry's generated classes (see the
    module docstring). Either only acts when this call starts the JVM.
    Every call makes the process's JVM view keep the class names it
    resolves and turns pyspark's DataFrame call-site capture off; pyspark
    reads that flag once per process, at its first wrapped call."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    mem = os.environ.get("MFDB_DRIVER_MEM") or _host_driver_mem()
    shuffle = os.environ.get("MFDB_SHUFFLE_PARTITIONS", "32")
    builder = SparkSession.builder
    if not long_lived:
        builder = builder.config(
            "spark.driver.extraJavaOptions", _SHORT_SESSION_JAVA_OPTIONS
        )
    spark = (
        builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    jvm = spark.sparkContext._jvm
    if type(jvm) is JVMView:
        jvm.__class__ = _ClassCachingJVMView
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


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the ``with`` block, then give each
    key back its prior value, or unset it if it had none."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Scratch roots this process created, and the application they belong to.
# A root is ``<TMPDIR>/mfdb_spark_<area>/<applicationId>-<pid>``: the
# applicationId keeps two sessions on one host apart, the pid two
# processes whose local applications share an id.
_scratch_roots: set[str] = set()
_scratch_app: str | None = None
_scratch_lock = threading.Lock()


def scratch_root(spark: SparkSession, area: str) -> str:
    """This session's scratch root for ``area`` (``sinks`` or ``streams``);
    perfbench counts bytes under ``mfdb_spark_streams`` as stream
    checkpoints and everything else as sink output."""
    app = spark.sparkContext.applicationId
    return os.path.join(
        tempfile.gettempdir(), f"mfdb_spark_{area}", f"{app}-{os.getpid()}"
    )


def scratch(spark: SparkSession, area: str, name: str) -> str:
    """An empty directory ``<scratch_root>/<name>``. A repeat call for a
    name clears what the previous call left there, so each name holds at
    most one output. The process's roots are removed when a later
    application first asks for scratch, and at interpreter exit."""
    global _scratch_app
    root = scratch_root(spark, area)
    app = spark.sparkContext.applicationId
    with _scratch_lock:
        if app != _scratch_app:
            _remove_scratch()
            _scratch_app = app
        _scratch_roots.add(root)
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@atexit.register
def _remove_scratch() -> None:
    for root in _scratch_roots:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))  # the area, once no process uses it
        except OSError:
            pass
    _scratch_roots.clear()
