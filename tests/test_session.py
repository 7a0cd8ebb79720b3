"""Session helpers: scoped confs, per-application scratch and its
lifecycle, host-derived defaults, the factory's JVM view and call-site
capture."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import threading

import pytest
from py4j.java_gateway import JavaPackage, JVMView, java_import

from modforms_db_spark.session import (
    _CODEGEN_CACHE_ENTRIES,
    _MAX_DRIVER_MB,
    _host_driver_mem,
    scoped_conf,
    scratch,
    scratch_root,
)
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scoped_conf_restores_prior_value_or_unsets(spark):
    unset, held = "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.shuffle.partitions"
    spark.conf.unset(unset)
    prior = spark.conf.get(held)
    with scoped_conf(spark, {unset: "true", held: "3"}):
        assert spark.conf.get(unset) == "true"
        assert spark.conf.get(held) == "3"
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(held) == prior


def test_scoped_conf_restores_on_error(spark):
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    with pytest.raises(RuntimeError), scoped_conf(spark, {key: "3"}):
        raise RuntimeError("boom")
    assert spark.conf.get(key) == prior


def test_scratch_layout_and_repeat_call_clears(spark):
    root = scratch_root(spark, "sinks")
    assert root == os.path.join(
        tempfile.gettempdir(),
        "mfdb_spark_sinks",
        f"{spark.sparkContext.applicationId}-{os.getpid()}",
    )
    path = scratch(spark, "sinks", "scratch_probe")
    assert path == os.path.join(root, "scratch_probe")
    assert os.listdir(path) == []
    open(os.path.join(path, "old"), "w").close()
    assert scratch(spark, "sinks", "scratch_probe") == path
    assert os.listdir(path) == []


def test_scratch_from_many_threads(spark):
    """Builders ask for scratch from several threads (q_sink_bucketed's
    two writes): every caller gets its own existing, empty directory."""
    from concurrent.futures import ThreadPoolExecutor

    names = [f"thread_probe_{i}" for i in range(32)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            paths = list(pool.map(lambda n: scratch(spark, "sinks", n), names))
    finally:
        sys.setswitchinterval(interval)
    root = scratch_root(spark, "sinks")
    assert paths == [os.path.join(root, n) for n in names]
    assert all(os.listdir(p) == [] for p in paths)


def test_host_driver_mem_is_capped():
    mb = int(_host_driver_mem().removesuffix("m"))
    assert 0 < mb <= _MAX_DRIVER_MB


def test_registered_builders_pin_the_session_confs(spark):
    """The driver owns the session, so a registered builder must pin UTC
    and Arrow itself, whether it is reached through the driver contract's
    ``get_queries()`` or by its module-level name."""
    from modforms_db_spark.operators.scans import q_scan_full
    from modforms_db_spark.registry import get_queries

    pinned = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    foreign = {
        "spark.sql.session.timeZone": "America/Los_Angeles",
        "spark.sql.execution.arrow.pyspark.enabled": "false",
    }
    for build in (get_queries()["q_scan_full"], q_scan_full):
        with scoped_conf(spark, foreign):
            assert {k: spark.conf.get(k) for k in pinned} == foreign
            build(spark, SF_DIR)
            assert {k: spark.conf.get(k) for k in pinned} == pinned


def test_no_registered_builder_calls_prep():
    """``registry.register`` pins the confs around every builder; a
    builder that calls ``prep`` itself copies that decision again."""
    import ast
    import pathlib

    from modforms_db_spark.registry import get_registry

    def is_register(dec):  # ``@register(...)``, not ``@atexit.register``
        return isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "register"

    builders, callers = 0, []
    for path in sorted(pathlib.Path(REPO, "modforms_db_spark").rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            if not any(is_register(d) for d in fn.decorator_list):
                continue
            builders += 1
            if any(
                isinstance(c, ast.Call)
                and getattr(c.func, "id", getattr(c.func, "attr", None)) == "prep"
                for c in ast.walk(fn)
            ):
                callers.append(f"{path.name}:{fn.name}")
    assert builders == len(get_registry())
    assert callers == []


def test_every_engine_function_is_registered_or_referenced():
    """Every top-level function under ``modforms_db_spark/`` is a
    registered builder or is named somewhere in the engine or in
    ``__spark_entry__.py``; the one exception is the label-propagation
    reference the tests check ``connected_components`` against. Reads
    source only."""
    import ast
    import pathlib

    def is_register(dec):
        return isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "register"

    engine = sorted(pathlib.Path(REPO, "modforms_db_spark").rglob("*.py"))
    defs, named = [], set()
    for path in [*engine, pathlib.Path(REPO, "__spark_entry__.py")]:
        for stmt in ast.parse(path.read_text()).body:
            own = stmt.name if isinstance(stmt, ast.FunctionDef) else None
            if own and path in engine and not any(
                is_register(d) for d in stmt.decorator_list
            ):
                defs.append(f"{path.relative_to(REPO)}:{own}")
            names = set()
            for n in ast.walk(stmt):
                if isinstance(n, ast.Name):
                    names.add(n.id)
                elif isinstance(n, ast.Attribute):
                    names.add(n.attr)
                elif isinstance(n, ast.alias):
                    names.add(n.name.rsplit(".", 1)[-1])
            named |= names - {own}  # a function naming itself is not a use
    unused = [d for d in defs if d.rsplit(":", 1)[1] not in named]
    assert unused == ["modforms_db_spark/llm/dedup.py:components_label_prop"]


def _jvm_input_args(spark) -> list[str]:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(mx.getRuntimeMXBean().getInputArguments())


def _jvm_collectors(spark) -> list[str]:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sorted(b.getName() for b in mx.getGarbageCollectorMXBeans())


# The collector names the serial collector registers: young, then old.
_SERIAL_COLLECTORS = ["Copy", "MarkSweepCompact"]


def test_long_lived_session_keeps_tiered_jit(spark):
    """The suite's ``long_lived`` session runs on the JVM's default
    tiered compilation and default (not serial) collector."""
    args = _jvm_input_args(spark)
    assert not any(a.startswith("-XX:TieredStopAtLevel") for a in args), args
    assert "-XX:+UseSerialGC" not in args, args
    assert _jvm_collectors(spark) != _SERIAL_COLLECTORS


_C1_PROBE = r"""
from modforms_db_spark.session import get_spark
from tests.test_session import _jvm_collectors, _jvm_input_args

spark = get_spark("mfdb-jvm-probe")
print("ARGS", _jvm_input_args(spark))
print("GC", _jvm_collectors(spark))
print("CODEGEN_CACHE", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
"""


def _short_session_lines(tmp_path, script: str) -> list[str]:
    """The output lines of ``script`` run in a child interpreter, where
    ``get_spark()`` starts a short session's JVM of its own."""
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_GRAFT_CPUS="1",
        MFDB_DRIVER_MEM="512m",
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout.splitlines()


def test_get_spark_jvm_is_c1_only(tmp_path):
    """A default (short) session's driver JVM starts with C1-only
    compilation, the tiered JVM's code cache size and the serial
    collector, and its codegen cache is sized like a long-lived one's. It
    needs a JVM of its own, so it runs in a child process."""
    lines = _short_session_lines(tmp_path, _C1_PROBE)
    args = next(ln for ln in lines if ln.startswith("ARGS "))
    assert "'-XX:TieredStopAtLevel=1'" in args, args
    assert "'-XX:ReservedCodeCacheSize=240m'" in args, args
    assert f"GC {_SERIAL_COLLECTORS}" in lines, lines
    assert f"CODEGEN_CACHE {_CODEGEN_CACHE_ENTRIES}" in lines, lines


# The ``relational_warm`` benchmark set: one read per operator module, a
# partitioned sink and a streaming upsert. At sf0.001 a first round
# compiles more than 100 generated classes, over Spark's default cache.
_WARM_SET = (
    "q_scan_pushdown", "q_join_sortmerge", "q_agg_flagship", "q_tpch_q5",
    "q_win_topk_pergroup", "q_cdc_apply", "q_array_explode", "q_win_tumbling",
    "q_sink_partition_overwrite", "q_stream_upsert",
)


def test_warm_rerun_compiles_nothing(spark):
    """The session's codegen cache holds a workload's generated classes,
    so a second round of the same queries reuses their compiled code."""
    from modforms_db_spark.registry import get_registry

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        _CODEGEN_CACHE_ENTRIES
    )
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    count = metrics.METRIC_COMPILATION_TIME().getCount
    reg = get_registry()
    rounds = []
    for _ in range(2):
        before = count()
        for name in _WARM_SET:
            reg[name].builder(spark, SF_DIR).collect()
        rounds.append(count() - before)
    assert rounds[1] == 0, rounds


def test_write_path_builders_read_back_without_inference(spark):
    """The sink and upsert builders read their own output back with the
    schema they wrote, so a warm build runs no schema-inference job: the
    sink runs its two writes, and the upsert's jobs all run in the
    stream's own job group. The first build loads the catalog's events
    frame, which may run a job of its own."""
    from modforms_db_spark.registry import get_registry

    sc = spark.sparkContext
    reg = get_registry()
    jobs = {}
    for name, want in (("q_sink_partition_overwrite", 2), ("q_stream_upsert", 0)):
        reg[name].builder(spark, SF_DIR)
        group = f"read-back-{name}"
        sc.setJobGroup(group, group)
        try:
            reg[name].builder(spark, SF_DIR)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs[name] = (len(sc.statusTracker().getJobIdsForGroup(group)), want)
    assert all(got == want for got, want in jobs.values()), jobs


def _commands_sent(monkeypatch, client) -> list[str]:
    """The py4j commands this thread sends through ``client`` from now
    until the test ends."""
    sent: list[str] = []
    send = client.send_command
    me = threading.get_ident()

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    return sent


def test_jvm_view_resolves_a_class_name_once(spark, monkeypatch):
    """The factory session's JVM view keeps a name it resolved to a
    class, so a repeat access sends no py4j command; a package is asked
    again on every access."""
    jvm = spark.sparkContext._jvm
    jvm.PythonSQLUtils
    sent = _commands_sent(monkeypatch, jvm._gateway_client)
    assert jvm.PythonSQLUtils._fqn.endswith(".PythonSQLUtils")
    assert sent == []
    jvm.java
    jvm.java
    assert "java" not in vars(jvm) and len(sent) == 2, sent
    assert type(jvm) is not JVMView and isinstance(jvm, JVMView)


def test_jvm_view_sees_a_star_import_added_later(spark):
    """A name that resolved to no class is not kept, so a class that a
    later star import brings in (as pyspark's ``foreachBatch`` does)
    resolves. A view of its own keeps the session's imports as they
    are."""
    view = spark.sparkContext._gateway.new_jvm_view()
    view.__class__ = type(spark.sparkContext._jvm)
    assert isinstance(view.PythonForeachBatchHelper, JavaPackage)
    java_import(view, "org.apache.spark.sql.execution.streaming.sources.*")
    helper = view.PythonForeachBatchHelper
    assert helper._fqn == (
        "org.apache.spark.sql.execution.streaming.sources.PythonForeachBatchHelper"
    )
    assert vars(view)["PythonForeachBatchHelper"] is helper


def test_call_site_capture_is_off(spark):
    """pyspark's DataFrame call-site capture is off in the factory's
    session."""
    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() is False
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


_IPYTHON_PROBE = r"""
import sys

from modforms_db_spark.registry import get_registry
from modforms_db_spark.session import get_spark
from tests.conftest import SF_DIR

spark = get_spark("mfdb-ipython-probe")
rows = get_registry()["q_dedup_minhash_lsh"].builder(spark, SF_DIR).collect()
print("ROWS", len(rows))
print("IPYTHON", "IPython" in sys.modules)
"""


def test_plan_building_imports_no_ipython(tmp_path):
    """Building and collecting a query in a short factory session
    never imports IPython, which pyspark's call-site capture tries on
    every wrapped call. It needs an interpreter of its own."""
    lines = _short_session_lines(tmp_path, _IPYTHON_PROBE)
    assert any(ln.startswith("ROWS ") and ln != "ROWS 0" for ln in lines), lines
    assert "IPYTHON False" in lines, lines


_WORKER = r"""
import os

import duckdb

from modforms_db_spark.registry import get_registry
from modforms_db_spark.schemas import TABLES
from modforms_db_spark.session import get_spark, scratch_root
from tests.conftest import SF_DIR, assert_parity

reg = get_registry()
ddb = duckdb.connect()
for t in TABLES:
    ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

spark = get_spark("mfdb-scratch-worker")
for _ in range(2):
    assert_parity(spark, ddb, "q_sink_partition_overwrite")
    assert_parity(spark, ddb, "q_sink_roundtrip")
    reg["q_stream_upsert"].builder(spark, SF_DIR).collect()
roots = {a: scratch_root(spark, a) for a in ("sinks", "streams")}
# One output per scratch name, however often a builder ran.
assert sorted(os.listdir(roots["sinks"])) == ["events_dyn_overwrite", "lineitem_by_flag"]
assert os.listdir(roots["streams"]) == ["upsert_store"]

spark.stop()
spark = get_spark("mfdb-scratch-worker")
reg["q_sink_roundtrip"].builder(spark, SF_DIR).collect()
# The next application's first scratch request removed the old roots.
assert not any(os.path.exists(r) for r in roots.values()), roots
assert os.listdir(scratch_root(spark, "sinks")) == ["lineitem_by_flag"]
print("WORKER OK")
"""


def test_concurrent_sessions_isolated_and_leave_no_scratch(tmp_path):
    """Two processes share one TMPDIR: both pass their parity checks, and
    once they exit no ``mfdb_spark_*`` entry is left behind."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        PYTHONPATH=REPO,
        SPARK_GRAFT_CPUS="2",
        MFDB_SHUFFLE_PARTITIONS="4",
        MFDB_DRIVER_MEM="1g",
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _WORKER],
            cwd=tmp_path,
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=900)[0] for p in procs]
    for p, out in zip(procs, outs):
        assert p.returncode == 0 and "WORKER OK" in out, out[-4000:]
    assert glob.glob(str(tmp / "mfdb_spark_*")) == []
