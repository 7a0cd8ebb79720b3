"""Measurements taken from outside the engine, and the per-layer
aggregation of a traced run.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced operations of the traced run. Counts and times are per operation or
per pass, never totals, so they do not depend on the run length.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

from perfbench.gen import TABLES

SESSION_ENV = ("SPARK_GRAFT_CPUS", "MFDB_SHUFFLE_PARTITIONS", "MFDB_DRIVER_MEM",
               "MFDB_LSH_CACHE", "MFDB_KMEANS_CACHE", "SPARK_LOCAL_DIRS", "TMPDIR")

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s_per_op": "s/op",
    "peak_rss_mb": "MB",
}

# Printed for every workload by a traced run (the BENCHMARK.json catalogue).
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "io.first_load_s": "s",
    "io.load_calls": "calls/op",
    "io.load_s": "s/op",
    "io.catalog_hit_ratio": "ratio",
    "ops.plan_s": "s/op",
    "ops.exec_s": "s/op",
    "spark.jobs_per_op": "jobs/op",
    "spark.stages_per_op": "stages/op",
    "spark.tasks_per_op": "tasks/op",
    "spark.failed_tasks": "count",
    "spark.persisted_rdds": "count",
    "spark.storage_mb": "MB",
    "jvm.heap_used_mb": "MB",
    "collect.rows": "rows/op",
    "collect.bytes": "B/op",
    "trace.overhead_pct": "%",
}

MB = 1024 * 1024


# -- process and storage -------------------------------------------------------
def _status(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of this process and each descendant — the
    Python process plus its JVM — keyed by command name."""
    kids = _children()
    todo, out = [os.getpid()], {}
    while todo:
        pid = todo.pop()
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
        out[f"{comm}-{pid}"] = _status(pid, "VmHWM") / 1024
        todo.extend(kids.get(pid, ()))
    return out


def _ticks(stat: str, fields: slice) -> int:
    return sum(int(x) for x in stat.rsplit(")", 1)[1].split()[fields])


def tree_cpu_s(jit: bool = True) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and every live descendant: the Python process, its JVM and
    the JVM's Python workers. Time the host steals from the guest is not in
    it, so it does not move with the load of other tenants. With
    ``jit=False`` the JVM's JIT compiler threads are left out: they compile
    in the background whenever a method turns hot, so how much of their work
    lands in a given operation is a matter of timing."""
    kids = _children()
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            if jit:
                ticks += _ticks(stat, slice(11, 15))
                continue
            ticks += _ticks(stat, slice(13, 15))  # reaped children
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    t = fh.read()
                if " CompilerThre" not in t[: t.rindex(")")]:
                    ticks += _ticks(t, slice(11, 13))
        except OSError:
            continue  # exited while being read
    return ticks / os.sysconf("SC_CLK_TCK")


def storage(sc) -> dict:
    """Persisted RDDs and JVM heap, read after a pass."""
    infos = list(sc._jsc.sc().getRDDStorageInfo())
    rt = sc._jvm.java.lang.Runtime.getRuntime()
    return {
        "persisted_rdds": len(infos),
        "storage_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB,
        "heap_used_mb": (rt.totalMemory() - rt.freeMemory()) / MB,
    }


def job_stats(sc, group: str) -> dict:
    """Jobs, stages and tasks the operation's job group ran."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
            failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def collect_size(pdf) -> dict:
    return {"rows": len(pdf), "bytes": int(pdf.memory_usage(index=False, deep=True).sum())}


# -- writes --------------------------------------------------------------------
def writes_since(mark_ns: int) -> dict:
    """Bytes and files created or modified since ``mark_ns`` where
    operations write — TMPDIR (sinks and stream checkpoints) and the working
    directory (``saveAsTable``'s ./spark-warehouse) — split into stream
    checkpoints and everything else."""
    out = {"sink_bytes": 0, "sink_files": 0, "stream_bytes": 0}
    seen = set()
    for root in (os.environ["TMPDIR"], os.getcwd()):
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                if st.st_mtime_ns < mark_ns or st.st_ino in seen:
                    continue
                seen.add(st.st_ino)
                if "mfdb_spark_streams" in p:
                    out["stream_bytes"] += st.st_size
                else:
                    out["sink_bytes"] += st.st_size
                    out["sink_files"] += 1
    return out


def input_size(input_dir: str, sf: str) -> dict:
    rows, size = {}, {}
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        rows[t] = pq.ParquetFile(p).metadata.num_rows
        size[t] = os.path.getsize(p)
    return {"scale": sf, "rows": rows, "bytes": size}


# -- aggregation ---------------------------------------------------------------
def tail(lat: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is; with fewer than 11 samples, the maximum."""
    s = sorted(lat)
    if not s:
        return 0.0, 0.0
    if len(s) < 11:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(loop, timed: list[dict]) -> tuple[dict, dict]:
    """(catalogue metrics, workload-specific breakdown) of a traced run."""
    spans = loop.tracer.spans
    by_op: dict[int, list] = {}
    for s in spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    traced = [r for r in timed if r["traced"] and "error" not in r]
    untraced = [r for r in timed if not r["traced"] and "error" not in r]
    n = len(traced) or 1

    def io_spans(ops):
        return [s for r in ops for s in by_op.get(r["op"], ()) if s.name.startswith("io.")]

    io_timed = io_spans(traced)
    first: dict[str, float] = {}
    for s in io_spans([r for r in loop.ops if r["pass"] == 0]):
        first.setdefault(s.attrs["table"], s.dur)

    timed_passes = [p for p in loop.passes if p["pass"] > 0]
    # pass-equivalents covered by the traced operations
    k = len(traced) / len(loop.w.ops)

    # tracing overhead over the queries seen both traced and untraced
    busy_t: dict[str, list[float]] = {}
    busy_u: dict[str, list[float]] = {}
    for r in traced:
        busy_t.setdefault(r["query"], []).append(r["latency_s"])
    for r in untraced:
        busy_u.setdefault(r["query"], []).append(r["latency_s"])
    both = busy_t.keys() & busy_u.keys()
    t_rate = sum(len(busy_t[q]) for q in both) / sum(sum(busy_t[q]) for q in both)
    u_rate = sum(len(busy_u[q]) for q in both) / sum(sum(busy_u[q]) for q in both)

    values = {
        "session.start_s": loop.setup["session.start_s"],
        "registry.load_s": loop.setup["registry.load_s"],
        "io.first_load_s": sum(first.values()),
        "io.load_calls": len(io_timed) / n,
        "io.load_s": sum(s.dur for s in io_timed) / n,
        "io.catalog_hit_ratio": _mean(1.0 if s.attrs["hit"] else 0.0 for s in io_timed),
        "ops.plan_s": _mean(r["plan_s"] for r in traced),
        "ops.exec_s": _mean(r["exec_s"] for r in traced),
        "spark.jobs_per_op": _mean(r["jobs"] for r in traced),
        "spark.stages_per_op": _mean(r["stages"] for r in traced),
        "spark.tasks_per_op": _mean(r["tasks"] for r in traced),
        "spark.failed_tasks": sum(r.get("failed_tasks", 0) for r in timed if r["traced"]),
        "spark.persisted_rdds": max(p["persisted_rdds"] for p in timed_passes),
        "spark.storage_mb": max(p["storage_mb"] for p in timed_passes),
        "jvm.heap_used_mb": max(p["heap_used_mb"] for p in timed_passes),
        "collect.rows": _mean(r["rows"] for r in traced),
        "collect.bytes": _mean(r["bytes"] for r in traced),
        "trace.overhead_pct": (u_rate / t_rate - 1.0) * 100.0,
    }

    breakdown: dict[str, dict] = {}

    def put(name, value, unit):
        breakdown[name] = {"value": value, "unit": unit}

    put("pass.wall_s", _mean(p["wall_s"] for p in timed_passes), "s/pass")
    put("pass.busy_s", _mean(p["busy_s"] for p in timed_passes), "s/pass")
    for mod in sorted({r["module"] for r in traced}):
        rs = [r for r in traced if r["module"] == mod]
        put(f"{mod}.busy_s", sum(r["latency_s"] for r in rs) / k, "s/pass")
        put(f"{mod}.ops", len(rs) / k, "ops/pass")
        put(f"{mod}.plan_s", _mean(r["plan_s"] for r in rs), "s/op")
        put(f"{mod}.exec_s", _mean(r["exec_s"] for r in rs), "s/op")

    for layer in ("dedup", "similarity"):
        builds, reuses = [], []
        for r in traced:
            idx = [s for s in by_op.get(r["op"], ()) if s.name == f"{layer}.index"]
            if idx:
                (builds if any(s.attrs["build"] for s in idx) else reuses).append(r["latency_s"])
        if builds:
            put(f"{layer}.cold_build_s", statistics.median(builds), "s")
        if reuses:
            put(f"{layer}.cache_reuse_s", statistics.median(reuses), "s")

    sink_bytes = sum(r["sink_bytes"] for r in traced)
    if sink_bytes:
        read = 0
        for r in traced:
            if r["sink_bytes"]:
                tables = {s.attrs["table"] for s in io_spans([r])}
                read += sum(loop.input_bytes[t] for t in tables)
        put("sinks.bytes_written", sink_bytes / n, "B/op")
        put("sinks.files_written", sum(r["sink_files"] for r in traced) / n, "files/op")
        put("sinks.write_amp", sink_bytes / read if read else 0.0, "ratio")
    stream_bytes = sum(r["stream_bytes"] for r in traced)
    if stream_bytes:
        put("streams.checkpoint_bytes", stream_bytes / n, "B/op")
    return values, breakdown
