"""One benchmark run in one process: start a session, run the workload's
closed loop, check every result, print the metrics.

Started by ``perfbench/run.py`` with the working directory, ``TMPDIR``,
the Spark local dirs and the session-shape variables already pointing at
the run's scratch directory. The engine is touched only through its public
registry: each operation is ``get_registry()[name].builder(spark,
input_dir).toPandas()``.

The first pass is untimed and is checked against the DuckDB oracle (or,
for rows-only queries, records the reference hash); every timed pass must
reproduce the same value hash per query. With ``--trace 1`` every query is
traced on alternate timed passes (half of each pass is traced, and the
halves swap from pass to pass), spans are recorded around the calls into
each layer, and the per-layer metrics are aggregated from them; the
untraced half gives the tracing overhead, query by query.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

T_IMPORT = time.perf_counter()

from perfbench import metrics  # noqa: E402
from perfbench.oracle import Oracle, vhash  # noqa: E402
from perfbench.trace import Tracer, install_probes  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_IMPORT = process_age_s()


def since_process_start() -> float:
    return AGE_AT_IMPORT + time.perf_counter() - T_IMPORT


class Loop:
    def __init__(self, args):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.input_dir = os.path.abspath(args.input)
        self.tracer = Tracer()
        self.tracer.enabled = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.ref: dict[str, str] = {}
        self.ops: list[dict] = []  # one record per executed operation
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.check_s = 0.0  # client-side checking, excluded from set-up
        self.check_cpu_s = 0.0
        self.setup: dict[str, float] = {}
        self.input = metrics.input_size(self.input_dir, args.sf)
        self.input_bytes = self.input["bytes"]

    # -- set-up ---------------------------------------------------------------
    def start(self) -> None:
        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            from modforms_db_spark.session import get_spark

            self.spark = get_spark("perfbench")
        self.setup["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.tracer.span("registry.get_registry"):
            from modforms_db_spark.registry import get_registry

            self.registry = get_registry()
        self.setup["registry.load_s"] = time.perf_counter() - t
        missing = [n for n in self.w.ops if n not in self.registry]
        if missing:
            raise SystemExit(f"queries not registered: {missing}")
        if self.args.trace:
            install_probes(self.tracer)
        self.sc = self.spark.sparkContext

    # -- one operation -----------------------------------------------------------
    def run_op(self, name: str, pass_no: int, traced: bool) -> dict:
        q = self.registry[name]
        op_id = len(self.ops)
        rec = {"op": op_id, "pass": pass_no, "query": name, "traced": traced,
               "module": q.module.removeprefix("modforms_db_spark.")}
        tr = self.tracer
        tr.enabled = traced
        tr.op = op_id
        if traced:
            self.sc.setJobGroup(f"perfbench-{op_id}", name)
            write_mark = time.time_ns()
        pdf = t1 = None
        cpu0 = metrics.tree_cpu_s(jit=False)
        t0 = time.perf_counter()
        try:
            with tr.span("op", query=name, module=rec["module"]):
                with tr.span("plan"):
                    df = q.builder(self.spark, self.input_dir)
                t1 = time.perf_counter()
                with tr.span("exec"):
                    pdf = df.toPandas()
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
        t2 = time.perf_counter()
        t1 = t1 or t2
        rec.update(latency_s=t2 - t0, plan_s=t1 - t0, exec_s=t2 - t1,
                   cpu_s=metrics.tree_cpu_s(jit=False) - cpu0)
        if traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(metrics.job_stats(self.sc, f"perfbench-{op_id}"))
            rec.update(metrics.writes_since(write_mark))
        tr.enabled = False
        tr.op = None
        c0, p0 = time.perf_counter(), time.process_time()
        if pdf is not None:
            if traced:
                rec.update(metrics.collect_size(pdf))
            try:
                self.check(name, q, pdf, rec, pass_no)
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
        self.check_s += time.perf_counter() - c0
        self.check_cpu_s += time.process_time() - p0
        if "error" in rec:
            self.failures.append(f"{name} (pass {pass_no}): {rec['error'].strip().splitlines()[-1]}")
        self.ops.append(rec)
        return rec

    def check(self, name, q, pdf, rec, pass_no) -> None:
        h = vhash(pdf)
        if pass_no == 0:
            if q.oracle is not None:
                want = self.oracle.hash(q.oracle)
                if h != want:
                    rec["error"] = f"oracle mismatch: spark {h[:12]} duckdb {want[:12]}"
                    return
                rec["check"] = "oracle"
            else:
                rec["check"] = "rows-only"
            self.ref[name] = h
        elif name not in self.ref:
            rec["error"] = "no reference hash: first pass failed"
        elif h != self.ref[name]:
            rec["error"] = f"hash differs from first pass: {h[:12]} vs {self.ref[name][:12]}"

    # -- one pass ---------------------------------------------------------------
    def traced(self, name: str, pass_no: int) -> bool:
        if not self.args.trace:
            return False
        return pass_no == 0 or (self.w.ops.index(name) + pass_no) % 2 == 0

    def run_pass(self, pass_no: int) -> None:
        order = list(self.w.ops)
        if self.w.shuffle and pass_no > 0:
            self.rng.shuffle(order)
        if self.w.clear_caches:
            from modforms_db_spark.llm.dedup import lsh_core_cache_clear
            from modforms_db_spark.llm.similarity import kmeans_core_cache_clear

            lsh_core_cache_clear()
            kmeans_core_cache_clear()
        t = time.perf_counter()
        recs = [self.run_op(name, pass_no, self.traced(name, pass_no)) for name in order]
        p = {"pass": pass_no, "wall_s": time.perf_counter() - t,
             "busy_s": sum(r["latency_s"] for r in recs),
             "cpu_s": sum(r["cpu_s"] for r in recs), "ops": len(recs)}
        if self.args.trace:
            p.update(metrics.storage(self.sc))
        self.passes.append(p)

    def run(self) -> dict:
        self.start()
        c0, p0 = time.perf_counter(), time.process_time()
        self.oracle = Oracle(self.input_dir)
        self.check_s += time.perf_counter() - c0
        self.check_cpu_s += time.process_time() - p0
        self.run_pass(0)
        setup_wall_s = since_process_start() - self.check_s
        setup_s = metrics.tree_cpu_s() - self.check_cpu_s
        passes = self.w.passes(self.args.seconds)
        if self.args.trace:
            passes += passes % 2  # every query traced as often as not
        for n in range(1, passes + 1):
            self.run_pass(n)
        self.oracle.close()
        rss = metrics.peak_rss_mb()
        return self.report(setup_s, setup_wall_s, rss)

    # -- report -----------------------------------------------------------------
    def report(self, setup_s: float, setup_wall_s: float, rss: dict[str, float]) -> dict:
        timed = [r for r in self.ops if r["pass"] > 0]
        attempted = len(self.ops)
        failed = sum(1 for r in self.ops if "error" in r)
        info = {
            "workload": self.w.name,
            "seed": self.args.seed,
            "input": self.input,
            "session": {k: os.environ.get(k) for k in metrics.SESSION_ENV},
            "clients": 1,
            "loop": "closed",
            "timed_passes": len(self.passes) - 1,
            "error_rate": failed / attempted,
            "failures": self.failures[:20],
            "peak_rss_mb_by_process": rss,
        }
        if self.args.trace:
            values, breakdown = metrics.per_layer(self, timed)
            info["breakdown"] = breakdown
            units = metrics.PER_LAYER_UNITS
        else:
            lat = [r["latency_s"] for r in timed if "error" not in r]
            tail, pct = metrics.tail(lat)
            per_query: dict[str, list[float]] = {}
            for r in timed:
                per_query.setdefault(r["query"], []).append(r["latency_s"])
            # wall-clock figures, for reference: on a shared host they move
            # with the CPU time other tenants take, so the catalogue uses CPU
            info["wall"] = {
                "setup_s": setup_wall_s,
                "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
                "latency_p50_s": statistics.median(lat) if lat else 0.0,
                "latency_tail_s": tail,
                "latency_tail_pct": pct,
                "latency_samples": len(lat),
                "query_latency_p50_s": {q: statistics.median(v) for q, v in per_query.items()},
            }
            info["cpu_s_per_op_by_pass"] = [p["cpu_s"] / p["ops"] for p in self.passes]
            values = {
                "setup_s": setup_s,
                "cpu_s_per_op": sum(r["cpu_s"] for r in timed) / len(timed),
                "peak_rss_mb": sum(rss.values()),
            }
            units = metrics.END_TO_END_UNITS
        return {
            "info": info,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            },
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="one benchmark run (see perfbench/run.py)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--input", required=True)
    ap.add_argument("--sf", required=True, help="scale the input was generated at")
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)
    loop = Loop(args)
    try:
        out = loop.run()
    finally:
        if args.trace and args.trace_out:
            loop.tracer.dump(args.trace_out)
        spark = getattr(loop, "spark", None)
        if spark is not None:
            spark.stop()
    print(json.dumps(out["info"], sort_keys=True), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
