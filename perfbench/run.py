"""Repo benchmark: seeded closed-loop workloads over the public query registry.

    python3 perfbench/run.py --workload relational_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The command

1. makes a scratch directory ``.perfbench/run-<pid>`` inside the checkout
   and writes the seeded inputs there (``perfbench/gen.py``);
2. starts ``perfbench/worker.py`` in a fresh process whose working
   directory, ``TMPDIR``, Spark local dirs and JVM temp dir are all inside
   the scratch directory, with the session shape pinned through the
   variables ``session.get_spark`` reads;
3. waits for it, stops anything it left running, removes the scratch
   directory and exits non-zero if any operation failed or a result did
   not match.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
carries the run's details (input size, session variables, error rate, the
wall-clock latencies and, when traced, the per-module breakdown). A traced run also
writes its spans to ``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.gen import generate  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 170


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return total_kb / (1024 * 1024)


def session_env(scratch: str) -> dict[str, str]:
    """Environment of the worker: session shape plus hermetic write paths."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    for k in ("MFDB_LSH_CACHE", "MFDB_KMEANS_CACHE"):
        env.pop(k, None)  # defaults: cold passes use the public clear functions
    env.update(
        SPARK_GRAFT_CPUS=str(min(4, host_cpus())),
        MFDB_SHUFFLE_PARTITIONS="4",
        # an eighth of the host, 1g to 4g: the engine's 16g default can
        # exceed the machine, and a heap the workload fills keeps the peak
        # resident set from depending on when the collector ran
        MFDB_DRIVER_MEM=f"{max(1, min(4, int(host_mem_gb() // 8)))}g",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
    )
    return env


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(pgid: int) -> None:
    """Kill whatever is left in the worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=None, help="override the workload's input scale")
    a = ap.parse_args(argv)
    # run the cleanup below on a plain kill too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "modforms_db_spark", "registry.py")):
        print(f"engine package modforms_db_spark not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    work = os.path.join(scratch, "work")
    os.makedirs(work)
    try:
        sf = a.sf or WORKLOADS[a.workload].sf
        input_dir = generate(a.seed, sf, os.path.join(scratch, "input"))
        cmd = [
            sys.executable, "-m", "perfbench.worker",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--input", input_dir, "--sf", sf,
        ]
        if a.trace:
            cmd += ["--trace-out", os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json")]
        proc = subprocess.Popen(
            cmd, cwd=work, env=session_env(scratch), stdout=subprocess.PIPE,
            text=True, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop_group(proc.pid)
            proc.wait()
            print(f"worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
            return 3
        finally:
            stop_group(proc.pid)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        info = json.loads(lines[-2])
    except (IndexError, ValueError):
        sys.stdout.write(out)
        print(f"worker exited {proc.returncode} without a result", file=sys.stderr)
        return proc.returncode or 4
    for ln in lines[:-2]:
        print(ln, file=sys.stderr)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    ok = proc.returncode == 0 and result.get("correct") is True and result.get("failed") == 0
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
