"""Run-to-run spread of the benchmark: run one workload over several seeds
and report, per metric, the median and the quartile distance as a share of
the median (``statistics.quantiles(values, n=4)``), next to the metric's
bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload relational_warm --seeds 1-10 [--trace 0]

Runs are sequential; each prints its result line to stderr as it lands.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values: dict[str, list[float]] = {}
    bad = 0
    for s in seeds(a.seeds):
        t = time.monotonic()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(s),
             "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        wall = time.monotonic() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            bad += 1
            print(f"seed {s}: exit {p.returncode} ({wall:.1f}s)", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        short = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {s} ({wall:.1f}s, {res['attempted']} ops): {short}", file=sys.stderr)
    print(f"{'metric':28} {'median':>12} {'iqr/med':>8} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28} {med:12.5g} {spread:8.3f} {bounds.get(k) or '':>6}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
