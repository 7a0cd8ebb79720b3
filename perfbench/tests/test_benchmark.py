"""End-to-end checks of the benchmark command: the metric catalogue, a
smoke run of every workload at sf0.001, layer attribution in the traced
run, and that a run leaves the working tree as it found it.

Each workload runs twice (untraced and traced), a few minutes in all; run
with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench.metrics import END_TO_END_UNITS, PER_LAYER_UNITS
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _git_status() -> str | None:
    try:
        p = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                           capture_output=True, text=True, check=True)
    except (OSError, subprocess.CalledProcessError):
        return None
    return p.stdout


def _run(workload: str, trace: int) -> tuple[int, dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert len(lines) >= 2, p.stderr[-2000:]
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def runs():
    before = _git_status()
    out = {(w, t): _run(w, t) for w in WORKLOADS for t in (0, 1)}
    return out, before, _git_status()


def test_catalogue_matches_code():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER_UNITS
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert NAME.match(m["name"]), m["name"]


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_is_correct_and_complete(runs, workload):
    results = runs[0]
    for trace, catalogue in ((0, END_TO_END_UNITS), (1, PER_LAYER_UNITS)):
        code, info, res = results[(workload, trace)]
        assert code == 0, info.get("failures")
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
        assert info["error_rate"] == 0
        assert set(res["metrics"]) == set(catalogue)
        for name, m in {**res["metrics"], **info.get("breakdown", {})}.items():
            assert NAME.match(name), name
            assert isinstance(m["value"], (int, float))
            assert m["unit"]
        for name, unit in catalogue.items():
            assert res["metrics"][name]["unit"] == unit


def test_work_lands_in_the_right_layer(runs):
    results = runs[0]
    llm = results[("llm_curation_cold", 1)][1]["breakdown"]
    busy = sum(v["value"] for k, v in llm.items() if k.startswith("llm.") and k.endswith(".busy_s"))
    assert busy > 0.5 * llm["pass.wall_s"]["value"]
    assert "dedup.cold_build_s" in llm and "similarity.cold_build_s" in llm
    rel = results[("relational_warm", 1)][1]["breakdown"]
    assert not [k for k in rel if k.startswith("llm.")]
    assert "dedup.cold_build_s" not in rel and "similarity.cold_build_s" not in rel
    assert "sinks.bytes_written" in rel and "streams.checkpoint_bytes" in rel
    assert "sinks.bytes_written" not in llm and "streams.checkpoint_bytes" not in llm


def test_run_leaves_the_tree_unchanged(runs):
    _, before, after = runs
    if before is None:
        pytest.skip("not a git checkout")
    assert after == before
    assert not [d for d in os.listdir(os.path.join(ROOT, ".perfbench")) if d.startswith("run-")]


def test_bare_benchmark_dir_fails(tmp_path):
    """Without the engine next to it the command exits non-zero and prints
    no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational_warm", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
