#!/usr/bin/env python
"""Benchmark harness — the driver's per-round feedback loop.

Runs the headline queries (SURVEY.md §2, ``headline=True`` in the registry)
at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q_...": sec, ...}, "sf": 0.1}

Timing policy: one shared SparkSession for the whole run (JVM startup and
plan caching amortized, as a real deployment would); per-query time is
build-plan + execute + collect to the driver, the end-to-end latency a
user observes. A warmup run of the flagship primes the JVM (codegen,
parquet footer caches) before timing starts — we measure steady-state
engine throughput, not first-query JIT noise.

r10 (optimization round): the dedup/kmeans index consumers additionally
report "<name>__cold" entries — one timed run each right after
``cache.clear()``, i.e. a full per-call rebuild from the parquet
inputs — so both the steady-state AND the build cost are on the record
every round. The original headline names and headline_total are
unchanged (entries may be added, never removed or renamed).

r11 (second optimization round, measurement-accounting fixes only —
all additions, no timing-policy change to existing entries):
- ``spark_comparable_total`` scores each session-cache consumer at its
  ``__cold`` time (VERDICT r10 item 1: the DuckDB denominator re-runs
  from parquet every time, so the warm cache-read number does not
  belong inside a competitive ratio). ``headline_total`` and every
  per-query entry keep their r10 meaning; ``cache_consumers`` names
  the warm entries whose round-over-round deltas track the cache, not
  the plan.
- ``streaming_watch``: every q_stream_* operator timed single-shot per
  run (the family-panel rotation only reached one of ~15 per round).
- bench_history.json entries carry a ``proto`` marker where the
  measurement protocol differs from the default min-of-3 (ADVICE r10).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Parse "0.1" out of ".../sf0.1" for the report; fall back to the path.
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf: float | str = float(base.removeprefix("sf"))
    except ValueError:
        sf = base

    from modforms_db_spark.registry import get_registry
    from modforms_db_spark.session import get_spark

    # sf0.1 is single-node-tiny: every shuffle is KB-scale, so AQE
    # coalesces to ~1 reducer anyway — but the INITIAL partition count
    # still costs per-stage scheduling. r7 sweep over {16, 8, 4, 2} on
    # the comparable set: 13.9 / 12.2 / 9.5 / 10.7 s — 4 is the floor
    # (2 under-parallelizes the map side of the big sorts). This is the
    # standard per-deployment knob; at 100 TB it goes to ~3× total cores.
    os.environ.setdefault("MFDB_SHUFFLE_PARTITIONS", "4")
    spark = get_spark("mfdb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    reg = get_registry()
    headline = [name for name, qd in sorted(reg.items()) if qd.headline]

    # Warmup: one untimed pass over every headline query primes JVM JIT,
    # whole-stage codegen compilation (seconds for the wide lambda
    # expressions in the dedup family), and parquet footer caches — the
    # timed runs then measure steady-state engine throughput, which is
    # what this bench claims (module docstring), not first-run
    # compilation noise.
    for name in headline:
        reg[name].builder(spark, sf_dir).toPandas()

    # Results come back over the Arrow path (toPandas) — columnar exchange,
    # the way a real consumer of a 200k-row result would read it; collect()
    # would time Python row-object construction instead of the engine.
    # Three timed runs per query, report the min (r7: was two — this
    # host shows ±30-40% external noise windows that hit BOTH engines;
    # min-of-3 narrows the band at ~1 min extra wall): the first run
    # after warmup can still land in a noise window; the min is the
    # steady-state number a long-running deployment sees, which is what
    # this bench claims to measure (see module docstring).
    import gc

    timings: dict[str, float] = {}
    for name in headline:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            reg[name].builder(spark, sf_dir).toPandas()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        # Release Python-side references to per-run localCheckpoint RDDs
        # so the JVM ContextCleaner can drop their blocks — otherwise
        # dead checkpoint blocks pile up across the run and the growing
        # GC pressure shows up as noise in later queries' timings.
        gc.collect()

    # DuckDB comparison column: run each headline query's oracle SQL on
    # the same parquet (same machine, same data) so every BENCH_r{N}.json
    # carries both engines' per-query times natively instead of relying
    # on a judge-side measurement. Same policy: min of three timed runs.
    duck: dict[str, float] = {}
    try:
        import duckdb

        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders "
            "lineitem events documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in headline:
            sql = reg[name].oracle
            if sql is None:
                continue
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(sql).df()
                best = min(best, time.perf_counter() - t0)
            duck[name] = round(best, 4)
    except Exception as exc:  # bench must still emit its line
        print(f"duckdb comparison skipped: {exc}", file=sys.stderr)

    total = round(sum(timings.values()), 4)
    # Queries whose Spark timing includes a real write path (table/file
    # rewrite) while the oracle only re-runs the equivalent read query —
    # their Spark-vs-DuckDB ratio compares a write+read against a read
    # and is not an engine-speed signal.
    write_path = sorted(n for n in headline if "sink" in n)
    # Queries whose oracle deliberately runs a SIMPLER plan than the
    # Spark side demonstrates (the salted join's oracle is the unsalted
    # join; the salt explode is the 100 TB hot-key mitigation being
    # exercised, not overhead the oracle shares).
    demo_overhead = ["q_join_skew_salted"]
    # Engine-ratio subset: queries where BOTH engines ran equivalent work
    # (oracle exists, no write path, no deliberate demo overhead). The two
    # *_comparable totals below are computed over this IDENTICAL set, so
    # their ratio is the apples-to-apples engine signal; the raw
    # headline/duckdb totals cover different query sets by construction.
    comparable = [
        n
        for n in headline
        if n in duck and n not in write_path and n not in demo_overhead
    ]
    # Non-headline watch table: the quadratic oracle-checkable contract
    # rows (their scale twins are the headline/bench paths). Timed once,
    # at sf0.01 — their cost is structurally quadratic (measured at
    # sf0.1: 14-27 s each, ~72 s total, pure contract-row behavior, no
    # regression signal worth that budget), so the watch runs at driver
    # scale where a plan regression still shows — tracked
    # round-over-round without polluting the envelope metric.
    quadratic = [
        "q_dedup_jaccard",
        "q_dedup_ngram",
        "q_dedup_embedding",
        "q_sim_threshold",
        "q_knn_classify",
        "q_lsh_pr_curve",  # all-pairs exact-Jaccard evaluation side
    ]
    quad_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")) or ".", "sf0.01")
    if not os.path.isdir(quad_dir):
        quad_dir = sf_dir
    quad_timings: dict[str, float] = {}
    for name in quadratic:
        if name not in reg or name in headline:
            continue
        t0 = time.perf_counter()
        reg[name].builder(spark, quad_dir).toPandas()
        quad_timings[name] = round(time.perf_counter() - t0, 4)
        gc.collect()
    # Family panel (round 5, VERDICT item 5): the headline set times 24
    # of 323 operators; nothing else caught a perf regression in the
    # other ~300. One NON-headline query per module-family per round,
    # rotating deterministically by round index (inferred from the
    # BENCH_r*.json files the driver leaves in the repo root), warmup +
    # min-of-3, with round-over-round deltas against the most recent
    # prior BENCH file that timed the same name. Over ~13 rounds the
    # rotation covers every non-headline, non-quadratic operator.
    import glob
    import re as _re
    from collections import defaultdict

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # prior: name -> (round, sec, sf_dir the timing was taken at).
    # Round-6 panel entries are {"sec": .., "sf_dir": ..} dicts; the
    # round-5 format was a bare float — those were timed at the override
    # dir for their family (graph → sf0.01) and sf_dir otherwise, which
    # the reader below reconstructs so deltas never compare timings
    # taken at different scale factors (ADVICE r5).
    prior: dict[str, tuple[int, float, str | None]] = {}
    round_idx = 0
    fam_of = {
        qname: qd.module.rsplit(".", 1)[-1] for qname, qd in reg.items()
    }

    def _norm_dir(p):
        return os.path.normpath(p) if p else None

    # bench_last.json is the durable full report this script writes each
    # run — it survives the driver's ~2000-char BENCH_r*.json tail
    # truncation, which otherwise silently wipes the priors exactly when
    # they matter (round-6 review finding: writing the durable file
    # without READING it left the original failure in place). Its round
    # is recorded inside as family_panel_round_idx.
    # bench_history.json: the durable per-name timing ledger (r10,
    # VERDICT r9 item 5 — family_panel_deltas was structurally {} most
    # rounds because the rotation picks a DIFFERENT name per family each
    # round and bench_last.json only survives one round, so a name's
    # prior from len(eligible) rounds ago was long gone). Every run
    # appends its panel + headline + quadratic timings here (bounded per
    # name), so when the rotation wraps back to a name its last
    # same-scale timing is still available for a real delta.
    hist_path = os.path.join(repo_dir, "bench_history.json")
    history: dict[str, list[dict]] = {}
    try:
        with open(hist_path) as fh:
            history = json.load(fh)
    except Exception:
        history = {}
    for qn, entries in history.items():
        for ent in entries:
            try:
                rnd_h, sec_h = int(ent["round"]), float(ent["sec"])
            except Exception:
                continue
            if qn not in prior or prior[qn][0] < rnd_h:
                prior[qn] = (rnd_h, sec_h, _norm_dir(ent.get("sf_dir")))

    for f in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))) + [
        os.path.join(repo_dir, "bench_last.json")
    ]:
        m = _re.search(r"BENCH_r(\d+)", os.path.basename(f))
        rnd = int(m.group(1)) if m else 0
        round_idx = max(round_idx, rnd)  # filename round counts even if
        # the capture is truncated to invalid JSON — rotation must advance
        try:
            with open(f) as fh:
                data = json.load(fh)
            if rnd == 0:  # bench_last.json carries its own round index
                rnd = int(data.get("family_panel_round_idx") or 0)
                round_idx = max(round_idx, rnd)
            legacy_overrides = data.get("family_panel_sf_overrides") or {}
            try:  # the main panel dir of that run, from its "sf" field
                legacy_dir = f"/root/testdata/sf{data['sf']}"
            except Exception:
                legacy_dir = None
            for qn, entry in (data.get("family_panel") or {}).items():
                if isinstance(entry, dict):  # round-6+ format
                    sec, ent_dir = entry.get("sec"), entry.get("sf_dir")
                else:  # round-5 bare float — reconstruct its sf_dir
                    sec = entry
                    ent_dir = legacy_overrides.get(fam_of.get(qn), legacy_dir)
                if sec is None:
                    continue
                if qn not in prior or prior[qn][0] < rnd:
                    prior[qn] = (rnd, sec, _norm_dir(ent_dir))
            # Headline timings (the "queries" dict) feed headline_deltas
            # (r10): same names every round, timed at the run's main
            # sf_dir — the guaranteed-nonempty drift signal.
            for qn, sec in (data.get("queries") or {}).items():
                if not isinstance(sec, (int, float)):
                    continue
                if qn not in prior or prior[qn][0] < rnd:
                    prior[qn] = (rnd, sec, _norm_dir(legacy_dir))
        except Exception:
            continue  # a truncated BENCH capture must not kill the bench
    round_idx += 1  # this run belongs to the round AFTER the last record
    # Re-running bench after the driver has already recorded this
    # round's BENCH file would silently rotate to the next round's
    # query set; SPARK_GRAFT_PANEL_ROUND pins the rotation for such
    # same-round re-runs (round-5 review).
    round_idx = int(os.environ.get("SPARK_GRAFT_PANEL_ROUND", round_idx))

    families: dict[str, list[str]] = defaultdict(list)
    for qname, qd in sorted(reg.items()):
        families[qd.module.rsplit(".", 1)[-1]].append(qname)
    # The graph family runs its panel pick at sf0.01: the synthetic
    # co-supply graph is 91% DENSE at sf0.1 (453,588 of 499,500 possible
    # edges, 137M wedges — measured round 5), so every sf0.1 graph query
    # spends 5-49 s on data density, not plan quality; the sf0.01 timing
    # is the same regression canary at ~1/50 the budget (the
    # quadratic_watch precedent).
    panel_sf_overrides = {"graph": quad_dir}
    # Name-level overrides for documented slow-by-contract rows: the
    # pandas-on-Spark merge_asof API row compiles to a
    # BroadcastNestedLoopJoin (quadratic in by-group size — its own
    # docstring's measured SCALE WARNING: seconds at sf0.01, MINUTES at
    # sf0.1), so 4 panel executions at sf0.1 stall the whole bench for
    # tens of minutes (hit live when the round-8 rotation landed on it).
    # The sf0.01 timing is the same API-regression canary at ~1/100 the
    # cost; q_join_asof (the linear window form) carries the semantics
    # at full scale.
    panel_name_overrides = {"q_join_asof_native": quad_dir}
    panel: dict[str, dict] = {}
    for fam in sorted(families):
        # The streaming family is covered exhaustively by the dedicated
        # streaming_watch below (r11, VERDICT r10 item 5) — every
        # q_stream_* operator timed every round instead of one name per
        # ~15-round rotation. Skipping it here keeps each stream name on
        # ONE measurement protocol in bench_history.json (the watch's
        # single-run), per the r10 ADVICE protocol-mixing note.
        if fam == "streams":
            continue
        eligible = [
            n
            for n in families[fam]
            if n not in headline
            and n not in quadratic
            # Write-path operators (bucketed/partitioned/compacted table
            # and file writes) execute their write 4× under warmup +
            # min-of-3; the timing is a write+read mix, not an engine
            # plan-regression signal — same carve-out the headline
            # totals make via write_path (ADVICE r5).
            and "sink" not in (reg[n].tags or ())
        ]
        if not eligible:
            continue
        name = eligible[round_idx % len(eligible)]
        fam_dir = panel_name_overrides.get(
            name, panel_sf_overrides.get(fam, sf_dir)
        )
        reg[name].builder(spark, fam_dir).toPandas()  # warmup
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            reg[name].builder(spark, fam_dir).toPandas()
            best = min(best, time.perf_counter() - t0)
        # sf_dir rides along (normalized — trailing slashes must not
        # break the same-scale comparison) so future rounds only diff
        # same-scale runs.
        panel[name] = {"sec": round(best, 4), "sf_dir": _norm_dir(fam_dir)}
        gc.collect()
    panel_deltas = {
        qn: {
            "sec": ent["sec"],
            "prev_sec": prior[qn][1],
            "prev_round": prior[qn][0],
            "delta_pct": round(
                100.0 * (ent["sec"] - prior[qn][1]) / prior[qn][1], 1
            )
            if prior[qn][1]
            else None,
        }
        for qn, ent in panel.items()
        # Same-scale priors only: a delta between timings taken at
        # different sf_dirs is a bogus regression signal (ADVICE r5).
        if qn in prior and prior[qn][2] == ent["sf_dir"]
    }

    # Headline drift (r10): same names every round at the same sf_dir,
    # so this delta table is non-empty from round 2 on — the "panel
    # drift visible without diffing files by hand" signal (VERDICT r9
    # item 5). Read with the noise band in mind (SCALE.md §14: ±40%
    # host co-tenancy); the committed floor run is the comparable one.
    main_dir = _norm_dir(sf_dir)
    headline_deltas = {
        qn: {
            "sec": sec,
            "prev_sec": prior[qn][1],
            "prev_round": prior[qn][0],
            "delta_pct": round(
                100.0 * (sec - prior[qn][1]) / prior[qn][1], 1
            )
            if prior[qn][1]
            else None,
        }
        for qn, sec in timings.items()
        if qn in prior and prior[qn][2] == main_dir
    }

    # Append this run's timings to the durable ledger (bounded per name)
    # so future rounds' rotations find same-scale priors. ``proto``
    # (r11, ADVICE r10): measurement-protocol marker — the __cold series
    # switched single-run → min-of-2 in r10 and the streaming watch is
    # single-run; trend readers must not compare entries across
    # protocols as if they were the same measurement.
    def _hist_add(
        qn: str, sec: float, ent_dir: str | None, proto: str | None = None
    ) -> None:
        entries = history.setdefault(qn, [])
        # One entry per (round, sf_dir): same-round re-runs (floor
        # hunting) overwrite instead of appending noise.
        entries[:] = [
            e
            for e in entries
            if not (
                e.get("round") == round_idx
                and _norm_dir(e.get("sf_dir")) == _norm_dir(ent_dir)
            )
        ]
        ent = {"round": round_idx, "sec": sec, "sf_dir": ent_dir}
        if proto:
            ent["proto"] = proto
        entries.append(ent)
        del entries[:-20]  # keep the last 20 rounds per name

    # Streaming watch (r11, VERDICT r10 item 5): the micro-batch
    # streaming operators had NO per-round timing signal (the family
    # panel sampled one of ~15 every rotation round). Time every
    # q_stream_* once per run — single-shot like the quadratic watch
    # (each execution runs the full readStream → micro-batch → sink
    # pipeline; its wall time is dominated by fixed micro-batch
    # machinery, so a single run is the honest unit and min-of-N would
    # mostly measure sink-table reuse). Read round-over-round against
    # bench_history.json bands, not single deltas.
    streaming = sorted(
        n
        for n, qd in reg.items()
        if qd.module.rsplit(".", 1)[-1] == "streams" and n not in headline
    )
    stream_timings: dict[str, float] = {}
    for name in streaming:
        t0 = time.perf_counter()
        reg[name].builder(spark, sf_dir).toPandas()
        stream_timings[name] = round(time.perf_counter() - t0, 4)
        gc.collect()

    # Cold-path entries (r10, optimization round): the dedup/kmeans index
    # consumers are timed above in their steady state (the session-cached
    # index built during warmup — the persisted-index deployment shape the
    # bench has always claimed to measure). So no number depends on that
    # reuse, ALSO time each consumer with the caches disabled and cleared:
    # one full per-call rebuild from the parquet inputs, reported as
    # "<name>__cold" ADDED entries (the headline names and headline_total
    # keep their meaning; additions are allowed, removals are not).
    cold_consumers = [
        n
        for n in (
            "q_cluster_kmeans",
            "q_dedup_minhash_lsh",
            "q_dedup_fuzzy_apply",
            "q_dedup_semantic",
        )
        if n in headline
    ]
    cold_timings: dict[str, float] = {}
    if cold_consumers:
        from modforms_db_spark import cache

        # Measurement hygiene (r10 session 4): the cold block runs at
        # the tail of the whole bench, after ~140 timed executions
        # have accumulated dead localCheckpoint blocks whose async
        # cleanup contends with the rebuild — observed as a bimodal
        # cold signal (fuzzy 7.9 s vs 21-24 s across otherwise-quiet
        # runs; a standalone session never shows the slow mode).
        # Drain the garbage BEFORE timing (Python refs → JVM GC →
        # a beat for the ContextCleaner), and take min-of-2 — both
        # runs are full rebuilds from parquet (the caches are cleared
        # before each), so the claim of the __cold entries is
        # unchanged; prior single-run numbers live in
        # BENCH_r*.json / bench_history.json.
        # r11: drain BETWEEN entries too, not only before the block
        # — each cold rebuild leaves ~10 dead localCheckpoint RDDs
        # whose async unpersist contends with the NEXT entry's
        # rebuild (measured: the same rebuild reads 2.4 s as the
        # first cold leg of a fresh session and 4-7 s late in a
        # churning one). The entries' claim is unchanged: every
        # timed run is a full rebuild from parquet.
        def _drain() -> None:
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            time.sleep(2.0)

        _drain()
        for name in cold_consumers:
            best = float("inf")
            for _ in range(2):
                cache.clear()
                _drain()
                t0 = time.perf_counter()
                reg[name].builder(spark, sf_dir).toPandas()
                best = min(best, time.perf_counter() - t0)
            cold_timings[f"{name}__cold"] = round(best, 4)

    for qn, sec in timings.items():
        _hist_add(qn, sec, main_dir)
    for qn, sec in cold_timings.items():
        _hist_add(qn, sec, main_dir, proto="min2")
    for qn, ent in panel.items():
        _hist_add(qn, ent["sec"], ent["sf_dir"])
    for qn, sec in quad_timings.items():
        _hist_add(qn, sec, _norm_dir(quad_dir))
    for qn, sec in stream_timings.items():
        _hist_add(qn, sec, main_dir, proto="single")
    try:
        with open(hist_path, "w") as fh:
            json.dump(history, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except Exception as exc:
        print(f"bench_history.json write skipped: {exc}", file=sys.stderr)

    # r11 (VERDICT r10 item 1): a session-cache consumer enters the
    # engine-vs-engine comparable total at its __cold time — the full
    # rebuild-from-parquet number — because the DuckDB side re-runs its
    # equivalent from parquet every time; scoring the Spark side at its
    # warm cache-read time was a warm-vs-cold asymmetry inside a
    # competitive ratio. (Of the four cache consumers only
    # q_cluster_kmeans has an oracle and sits in `comparable`.) The
    # warm numbers keep their own entries in `queries`/headline_total.
    spark_cmp = round(
        sum(cold_timings.get(f"{n}__cold", timings[n]) for n in comparable),
        4,
    )
    duck_cmp = round(sum(duck[n] for n in comparable), 4)
    # Totals lead the line (BENCH_r03's capture was head-truncated and
    # lost everything before the per-query dicts) AND are duplicated in
    # a compact ``totals_tail`` as the LAST key — whichever end of the
    # line survives a truncated capture carries all three numbers.
    report = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "spark_comparable_total": spark_cmp,
        "duckdb_comparable_total": duck_cmp,
        "duckdb_total": round(sum(duck.values()), 4),
        "queries": {**timings, **cold_timings},
        "cold_path_queries": sorted(cold_timings),
        # Steady-state entries for these names are session-cache reads;
        # track plan quality via their __cold twins (VERDICT r10 item 2).
        "cache_consumers": cold_consumers,
        "duckdb_oracle": duck,
        "comparable_queries": comparable,
        "write_path_queries": write_path,
        "demo_overhead_queries": demo_overhead,
        "quadratic_watch": quad_timings,
        "quadratic_watch_sf_dir": quad_dir,
        "streaming_watch": stream_timings,
        "streaming_watch_sf_dir": main_dir,
        "family_panel": panel,
        "family_panel_deltas": panel_deltas,
        "headline_deltas": headline_deltas,
        "family_panel_round_idx": round_idx,
        "family_panel_sf_overrides": panel_sf_overrides,
        "totals_tail": {
            "headline_total": total,
            "spark_comparable_total": spark_cmp,
            "duckdb_comparable_total": duck_cmp,
        },
    }
    # The driver's BENCH_r{N}.json keeps only a ~2000-char tail of this
    # line, which round 5 showed can silently drop the per-query dicts.
    # Persist the FULL report to bench_last.json (committed to the repo)
    # so cross-round per-query diffs survive the driver's truncation
    # (VERDICT r5 item 5).
    try:
        with open(os.path.join(repo_dir, "bench_last.json"), "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except Exception as exc:
        print(f"bench_last.json write skipped: {exc}", file=sys.stderr)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
