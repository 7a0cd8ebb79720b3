"""Unit/property tests for the temporal-lifecycle operators (§2.12) and the
winnowing fingerprint (§2.11): invariants the oracle hash can't see."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from modforms_db_spark.registry import get_registry

from tests.conftest import SF_DIR, _run


def _q(name):
    return get_registry()[name].builder


def test_scd2_intervals_chain_and_single_current(spark):
    out = _q("q_scd2_build")(spark, SF_DIR).cache()
    # Exactly one open (is_current) interval per user.
    per_user = out.groupBy("user_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_open"),
        F.count(F.lit(1)).alias("n_versions"),
        F.max("version").alias("max_version"),
    )
    bad = per_user.where(
        (F.col("n_open") != 1) | (F.col("n_versions") != F.col("max_version"))
    )
    assert bad.count() == 0
    # Intervals chain: every non-current version's valid_to equals the next
    # version's valid_from (no gaps, no overlaps).
    a = out.alias("a")
    b = out.alias("b")
    chained = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.version") + 1 == F.col("b.version")),
    ).where(F.col("a.valid_to") != F.col("b.valid_from"))
    assert chained.count() == 0
    out.unpersist()


def test_cdc_apply_deletes_and_latest_win(spark):
    from modforms_db_spark.io import load

    snap = _q("q_cdc_apply")(spark, SF_DIR)
    e = load(spark, SF_DIR, "events")
    w_last = (
        e.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .where(F.col("rn") == 1)
    )
    deleted = w_last.where(F.col("event_type") == "error").select("user_id")
    live = w_last.where(F.col("event_type") != "error").select("user_id")
    # Snapshot contains exactly the live keys.
    assert snap.join(deleted, "user_id").count() == 0
    assert snap.count() == live.count()


def test_cdc_apply_plans_window_group_limit(spark):
    plan = _q("q_cdc_apply")(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_gapfill_dense_and_mass_conserving(spark):
    from modforms_db_spark.io import load

    out = _q("q_gapfill_rollup")(spark, SF_DIR).cache()
    e = load(spark, SF_DIR, "events")
    n_types = e.select("event_type").distinct().count()
    hours = e.select(F.date_trunc("hour", "ts").alias("h")).agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    ).collect()[0]
    n_hours = int((hours.h1 - hours.h0).total_seconds() // 3600) + 1
    # Dense spine: every (hour, type) cell present exactly once.
    assert out.count() == n_hours * n_types
    assert out.select("h", "event_type").distinct().count() == out.count()
    # Gap fill adds zeros, never loses events.
    assert (
        out.agg(F.sum("n_events")).collect()[0][0] == e.count()
    )
    out.unpersist()


def test_binned_interval_join_equals_naive(spark):
    binned = _q("q_join_range_binned")(spark, SF_DIR)
    naive = _q("q_join_interval")(spark, SF_DIR)
    assert binned.exceptAll(naive).count() == 0
    assert naive.exceptAll(binned).count() == 0


def _write_docs(spark, tmpdir: str, rows: list[tuple[int, str]]) -> str:
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmpdir, "documents.parquet")
    )
    return tmpdir


def test_winnow_guarantee_shared_run_shares_fingerprint(spark, tmp_path):
    # k=3, w=4: any shared token run of length >= k+w-1 = 6 must yield at
    # least one shared selected hash (the winnowing guarantee).
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, f"one two {shared} three four"),
        (1, f"{shared} five six seven eight nine"),
        (2, "totally different words with no overlap at all here"),
    ]
    sf = _write_docs(spark, str(tmp_path), rows)
    out = _q("q_winnow")(spark, sf).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[0] & fps[1], "docs sharing a 6-token run must share a fingerprint"
    # Identical docs fingerprint identically.
    rows2 = [(0, rows[0][1]), (1, rows[0][1])]
    sf2 = _write_docs(spark, str(tmp_path / "b"), rows2)
    out2 = _q("q_winnow")(spark, sf2).collect()
    fps2 = {}
    for r in out2:
        fps2.setdefault(r.doc_id, set()).add(r.fp)
    assert fps2[0] == fps2[1]


def test_winnow_short_doc_selects_global_min(spark, tmp_path):
    # 3 tokens -> one 3-gram -> window shrinks to the gram list -> one fp.
    sf = _write_docs(spark, str(tmp_path), [(0, "a b c")])
    out = _q("q_winnow")(spark, sf).collect()
    assert len(out) == 1


def _compacted_file_counts(spark) -> tuple[int, int]:
    """(fragmented, compacted) data-file counts from the session's last
    `q_sink_compaction` run."""
    import glob

    from modforms_db_spark.session import scratch_root

    root = scratch_root(spark, "sinks")
    frag = glob.glob(os.path.join(root, "events_fragmented", "*", "*.parquet"))
    comp = glob.glob(os.path.join(root, "events_compacted", "*", "*.parquet"))
    return len(frag), len(comp)


def test_compaction_collapses_files_losslessly(spark, ddb):
    from tests.conftest import assert_parity

    assert_parity(spark, ddb, "q_sink_compaction")
    frag, comp = _compacted_file_counts(spark)
    n_types = 5
    assert comp == n_types, (frag, comp)
    assert frag > comp, (frag, comp)


def test_freq_items_guarantee(spark):
    from modforms_db_spark.io import load

    out = _q("q_stat_freq_items")(spark, SF_DIR).collect()
    assert len(out) == 1
    o = load(spark, SF_DIR, "orders")
    total = o.count()
    exact = {
        r.o_orderpriority: r.n
        for r in o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_heavy = sum(1 for n in exact.values() if n / total > 0.05)
    # Guarantee (checked inside the query): every value above the support
    # threshold is present in the sketch output → guarantee_holds TRUE.
    assert out[0].n_true_heavy == n_heavy, (out[0], n_heavy)
    assert out[0].guarantee_holds, out[0]


def test_scan_metadata_audit(spark):
    import glob
    import os

    from modforms_db_spark.io import load
    from modforms_db_spark.operators.scans import scan_metadata_per_file

    rows = _q("q_scan_metadata")(spark, SF_DIR).collect()
    total = load(spark, SF_DIR, "lineitem").count()
    assert len(rows) == 1
    # Metadata-derived row count must reconcile with the actual scan, and
    # every file's row_index span must be exactly [0, n_rows).
    assert rows[0].total_rows == total
    assert rows[0].files_complete
    # The file-count audit (kept OUT of the contract row so the oracle is
    # layout-independent): per-file audit rows ≡ the physical data files.
    audited = {
        os.path.basename(r.file_path)
        for r in scan_metadata_per_file(spark, SF_DIR).collect()
    }
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(SF_DIR, "lineitem.parquet", "*"))
        + glob.glob(os.path.join(SF_DIR, "lineitem.parquet"))
        if p.endswith(".parquet") and os.path.isfile(p)
    }
    assert audited == on_disk


def test_vec_quantize_error_bound(spark):
    # Dequantization error must stay within half a quantization step
    # (floor(x+0.5) rounds to nearest code), i.e. <= 50% of scale.
    out = _q("q_vec_quantize")(spark, SF_DIR).collect()
    assert out, "no vectors"
    for r in out:
        assert 0 <= r.max_err_pct_of_scale <= 50, r
        assert r.scale_fp >= 0


def test_rollup_cascade_mass_conservation(spark):
    out = _q("q_rollup_cascade")(spark, SF_DIR)
    per_grain = {
        r.grain: (r.total_n, round(r.total_v, 2))
        for r in out.groupBy("grain")
        .agg(
            F.sum("n").alias("total_n"),
            F.sum("sum_value").alias("total_v"),
        )
        .collect()
    }
    # Every grain accounts for every event; sums agree to rounding noise.
    assert per_grain["hour"][0] == per_grain["day"][0] == per_grain["month"][0]
    assert abs(per_grain["hour"][1] - per_grain["month"][1]) < 0.01


def test_scan_observed_metrics(spark):
    from modforms_db_spark.io import load
    from modforms_db_spark.operators.scans import q_scan_observed

    out = _q("q_scan_observed")(spark, SF_DIR)
    out.collect()  # metrics materialize with the action
    obs = q_scan_observed.last_observation
    m = obs.get
    assert m["rows_scanned"] == load(spark, SF_DIR, "orders").count()
    assert m["null_keys"] == 0


def test_scan_observed_metrics_after_unexecuted_build(spark):
    """A q_scan_observed frame that is built and never executed must not
    starve a later call's Observation: the builder observes a frame of
    its own, not the catalog's shared orders frame. The read runs on a
    daemon thread with a bounded wait, so a regression fails instead of
    hanging the suite."""
    import threading

    from modforms_db_spark.io import load
    from modforms_db_spark.operators.scans import q_scan_observed

    _q("q_scan_observed")(spark, SF_DIR)  # built, never executed
    _q("q_scan_observed")(spark, SF_DIR).collect()
    obs = q_scan_observed.last_observation
    got = {}
    reader = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    reader.start()
    reader.join(timeout=30)
    assert not reader.is_alive(), "Observation.get still blocked after 30 s"
    assert got["rows_scanned"] == load(spark, SF_DIR, "orders").count()


def _write_empty_events(spark, tmpdir: str) -> str:
    # Raw layout of events.parquet: ts is INT64 nanoseconds (io.py reads
    # it with nanosAsLong and converts) — an empty frame with that schema.
    df = spark.createDataFrame(
        [],
        "event_id bigint, ts bigint, user_id bigint, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmpdir, "events.parquet")
    )
    return tmpdir


def test_nanos_events_file_loads_without_leaking_conf(spark, tmp_path):
    """A real timestamp[ns] events file loads through io.load: ts equals
    the µs fixture truncated (the file carries an extra 789 ns per row),
    and the nanosAsLong conf the read needs is scoped to the read, not
    left set on the session."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from modforms_db_spark.io import load
    from modforms_db_spark.session import scoped_conf

    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    assert t.schema.field("ts").type == pa.timestamp("us")
    us = t.column("ts").cast(pa.int64())
    ns = pc.add(pc.multiply(us, 1000), 789).cast(pa.timestamp("ns"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ns)
    pq.write_table(t, str(tmp_path / "events.parquet"))

    key = "spark.sql.legacy.parquet.nanosAsLong"
    with scoped_conf(spark, {key: "false"}):
        got = load(spark, str(tmp_path), "events")
        assert spark.conf.get(key) == "false"
        got = got.select("event_id", "ts").toPandas()
    want = load(spark, SF_DIR, "events").select("event_id", "ts").toPandas()
    got, want = (f.sort_values("event_id").reset_index(drop=True) for f in (got, want))
    assert len(got) == len(want) > 0
    assert got.equals(want)


def test_temporal_ops_survive_empty_input(spark, tmp_path):
    sf = _write_empty_events(spark, str(tmp_path))
    for name in [
        "q_scd2_build",
        "q_cdc_apply",
        "q_gapfill_rollup",
        "q_anomaly_mad",
        "q_join_range_binned",
        "q_agg_mode",
        "q_rollup_cascade",
        "q_events_retention",
    ]:
        out = _q(name)(spark, sf).collect()
        assert out == [], (name, out)


def test_audio_windows_shape_and_determinism(spark):
    """Real-WAV windowing law (round 6): every doc yields exactly
    (n − win)/hop + 1 full windows over its 800-sample PCM16 clip,
    win_start = win_idx·hop, RMS within the int16 range, reruns
    byte-identical."""
    from modforms_db_spark.io import load
    from modforms_db_spark.llm.multimodal import _AUDIO_HOP, _AUDIO_WIN, _WAV_N

    out1 = _q("q_mm_audio_windows")(spark, SF_DIR).collect()
    out2 = _q("q_mm_audio_windows")(spark, SF_DIR).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # deterministic
    n_docs = load(spark, SF_DIR, "documents").count()
    expect = (_WAV_N - _AUDIO_WIN) // _AUDIO_HOP + 1
    per_doc: dict[int, list] = {}
    for r in out1:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert len(per_doc) == n_docs
    for doc_id, rows in per_doc.items():
        assert len(rows) == expect, (doc_id, len(rows), expect)
        for r in rows:
            assert r.win_start == r.win_idx * _AUDIO_HOP
            assert 0.0 <= r.rms <= 10000.0  # |sample| <= 10000 by formula


def test_sorted_sink_files_cover_disjoint_ranges(spark):
    """q_sink_sorted_pruning's layout contract: after the range-partition
    + sort rewrite, each written file's (min, max) l_shipdate span must
    be disjoint from every other file's — the property parquet min/max
    pruning needs. Verified from the actual footers via pyarrow."""
    import glob

    import pyarrow.parquet as pq

    from modforms_db_spark.session import scratch_root

    _q("q_sink_sorted_pruning")(spark, SF_DIR).collect()  # materialize write
    root = scratch_root(spark, "sinks")
    files = sorted(glob.glob(root + "/lineitem_sorted_shipdate/*.parquet"))
    assert len(files) >= 2, files
    spans = []
    for f in files:
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # l_shipdate is first column
            assert col.path_in_schema == "l_shipdate"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (spans,)


def test_scan_metadata_layout_independent(spark, tmp_path):
    """The contract row must hash-match on ANY physical layout (the
    oracle checks only total_rows + files_complete): rebuild lineitem as
    a MULTI-file directory and assert the same results plus a >1-file
    per-file audit. Regression guard for the layout-coupled n_files
    oracle the round-2 advisor flagged."""
    import os

    from modforms_db_spark.io import load
    from modforms_db_spark.operators.scans import (
        q_scan_metadata,
        scan_metadata_per_file,
    )

    src = load(spark, SF_DIR, "lineitem")
    total = src.count()
    multi_dir = str(tmp_path / "multi")
    os.makedirs(multi_dir)
    src.repartition(4).write.parquet(
        os.path.join(multi_dir, "lineitem.parquet")
    )
    rows = q_scan_metadata(spark, multi_dir).collect()
    assert len(rows) == 1
    assert rows[0].total_rows == total
    assert rows[0].files_complete
    assert scan_metadata_per_file(spark, multi_dir).count() > 1


def test_catalog_cache_keys_by_sf_dir(spark, tmp_path):
    """io.load's resolved-reader cache must key on the data directory —
    two sf_dirs in one session return their OWN data, and the cache
    never leaks rows across them."""
    import os

    from modforms_db_spark.io import load

    other = str(tmp_path / "other")
    os.makedirs(other)
    load(spark, SF_DIR, "region").limit(2).write.parquet(
        os.path.join(other, "region.parquet")
    )
    full = load(spark, SF_DIR, "region").count()
    assert load(spark, other, "region").count() == 2
    assert load(spark, SF_DIR, "region").count() == full


def test_sessionize_agrees_with_session_window_twin(spark):
    """q_sessionize (row-level ids) and q_win_session (session_window
    agg) implement the same 30-min-gap rule, so per-user session COUNTS
    must agree, and total events across sessions must equal the table."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load

    reg = get_registry()
    rows = reg["q_sessionize"].builder(spark, SF_DIR)
    by_user = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in rows.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    e = load(spark, SF_DIR, "events")
    totals = {r.user_id: r.n for r in e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {u: v[1] for u, v in by_user.items()} == totals
    tw = {
        r.user_id: r.n
        for r in reg["q_win_session"].builder(spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {u: v[0] for u, v in by_user.items()} == tw


def test_pagerank_mass_conserved_and_suppliers_outrank_uniform(spark):
    """Σrank ≡ 1 (teleport + dangling redistribution conserve mass, up
    to the per-round 1e-10 rounding × |V|); every node keeps a positive
    rank ≥ the teleport floor (1−d)/N; and suppliers (pure sinks fed by
    every customer) collectively hold more than their uniform share."""
    from pyspark.sql import functions as F

    reg = get_registry()
    df = reg["q_pagerank"].builder(spark, SF_DIR)
    rows = df.collect()
    n = len(rows)
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < n * 1e-9
    assert all(r.rank >= (1 - 0.85) / n - 1e-9 for r in rows)
    supp = sum(r.rank for r in rows if r.node.startswith("s"))
    n_supp = sum(1 for r in rows if r.node.startswith("s"))
    assert supp > n_supp / n  # sinks accumulate mass


def test_ivm_merge_equals_full_recompute(spark):
    """The IVM contract: base+delta merge must equal the from-scratch
    aggregate — exactly for counts, to fp-rounding tolerance for sums
    (the merge adds two r4-rounded partials, the recompute rounds one
    full sum; they may differ in the 4th decimal by at most 1 ulp of
    the rounding grid)."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load

    reg = get_registry()
    merged = {
        r.user_id: (r.n, r.total)
        for r in reg["q_ivm_merge"].builder(spark, SF_DIR).collect()
    }
    full = {
        r.user_id: (r.n, r.total)
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .collect()
    }
    assert set(merged) == set(full)
    for u in merged:
        assert merged[u][0] == full[u][0], u
        assert abs(merged[u][1] - full[u][1]) <= 2e-4, (u, merged[u], full[u])


def test_hits_normalized_and_ranked(spark):
    """Each HITS role's top list is rank-consecutive, score-descending,
    and L1-normalized scores are positive and bounded by 1; hubs are
    customers, authorities suppliers (bipartite edge direction)."""
    from tests.conftest import SF_DIR

    rows = (
        get_registry()["q_hits_scores"].builder(spark, SF_DIR).collect()
    )
    by_role = {}
    for r in rows:
        by_role.setdefault(r.role, []).append(r)
    assert set(by_role) == {"hub", "authority"}
    for role, rs in by_role.items():
        rs = sorted(rs, key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(0.0 < s <= 1.0 for s in scores)
        prefix = "c" if role == "hub" else "s"
        assert all(r.node.startswith(prefix) for r in rs)


def test_assortativity_bounded(spark):
    """Degree assortativity is a Pearson correlation: within [-1, 1]
    (or NULL on a degenerate graph), with positive degree means and
    edge count consistent with the node counts."""
    from tests.conftest import SF_DIR

    r = (
        get_registry()["q_graph_assortativity"]
        .builder(spark, SF_DIR)
        .collect()[0]
    )
    assert r.n_edges >= max(r.n_srcs, r.n_dsts)
    assert r.mean_out_deg > 0 and r.mean_in_deg > 0
    if r.assortativity is not None:
        assert -1.0 <= r.assortativity <= 1.0


# -- planted/organic behavior contracts of the temporal operators


def test_runs_test_branches(spark):
    df = _run(spark, "q_runs_test").set_index("stream")
    assert df.loc["ramp_planted", "reject"] and df.loc["ramp_planted", "r_runs"] == 2
    assert df.loc["zigzag_planted", "reject"]
    assert df.loc["zigzag_planted", "z4"] > 0 > df.loc["ramp_planted", "z4"]
    organic = df.drop(index=["ramp_planted", "zigzag_planted"])
    assert not organic["reject"].any()


def test_spc_xbar_flags_only_planted_shift(spark):
    df = _run(spark, "q_spc_xbar")
    organic = df[df["scope"] == "organic"]
    assert not organic["out_of_control"].any()
    planted17 = df[(df["scope"] == "planted") & (df["d"] == 17)]
    assert planted17["out_of_control"].all()
    # limits bracket the center line ordering
    assert (df["lcl4"] < df["ucl4"]).all()


def test_event_study_shape(spark):
    df = _run(spark, "q_event_study")
    p = df[df["scope"] == "planted"].set_index("tau")["mean_abnormal4"]
    assert p.loc[0] > 40000 and p.loc[1] > 15000
    # flat pre-trend: nothing before tau=0 approaches the jump
    assert p.loc[[-3, -2, -1]].abs().max() < p.loc[0] / 10


def test_markov_attribution_shares(spark):
    df = _run(spark, "q_markov_attribution")
    assert len(df) == 4
    assert abs(df["share4"].sum() - 1.0) < 0.01
    assert (df["removal_effect4"] > 0).all()  # every channel carries paths
    assert (df["p_removed4"] < df["removal_effect4"] * 0 + 1).all()


def test_ljung_box_branches(spark):
    df = _run(spark, "q_ljung_box").set_index("stream")
    assert df.loc["randomwalk_planted", "reject"]
    organic = df.drop(index="randomwalk_planted")
    assert not organic["reject"].any()
    assert df.loc["randomwalk_planted", "lb4"] > 5 * organic["lb4"].max()


def test_binseg_recovers_both_boundaries(spark):
    df = _run(spark, "q_changepoint_binseg")
    planted = df[df["stream"] == "shifts_planted"]
    assert sorted(planted["cp_d"].tolist()) == [10, 20]
    assert (planted["rel_gain4"] > 0.45).all()
    # organic streams emit nothing — the honest negative
    assert (df["stream"] == "shifts_planted").all()
