"""Plan-shape assertions (SURVEY.md §4/§5.3): the optimizer obligations —
pushdown reaches the scan, dims broadcast, big joins shuffle on their keys,
aggregation is partial+final — verified against the physical plan string.
These are the properties that keep the 100 TB plan sane; at sf they cost
nothing, so a regression here is caught before it matters."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from modforms_db_spark.registry import get_registry

from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = get_registry()[name].builder(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "q_scan_pushdown")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # The shipdate predicate must be pushed into the scan, not a post-filter.
    assert "l_shipdate" in scan and ">=" in scan
    # Column pruning: the scan reads only the projected + filtered columns.
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert len(cols.split(",")) <= 3, cols


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fact_join_shuffles_on_key(spark):
    plan = _plan(spark, "q_join_sortmerge")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "hashpartitioning(o_orderkey" in plan
    assert "hashpartitioning(l_orderkey" in plan


def test_flagship_agg_is_partial_final(spark):
    df = get_registry()["q_agg_flagship"].builder(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan (and WSCG spans) on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Two HashAggregate levels (partial map-side combine + final).
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    # Whole-stage codegen shows as the "*(n)" operator prefix in toString.
    assert "*(" in plan


def test_anti_join_strategy(spark):
    plan = _plan(spark, "q_join_anti")
    assert "LeftAnti" in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "q_topk_global")
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_shuffle_on_join_keys(spark):
    """The bucketed fact-fact join must NOT exchange on the join keys —
    bucketing paid the shuffle at write time (SCALE.md). The only Exchange
    allowed in the plan is the final aggregation's (on o_orderpriority)."""
    plan = _plan(spark, "q_sink_bucketed")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    # Both scans actually read the bucketed layout.
    assert "Bucketed: true" in plan


def test_partitioned_sink_readback_prunes(spark):
    """Reading back the partitionBy('l_returnflag') layout with an IN
    filter must prune directories: the filter appears as a PartitionFilter
    on the scan, not a data Filter."""
    plan = _plan(spark, "q_sink_roundtrip")
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "lineitem_by_flag" in l
    )
    assert "PartitionFilters" in scan and "l_returnflag" in scan.split("PartitionFilters", 1)[1]


def test_ivf_broadcasts_centroids(spark):
    """IVF assignment must be a broadcast join against the tiny centroid
    table — a shuffle here would defeat the linear-scan design (SCALE.md
    §7). The centroid side is 16 rows; any non-broadcast cross/cartesian
    plan is a regression."""
    plan = _plan(spark, "q_sim_ivf_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan


def test_cosine_topk_broadcasts_query_side(spark):
    """Brute-force kNN must broadcast the small query batch and stream the
    candidate set past it — a shuffle CartesianProduct here would be the
    classic 100 TB killer. BroadcastNestedLoopJoin IS the right plan: the
    build side is the 20-row query set."""
    plan = _plan(spark, "q_sim_cosine_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan


def test_keep_latest_plans_window_group_limit(spark):
    """rn=1 must plan as WindowGroupLimit (top-1 per key before the full
    per-partition sort materializes), not a full Window + Filter."""
    plan = _plan(spark, "q_win_keep_latest")
    assert "WindowGroupLimit" in plan


def test_salted_join_keys_include_salt(spark):
    """The join must be keyed on BOTH orderkey and salt — the mechanism
    that spreads a hot key over S sub-keys. (At test SF the dim side is
    broadcast-sized so there is no Exchange to inspect; at scale the same
    keys become the hashpartitioning columns.)"""
    plan = _plan(spark, "q_join_skew_salted")
    join_line = next(l for l in plan.splitlines() if "Join" in l and "l_orderkey" in l)
    assert "salt" in join_line, join_line


def test_sorted_layout_gives_disjoint_rowgroup_stats(spark, tmp_path):
    """The z-order-lite claim in SCALE.md §1: writing a table sorted by the
    filter column produces parquet row groups with narrow, ordered min/max
    ranges, so a range predicate prunes row groups via footer stats alone.
    Proven here from the footers: sorted row-group [min,max] spans are
    pairwise disjoint, while the unsorted layout's spans all overlap."""
    import pyarrow.parquet as pq

    from modforms_db_spark.io import load

    # sf0.01 (60k rows) regardless of SF_DIR: the test needs enough data
    # for several row groups at the shrunken block size.
    li = load(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_shipdate", "l_orderkey"
    )
    small_rg = {"parquet.block.size": str(64 * 1024)}  # force many row groups

    sorted_dir = str(tmp_path / "sorted")
    (li.repartition(1).sortWithinPartitions("l_shipdate")
       .write.options(**small_rg).parquet(sorted_dir))
    unsorted_dir = str(tmp_path / "unsorted")
    li.repartition(1).write.options(**small_rg).parquet(unsorted_dir)

    def spans(d):
        import glob
        f = glob.glob(d + "/part-*.parquet")[0]
        md = pq.ParquetFile(f).metadata
        out = []
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema == "l_shipdate":
                    out.append((c.statistics.min, c.statistics.max))
        return out

    s, u = spans(sorted_dir), spans(unsorted_dir)
    assert len(s) >= 3, "need multiple row groups for the test to mean anything"
    # Sorted: consecutive row-group ranges never overlap.
    for (a_min, a_max), (b_min, b_max) in zip(s, s[1:]):
        assert a_max <= b_min, (a_max, b_min)
    # Unsorted: every row group spans ~the full date range (no pruning possible).
    lo, hi = min(m for m, _ in u), max(M for _, M in u)
    overlapping = sum(1 for m, M in u if m < hi and M > lo)
    assert overlapping == len(u)


def test_aqe_splits_skewed_join_partition(spark):
    """SCALE.md §3's zero-code skew mitigation, demonstrated live: a 90%-
    hot-key join under AQE with test-scale thresholds must re-plan as
    SortMergeJoin(skew=true) with the hot partition split (AQEShuffleRead
    'skewed'). This is the runtime complement to the explicit salting of
    q_join_skew_salted."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        big = spark.range(0, 1_000_000).select(
            F.when(F.col("id") < 900_000, F.lit(1)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(0, 100_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(dim, "k")
        # hot key 1 matches its single dim row for all 900k fact rows; the
        # non-hot keys (ids ≥ 900000) are outside the dim's key range.
        assert j.count() == 900_000
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_simhash_fingerprints_are_shuffle_free(spark):
    """The 64-bit SimHash fold must be a pure projection (one aggregate
    lambda over the token array) — no explode, and no Exchange beyond
    the round-robin input spread: the naive explode+groupBy form
    shuffles every token of the corpus keyed on token."""
    from modforms_db_spark.llm.dedup import _simhash_fp

    df = _simhash_fp(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan
    assert "RoundRobinPartitioning" in plan or "Exchange" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "Generate" not in plan, plan


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-split shingle set is guaranteed small (SCALE.md §8b), so
    the plan must broadcast it — the training side is never shuffled."""
    plan = _plan(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_filter_partial_aggregates(spark):
    """The bigram fan-out must collapse map-side: two HashAggregate
    levels (partial + final) keyed on (doc_id, bigram), so the shuffle
    carries per-doc distinct-bigram counts, never the raw bigram
    stream."""
    plan = _plan(spark, "q_repetition_filter")
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert "HashAggregate" in plan, plan


def test_bloom_prefilter_probes_broadcast_bitmap(spark):
    """q_join_bloom_prefilter: both bitmap probes must be broadcast hash
    joins (the bitmap is ≤1024 rows — if it ever shuffles, the prefilter
    costs more than the shuffle it exists to shrink)."""
    plan = _plan(spark, "q_join_bloom_prefilter")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # The exact membership check stays a real (semi) join after the probes.
    assert "LeftSemi" in plan, plan


def test_split_assign_is_projection_plus_one_shuffle(spark):
    """The split assignment must be a pure projection (hash of the key,
    no membership table, no join); the only Exchange is the final
    (split, lang) aggregation's partial→final shuffle."""
    plan = _plan(spark, "q_split_assign")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan.lower(), plan


def test_domain_mix_broadcasts_weights_and_budget(spark):
    """Mixture planning joins a 5-row weight dim and a 1-row budget agg
    onto the per-lang token counts — both must broadcast; nothing beyond
    the linear token count may shuffle."""
    plan = _plan(spark, "q_domain_mix")
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row budget crossJoin
    assert "SortMergeJoin" not in plan, plan


def test_substring_dedup_dedupes_windows_before_shuffle(spark):
    """Per-doc window dedup must happen inside the projection
    (array_distinct BEFORE the explode), so the keyed shuffle carries
    each (doc, window) once — never the raw sliding-window stream."""
    plan = _plan(spark, "q_dedup_substring")
    assert "array_distinct" in plan, plan
    # The pair aggregation collapses map-side before its shuffle.
    assert "partial" in plan.lower(), plan


def test_tpch_queries_broadcast_dimension_sides(spark):
    """The multi-join analogues must broadcast every dimension side —
    the fact chain is the only thing allowed to shuffle."""
    for name, min_bcast in (
        ("q_tpch_q3", 1),
        ("q_tpch_q5", 2),
        ("q_tpch_q10", 1),
        ("q_tpch_q18", 1),
        ("q_tpch_q7", 2),
        ("q_tpch_q8", 3),
        ("q_tpch_q14", 1),
        ("q_tpch_q17", 2),
        ("q_tpch_q19", 1),
        ("q_tpch_q21", 1),
    ):
        plan = _plan(spark, name)
        assert plan.count("BroadcastHashJoin") >= min_bcast, (name, plan)
    # Q3/Q10/Q18/Q21 are top-k: the global sort must be TakeOrdered, not full.
    for name in ("q_tpch_q3", "q_tpch_q10", "q_tpch_q18", "q_tpch_q21"):
        assert "TakeOrderedAndProject" in _plan(spark, name), name
    # Q22's NOT EXISTS must plan as a real anti join.
    assert "LeftAnti" in _plan(spark, "q_tpch_q22")
    # Q19's per-side implied filters must reach the scans: the lineitem
    # quantity envelope and the part brand set show up as PushedFilters.
    q19 = _plan(spark, "q_tpch_q19")
    assert "GreaterThanOrEqual(l_quantity,1" in q19, q19
    assert "EqualTo(p_brand,Brand#12)" in q19, q19
    # Q17's per-part average must aggregate only semi-pruned keys (the
    # brand/type filter runs below the agg, not after it).
    q17 = _plan(spark, "q_tpch_q17")
    assert "LeftSemi" in q17, q17


def test_knn_classify_norms_hoisted_above_pair_join(spark):
    """The per-row norm folds must be computed BEFORE the N² pair join
    (once per row), never inside the post-join cosine projection (twice
    per pair) — the optimization q_sim_cosine_topk documents, applied
    consistently. The cosine expression may fold the DOT product (that
    is per-pair by nature) but must reference the hoisted norm columns,
    not recompute sqrt(aggregate(...))."""
    plan = _plan(spark, "q_knn_classify")
    assert "sqrt(aggregate(" in plan.lower()  # hoisted per-row norm exists
    cos_lines = [
        l for l in plan.splitlines() if "round(" in l and "aggregate(" in l
    ]
    assert cos_lines, plan
    for l in cos_lines:
        assert "sqrt(aggregate(" not in l.lower(), l


def test_ann_twins_never_cartesian(spark):
    """The scale twins exist to REPLACE all-pairs plans: none of them may
    plan a CartesianProduct. The IVF classify twin's only nested-loop is
    the broadcast against the 16-row centroid table."""
    for name in (
        "q_dedup_ngram_prefix",
        "q_sim_threshold_ann",
        "q_knn_classify_ann",
        "q_dedup_embedding_ann",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
    # q_knn_classify_ann localCheckpoints the ranked frame (round-5 review:
    # two consumers), which cuts lineage — the registered query's plan starts
    # at Scan ExistingRDD. Probe the PRE-checkpoint ivf_rank_cells frame for
    # the centroid broadcast instead; that is where the nested-loop lives.
    from modforms_db_spark.llm.similarity import _emb, _norm, ivf_rank_cells

    e = _emb(spark, SF_DIR).withColumn("nrm", _norm("emb"))
    ranked = ivf_rank_cells(e)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_zorder_layout_shrinks_per_file_bounding_boxes(spark):
    """q_sink_zorder's pruning claim, proven from the written footers:
    under Z-order clustering each output file's (l_partkey, l_suppkey)
    bounding-box AREA is a small fraction of the full key domain, so a
    2-D box predicate can skip most files on min/max stats alone — while
    an unclustered write gives every file a near-full-domain box. We
    assert the mean z-ordered box area is < 30% of domain area AND that
    the demo query's box intersects a strict minority of files."""
    import glob as _glob

    import pyarrow.parquet as pq

    from modforms_db_spark.registry import get_registry

    reg = get_registry()
    reg["q_sink_zorder"].builder(spark, "/root/testdata/sf0.01").collect()
    from modforms_db_spark.session import scratch_root

    root = scratch_root(spark, "sinks")
    files = _glob.glob(root + "/lineitem_zorder/part-*.parquet")
    assert len(files) >= 4, files
    boxes = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        stats = {}
        for j in range(md.row_group(0).num_columns):
            c = md.row_group(0).column(j)
            if c.path_in_schema in ("l_partkey", "l_suppkey"):
                lo, hi = c.statistics.min, c.statistics.max
                for i in range(1, md.num_row_groups):
                    ci = md.row_group(i).column(j)
                    lo, hi = min(lo, ci.statistics.min), max(hi, ci.statistics.max)
                stats[c.path_in_schema] = (lo, hi)
        boxes.append(stats)
    P, S = 2000.0, 100.0  # sf0.01 key domains
    areas = [
        (b["l_partkey"][1] - b["l_partkey"][0])
        * (b["l_suppkey"][1] - b["l_suppkey"][0])
        / (P * S)
        for b in boxes
    ]
    assert sum(areas) / len(areas) < 0.30, areas
    hits = sum(
        1
        for b in boxes
        if b["l_partkey"][0] <= 120 and b["l_partkey"][1] >= 20
        and b["l_suppkey"][0] <= 8 and b["l_suppkey"][1] >= 2
    )
    assert hits < len(boxes) / 2, (hits, len(boxes))


def test_bitmap_distinct_single_fact_pass(spark):
    """The bitmap rollup must touch the fact scan once: the ALL row is
    merged from the per-type bitmaps, not recomputed from events."""
    plan = _plan(spark, "q_bitmap_distinct")
    # the (type, word) bitmap table is checkpoint-reused, so the fact scan
    # appears at most once in the final plan (0 = both levels read the
    # checkpointed bitmaps; 2 would mean the ALL row re-scans events)
    assert plan.count("FileScan parquet") <= 1
    assert "bit_or" in plan


def test_term_pmi_broadcasts_marginals(spark):
    """The 1-row corpus total rides a broadcast; no SortMergeJoin should
    appear for the N cross join."""
    plan = _plan(spark, "q_term_pmi")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_triangle_count_no_cartesian(spark):
    """All three triangle legs are equi-joins — a CartesianProduct in the
    plan would mean the wedge-close degenerated to all-pairs."""
    plan = _plan(spark, "q_triangle_count")
    assert "CartesianProduct" not in plan


def test_pca_gram_single_shuffle_then_tiny(spark):
    """The Gram build is the only data-sized exchange; matvec rounds run
    on the 2 080-row matrix (broadcast vector joins, no extra fact scans)."""
    plan = _plan(spark, "q_pca_power")
    # the Gram matrix is checkpoint-reused across all matvec rounds: the
    # final plan contains NO embeddings FileScan — the one data-sized pass
    # lives inside the checkpoint, iterations run on the 2 080-row matrix
    assert plan.count("FileScan parquet") == 0


def test_interpolate_windows_on_spine_not_facts(spark):
    """The IGNORE-NULLS windows must partition by event_type over the
    spine; the events scan contributes only the hourly partial agg."""
    plan = _plan(spark, "q_interpolate_linear")
    assert "RunningWindowFunction" in plan or "Window" in plan
    # the known-values side reaches the spine join as a broadcast
    assert "BroadcastExchange" in plan


def test_cumulative_distinct_no_expanding_dedup(spark):
    """First-seen rewrite: exactly one aggregate over events (user grain)
    — an expanding-window COUNT(DISTINCT) would show a second fact agg."""
    plan = _plan(spark, "q_cumulative_distinct")
    assert plan.count("FileScan parquet") == 1


def test_copurchase_topk_is_take_ordered(spark):
    """Global top-20 must compile to TakeOrdered (per-partition top-k +
    merge), not a single-partition global-window sort of all pairs."""
    plan = _plan(spark, "q_copurchase_pairs")
    assert "TakeOrderedAndProject" in plan


def test_spine_gapfill_family_single_fact_pass(spark):
    """Spine-joined fills and audits must not re-scan the fact table for
    their bounds/type lists: those derive from the checkpointed
    aggregate, so the final plan shows at most one FileScan (0 = the
    single pass lives inside the lazy checkpoint)."""
    for name in (
        "q_sliding_distinct",
        "q_interpolate_linear",
        "q_gapfill_rollup",
        "q_id_gap_audit",
    ):
        plan = _plan(spark, name)
        assert plan.count("FileScan parquet") <= 1, name


def test_banded_twins_partition_their_big_windows(spark):
    """The *_scaled twins exist to kill unpartitioned full-table windows:
    every Window over row grain must carry a partition spec (the band id,
    or the day slice); the only windows WITHOUT one must sit above an
    aggregate (band/day grain — ≤ a few thousand rows). Detect that by
    requiring any non-partitioned window's subtree to contain an
    aggregate before any file scan."""
    for name, part_key in [
        ("q_win_ranking_scaled", "_mfdb_band"),
        ("q_pareto_abc_scaled", "_mfdb_band"),
        ("q_quantile_bins_scaled", "_mfdb_band"),
        ("q_abc_xyz", "_mfdb_band"),
        ("q_max_concurrency_scaled", "day"),
    ]:
        plan = _plan(spark, name)
        # The row-grain window is partitioned by the band/slice key.
        win_lines = [l for l in plan.splitlines() if "Window " in l or l.strip().startswith("Window")]
        assert any(part_key in l for l in win_lines), (name, win_lines)
        # row_number/sum windows partitioned by the key exist; and any
        # remaining windowspec mentioning no partition key must be the
        # offset window whose input is an aggregate (grain-reduced).
        for l in win_lines:
            if part_key not in l and "windowspecdefinition(" in l:
                # offset windows order by the band/slice alone
                assert "_mfdb_band" in l or "day" in l, (name, l)


def test_plan_audit_is_green(spark):
    """Registry-wide plan audit (scripts/plan_audit.py) in the suite's
    session: every cartesian/row-UDF/global-window/dup-scan finding is
    either fixed or consciously allowlisted WITH a reason, so the NEXT
    operator someone adds with a quadratic join or an unpartitioned
    window fails the suite, not just the script."""
    from scripts.plan_audit import audit, finding_lines

    report, errors = audit(spark, SF_DIR)
    assert not report and not errors, "plan audit red:\n" + "\n".join(
        finding_lines(report, errors)
    )


def test_plan_audit_cli_args():
    """The CLI's optional ``sf_dir`` is never taken from an option's
    value, so ``--only``/``--json`` alone audit the default directory."""
    from scripts.plan_audit import parse_args

    default = parse_args([]).sf_dir
    a = parse_args(["--only", "^q_scan"])
    assert (a.sf_dir, a.only, a.json) == (default, "^q_scan", None)
    a = parse_args(["--json", "out.json"])
    assert (a.sf_dir, a.only, a.json) == (default, None, "out.json")
    a = parse_args(["--only", "x", "some/sf", "--json", "o.json"])
    assert (a.sf_dir, a.only, a.json) == ("some/sf", "x", "o.json")


def test_determinism_audit_cli_args():
    """The determinism audit's positionals are never taken from
    ``--only``'s value, so ``--only`` alone audits the default directory
    under the default partition counts."""
    from scripts.determinism_audit import parse_args

    d = parse_args([])
    default = (d.sf_dir, d.partsA, d.partsB)
    a = parse_args(["--only", "^q_scan"])
    assert ((a.sf_dir, a.partsA, a.partsB), a.only) == (default, "^q_scan")
    a = parse_args(["some/sf", "--only", "x", "16", "8"])
    assert (a.sf_dir, a.partsA, a.partsB, a.only) == ("some/sf", 16, 8, "x")


def test_determinism_audit_counts_errors(monkeypatch, capsys):
    """A query that fails under either layout is an error, reported by
    name and failing the audit, even when both layouts fail alike."""
    import scripts.determinism_audit as audit

    runs = {
        32: {"q_ok": "h1", "q_both": "ERR:IOError", "q_one": "h2"},
        7: {"q_ok": "h1", "q_both": "ERR:IOError", "q_one": "ERR:KeyError"},
    }
    monkeypatch.setattr(audit, "_run_all", lambda sf, parts, only: runs[parts])
    assert audit.main(["/nonexistent/sf"]) == 1
    out = capsys.readouterr().out
    assert "ERROR: q_both: ERR:IOError vs ERR:IOError" in out
    assert "ERROR: q_one: h2 vs ERR:KeyError" in out
    assert "LAYOUT-DEPENDENT" not in out
    assert "diffs: 0 of 3; errors: 2" in out
    runs[7]["q_one"] = "h3"
    runs[32]["q_both"] = runs[7]["q_both"] = "h4"
    assert audit.main(["/nonexistent/sf"]) == 1
    assert "LAYOUT-DEPENDENT: q_one\ndiffs: 1 of 3; errors: 0" in capsys.readouterr().out
    runs[7]["q_one"] = "h2"
    assert audit.main(["/nonexistent/sf"]) == 0


def test_bloom_filter_sink_grows_footprint(spark, tmp_path):
    """q_sink_parquet_bloom's layout claim, proven from the bytes on disk:
    neither pyarrow 16 nor DuckDB 1.0 exposes bloom_filter_offset, so the
    observable property is PHYSICAL — a bloom filter sized for ndv=200k at
    ~10 bits/key must grow the file by roughly 250 KB versus the same
    data and encoding written without one (identical read-back)."""
    from modforms_db_spark.io import load

    o = load(spark, "/root/testdata/sf0.01", "orders")
    plain_dir = str(tmp_path / "plain")
    bloom_dir = str(tmp_path / "bloom")
    # both copies force plain encoding on the key column so the size
    # delta isolates the bloom filter itself (parquet-mr omits blooms
    # for dictionary-encoded columns, and dict-off alone also grows
    # the file).
    (
        o.repartition(1)
        .write.option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(plain_dir)
    )
    (
        o.repartition(1)
        .write.option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "200000")
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(bloom_dir)
    )
    import glob
    import os

    size = lambda d: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(d + "/part-*.parquet")
    )
    plain, bloom = size(plain_dir), size(bloom_dir)
    grew = bloom - plain
    assert 50_000 < grew < 1_000_000, (plain, bloom, grew)
    # and the bloom copy is lossless
    assert (
        spark.read.parquet(bloom_dir).count()
        == spark.read.parquet(plain_dir).count()
    )


# -- k-means, semantic-dedup and PCA plan shapes


def test_kmeans_assignment_never_shuffles_vector_side(spark):
    """The r9 kmeans_fit shape: assignment = 1-row packed-centroid
    broadcast crossJoin + array_min projection. Its physical plan must
    contain a BroadcastNestedLoopJoin and NO sort-merge join and NO
    shuffle of the vector side (the only Exchange feeding the join may
    be the broadcast one; the r1-r8 form shuffled k copies of every
    quantized vector per round through a groupBy(vec_id) argmin)."""
    from modforms_db_spark.llm.similarity import (
        _emb,
        _kmeans_assign_packed,
        _pack_centroids,
    )

    qv = _emb(spark, SF_DIR).select(
        "vec_id",
        F.transform(
            "emb", lambda x: F.round(x.cast("double") * 1000, 0).cast("bigint")
        ).alias("qe"),
    )
    packed = _pack_centroids(
        qv.limit(4).select(F.lit(1).alias("cluster"), F.col("qe").alias("c_qe"))
    )
    plan = (
        _kmeans_assign_packed(qv, packed)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # No hash-partitioned exchange anywhere in the assignment: the only
    # exchanges allowed are the broadcast of the packed row and the
    # single-partition one under its own limit/agg — never a
    # hashpartitioning of vec_id.
    assert "hashpartitioning(vec_id" not in plan, plan


def test_semantic_pairs_leg_is_broadcast_join(spark):
    """q_dedup_semantic's distributed within-cluster pairwise join must be
    a broadcast-hash join with NO sort-merge join on the cluster key: a
    shuffle join keyed on 8 cluster ids caps the cosine folds at
    min(8, shuffle.partitions) tasks. The probe side keeps its spread()
    round-robin layout through the narrow broadcast join. Audits the
    engine's own pairs leg (`_sem_pairs`) over the clustered vectors."""
    from modforms_db_spark.llm.dedup import _sem_pairs
    from modforms_db_spark.llm.similarity import _emb, kmeans_core

    asg = kmeans_core(spark, SF_DIR).select("vec_id", "cluster")
    v = _emb(spark, SF_DIR).select("vec_id", "emb").join(asg, "vec_id")
    plan = _sem_pairs(v)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "hashpartitioning(cluster" not in plan, plan


def test_pca_matvec_runs_on_packed_row_no_joins(spark):
    """r10 q_pca_power contract: after the Gram pack, every power-
    iteration round is a projection over a one-row frame — the final
    plan must contain no join and no embeddings scan (the single
    data-sized pass lives behind the packed checkpoint)."""
    from modforms_db_spark.registry import get_registry

    df = get_registry()["q_pca_power"].builder(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "FileScan parquet" not in plan
    assert "Join" not in plan and "Exchange" not in plan
    # and the result is still the 64-dim loading vector
    assert df.count() == 64


def test_unpinned_builders_run_no_job(spark):
    """Building `q_eval_leakage` or `q_sprt_monitor` runs no Spark job:
    neither builder pins a frame with `localCheckpoint`, so nothing
    executes until the caller collects. The two tables are read first,
    outside the group, because a table's first read may infer its
    schema with a job of its own."""
    from modforms_db_spark.io import load

    sc = spark.sparkContext
    reg = get_registry()
    for table in ("documents", "events"):
        load(spark, SF_DIR, table)
    jobs = {}
    for name in ("q_eval_leakage", "q_sprt_monitor"):
        group = f"lazy-build-{name}"
        sc.setJobGroup(group, group)
        try:
            reg[name].builder(spark, SF_DIR)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {"q_eval_leakage": 0, "q_sprt_monitor": 0}, jobs
