#!/usr/bin/env python
"""Plan-shape audit: sweep every registered query's physical plan for the
scale-killer checklist (SURVEY.md §4, SCALE.md §2) and fail on any
finding that is not consciously allowlisted.

The per-query plan tests in tests/test_plans.py pin the load-bearing
properties of ~40 representative plans; this audit is the registry-wide
complement that catches the NEXT operator someone adds with a quadratic
join or an unpartitioned window. Checks, per executed-plan tree:

  cartesian       CartesianProduct operator anywhere. The registry's
                  deliberate cross joins are all broadcast-sized and plan
                  as BroadcastNestedLoopJoin; a CartesianProduct means a
                  shuffle-partitioned quadratic join — never acceptable.
  row_udf         BatchEvalPython (row-at-a-time Python UDF). Only the
                  operators whose CONTRACT is the row-UDF API may carry
                  one; everything else must use built-ins or Arrow
                  (ArrowEvalPython / FlatMapGroupsInPandas are fine).
  global_window   Window operator with an empty partition spec — a
                  single-task sort of the whole input at scale. Banded
                  replacements (operators/banded.py) exist precisely so
                  registered queries never need one on a large frame;
                  allowlisted names operate on provably tiny frames
                  (band offsets <=32 rows, k-sized aggregates, ...).
  dup_scan        The same parquet table scanned more than once in one
                  plan — a branch off an un-checkpointed grain silently
                  re-reads the fact table.

    python scripts/plan_audit.py [sf_dir] [--json out.json] [--only regex]

Exit 0 iff every finding is allowlisted. The CLI audits in a
``session.get_spark`` session, and tests/test_plans.py runs the same
sweep through :func:`audit` in the suite's, so both share one session
factory (cores, confs, JVM options). It never
collects result rows, but it is not plan-only: building a query runs
whatever its builder executes, so sink/stream operators write, and under
AQE every ``localCheckpoint(eager=False)`` pin runs the shuffle stages
upstream of it during the build.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# name -> reason. An entry here is a conscious, reviewed exception —
# new findings must either be fixed or argued into this dict. Every
# entry carries its reason; shared rationales are factored into the
# _R_* constants below.
ALLOW_ROW_UDF = {
    "q_udf_python": "the operator's contract IS the row-at-a-time Python "
    "UDF API (slow-path demo; its pandas twin q_udf_pandas_scalar is the "
    "recommended form)",
    "q_udf_sql": "spark.udf.register of a plain Python callable — the "
    "SQL-facing registration API under test evaluates via BatchEvalPython",
    "q_udtf": "Python UDTF contract row — Spark 4 UDTFs evaluate via "
    "BatchEvalPythonUDTF (pickle path); there is no Arrow UDTF engine",
    "q_udtf_analyze": "UDTF with analyze() (dynamic schema) — same "
    "BatchEvalPythonUDTF evaluation, the API itself is what's under test",
    "q_udtf_table_arg": "UDTF consuming a TABLE argument — same "
    "BatchEvalPythonUDTF evaluation, the API itself is what's under test",
}

# -- global_window rationales ------------------------------------------
_R_BANDED_OFFSET = (
    "banded.py offset-prefix window over the per-band frame — one row "
    "per band (≤32 by construction); the data-sized work runs in the "
    "per-band PARTITIONED windows, this global pass only chains band "
    "offsets"
)
_R_LANG_FRAME = (
    "largest-remainder ranking over the per-language frame — one row "
    "per lang (7 in the corpus; bounded by the language vocabulary, "
    "not data size)"
)
_R_CONTRACT_TWIN = (
    "exact contract form with a registered banded scale twin that "
    "carries the 100 TB shape ({twin}); this row is the oracle-checkable "
    "reference semantics"
)
ALLOW_GLOBAL_WINDOW: dict[str, str] = {
    "q_elo_bradley_terry": "final rank over the k-row (k = 8 models) "
    "rating frame — bounded by the contender count, not data size",
    "q_gini_split": "best-split rank over the |thresholds|-row (7) "
    "candidate frame — bounded by the literal threshold dim, not data",
    "q_abc_xyz": _R_BANDED_OFFSET,
    "q_negative_sampling": _R_BANDED_OFFSET,
    "q_curriculum_competence": _R_BANDED_OFFSET,
    "q_conformal_interval": _R_BANDED_OFFSET,
    "q_ht_estimator": _R_BANDED_OFFSET,
    "q_pareto_abc_scaled": _R_BANDED_OFFSET,
    "q_quantile_normalize": _R_BANDED_OFFSET,
    "q_importance_resample": _R_BANDED_OFFSET,
    "q_budget_select_greedy": _R_BANDED_OFFSET,
    "q_alloc_hierarchical": "level-1 Hamilton remainder ranking over "
    "the 5-row region frame — bounded by geography, not data size "
    "(level-2 rankings are partitioned by region)",
    "q_graph_kcore": "lag over the 6-row peel-round trace frame — "
    "bounded by the round count, not data size",
    "q_t_closeness": "global-distribution cumsum over the 5-row bucket "
    "spine — bounded by the literal bucket count m, not data size "
    "(the per-class EMD walk is partitioned by class)",
    "q_reco_coverage": "Gini exposure rank over the recommendation "
    "frame — bounded by panel x k (<= 320 rows by construction), "
    "never data size (the scoring window is partitioned per query)",
    "q_ppl_bucket": _R_BANDED_OFFSET,
    "q_rfm_segmentation": _R_BANDED_OFFSET,
    "q_win_ranking_scaled": _R_BANDED_OFFSET,
    "q_alloc_largest_remainder": _R_LANG_FRAME,
    "q_anneal_mix": "two Hamilton remainder rankings over the "
    "per-source quota frame — bounded by the source vocabulary "
    "(20 here), not data size",
    "q_epoch_repeats": _R_LANG_FRAME,
    "q_sample_temperature": _R_LANG_FRAME,
    "q_stratified_neyman": _R_LANG_FRAME,
    "q_token_budget_mix": _R_LANG_FRAME,
    "q_calibration_ece": "ECE sum over the 10-row probability-bin "
    "frame — bounded by the bin count, not data size",
    "q_feature_mi": "margins + MI total over the contingency frame — "
    "bounded by the label-vocabulary product (priority × status = 15 "
    "cells), not data size",
    "q_heaps_law": "log-log OLS window over the power-of-two milestone "
    "frame — O(log corpus) rows (47 at 100 TB), not data size",
    "q_corpus_saturation": "cumulative novelty over the size-bucket "
    "grain — one row per fixed-width bucket, bounded by max doc length "
    "/ bucket width, not by row count",
    "q_cumulative_distinct": "running sum over the day grain — one row "
    "per calendar day in the data range; the per-event work happens in "
    "the first-seen aggregation below it",
    "q_max_concurrency": "exact contract form: cumsum over the raw "
    "event boundary stream; scale twin q_max_concurrency_scaled carries "
    "the day-grain carry-in shape",
    "q_max_concurrency_scaled": "day-grain carry-in cumsum — one row "
    "per calendar day; per-event cumsums run in PARTITIONED per-day "
    "windows",
    "q_pareto_abc": _R_CONTRACT_TWIN.format(twin="q_pareto_abc_scaled"),
    "q_period_over_period": "lag over the month grain — one row per "
    "calendar month",
    "q_rolling_corr": "24-row rolling frame over the hour grain — one "
    "row per calendar hour in the data range",
    "q_skyline": "skyline sweep over the distinct-doc-length grain — "
    "bounded by max n_chars (~2k values), not by document count",
    "q_srm_check": "chi-square totals over the experiment-arm frame — "
    "one row per arm (2 arms)",
    "q_survival_km": "Kaplan-Meier risk-set/product over the distinct "
    "event-day grain — bounded by the date range",
    "q_win_ranking": _R_CONTRACT_TWIN.format(twin="q_win_ranking_scaled"),
}

# -- dup_scan rationales -----------------------------------------------
_R_DIM_BROADCAST = (
    "tiny-dim table scanned per broadcast branch — footer-read cost "
    "only; at 100 TB dims stay broadcast-sized by definition"
)
_R_SELF_AGG = (
    "table re-joined against its own aggregate/stats — two column-"
    "pruned scan subsets; re-scanning with pushdown beats materializing "
    "the unpruned fact (checkpointing would pin the wider frame)"
)
_R_TPCH_SPEC = (
    "TPC-H spec shape: the fact side compared against its own "
    "aggregate/EXISTS subquery — two differently-pruned scan subsets, "
    "the published query's semantics"
)
_R_TWO_RELATIONS = (
    "the operator's CONTRACT compares two relations derived from the "
    "same table (split/diff/upsert/re-ingest demo) — two scans by "
    "definition; real deployments feed two distinct sources"
)
_R_REATTACH = (
    "narrow-candidates discipline: IDs shuffle through candidate "
    "generation, the wide payload (embedding/text) re-attaches by keyed "
    "join from a second pruned scan — deliberately trades a cheap "
    "re-scan for not shuffling the payload (SCALE.md §9i)"
)
_R_MULTI_GRAIN = (
    "two differently-grained/pruned passes over the fact (per-row leg + "
    "aggregated leg of the output contract); each scan prunes to its "
    "own column/predicate subset"
)
ALLOW_DUP_SCAN: dict[str, str] = {
    # dim-table broadcast branches
    "q_dpp_prune": "the runtime-filter dim deliberately reads the "
    "source table independently of the partitioned fact write — an "
    "independent dim is what makes the dynamic-pruning subquery "
    "demonstrable (joining the fact to itself would prune nothing)",
    "q_fuzzy_name_join": _R_DIM_BROADCAST,
    "q_hhi_concentration": _R_DIM_BROADCAST
    + "; the lineitem pair is the per-row leg + share-denominator leg "
    "(" + _R_SELF_AGG + ")",
    "q_tpch_q7": _R_DIM_BROADCAST,
    "q_tpch_q8": _R_DIM_BROADCAST,
    "q_tpch_q2": _R_TPCH_SPEC + " (min-cost correlated subquery re-reads "
    "part/supplier/nation/region dims on the inner side — all "
    "broadcast-sized)",
    "q_tpch_q9": _R_DIM_BROADCAST,
    "q_tpch_q11": _R_TPCH_SPEC + " (value-share threshold: inner total "
    "re-reads the same dims)",
    "q_tpch_q16": _R_TPCH_SPEC,
    "q_tpch_q17": _R_TPCH_SPEC + " (per-part avg-quantity subquery)",
    "q_tpch_q18": _R_TPCH_SPEC + " (having-sum subquery over lineitem)",
    "q_tpch_q20": _R_TPCH_SPEC,
    "q_tpch_q21": _R_TPCH_SPEC + " (exists/not-exists self-checks)",
    "q_tpch_q22": _R_TPCH_SPEC + " (avg-balance subquery over customer)",
    # table vs its own aggregate/stats
    "q_ab_ttest": _R_SELF_AGG,
    "q_agg_hll_merge": _R_SELF_AGG + " (exact-vs-sketch comparison leg)",
    "q_agg_moments": _R_SELF_AGG,
    "q_anomaly_mad": _R_SELF_AGG + " (median-of-deviations needs two "
    "dependent percentile passes)",
    "q_dq_expectations": _R_SELF_AGG + " (independent expectation probes "
    "by contract — each rule scans its own pruned subset)",
    "q_feature_scale": _R_SELF_AGG,
    "q_impute_mean": _R_SELF_AGG,
    "q_heaps_law": _R_SELF_AGG + " (trigram first-seen leg + a "
    "zero-column count-star leg for the milestone grid bound)",
    "q_outlier_iqr": _R_SELF_AGG,
    "q_prototype_prune": _R_SELF_AGG + " (per-label centroid leg + "
    "distance leg against the broadcast centroids)",
    "q_stat_freq_items": _R_SELF_AGG,
    "q_winsorize": _R_SELF_AGG + " (clip bounds from percentile agg "
    "re-applied per row; VERDICT r5 triage: document, not checkpoint — "
    "the bounds frame is 1 row, the re-scan is the pruned fact)",
    "q_user_ltv_cohort": _R_SELF_AGG + " (cohort assignment = min-date "
    "agg re-joined to events; VERDICT r5 triage: document — same "
    "1-row-vs-pruned-fact shape as q_winsorize)",
    "q_udf_pandas_scalar": _R_SELF_AGG + " (demeaning UDF consumes the "
    "grouped means of the same events frame; VERDICT r5 triage: "
    "document)",
    "q_skyline": _R_SELF_AGG + " (dominance frontier from the length-"
    "grain agg, then re-applied to rows)",
    "q_survival_km": _R_MULTI_GRAIN + " (risk set + event counts + "
    "censor counts over one events scan each)",
    "q_max_concurrency": _R_MULTI_GRAIN + " (start/end boundary legs)",
    "q_max_concurrency_scaled": _R_MULTI_GRAIN + " (start/end boundary "
    "legs × day-carry split)",
    "q_events_funnel": _R_MULTI_GRAIN + " (one filtered, event-type-"
    "pushed-down scan per funnel step; the steps then as-of-join — each "
    "leg needs its own keyed sort anyway)",
    "q_events_retention": _R_MULTI_GRAIN + " (cohort leg + return leg)",
    "q_ivm_merge": _R_TWO_RELATIONS + " (base materialization + delta "
    "batch derived from the same events)",
    "q_join_asof_native": _R_MULTI_GRAIN + " (probe/build legs from one "
    "events table — a real deployment feeds two streams)",
    "q_join_interval": _R_MULTI_GRAIN,
    "q_join_range_binned": _R_MULTI_GRAIN,
    "q_join_stream_twin": _R_MULTI_GRAIN,
    "q_join_nullsafe": _R_TWO_RELATIONS,
    "q_join_bloom_prefilter": _R_SELF_AGG + " (bloom build side + probe "
    "side + verification leg)",
    "q_attribution_multitouch": _R_MULTI_GRAIN + " (conversion leg + "
    "touch leg)",
    "q_subquery_correlated": _R_TPCH_SPEC,
    "q_subquery_any_all": _R_TPCH_SPEC,
    "q_copurchase_pairs": "self-join CONTRACT: co-purchase pairs are "
    "lineitem ⋈ lineitem on order — two scans of the same fact is the "
    "operator's definition; at scale both sides share one shuffle key",
    "q_degree_dist": _R_MULTI_GRAIN + " (out-degree and in-degree legs "
    "key on different columns)",
    # set-ops / diff / upsert demos
    "q_set_union_all": _R_TWO_RELATIONS,
    "q_set_union_distinct": _R_TWO_RELATIONS,
    "q_set_intersect": _R_TWO_RELATIONS,
    "q_set_except": _R_TWO_RELATIONS,
    "q_set_intersect_all": _R_TWO_RELATIONS,
    "q_set_except_all": _R_TWO_RELATIONS,
    "q_table_diff": _R_TWO_RELATIONS,
    "q_merge_upsert": _R_TWO_RELATIONS,
    "q_dedup_exact": _R_TWO_RELATIONS + " (planted re-ingest batch)",
    "q_dedup_incremental": _R_TWO_RELATIONS + " (seen-corpus + arriving "
    "batch)",
    "q_domain_mix": _R_SELF_AGG + " (per-domain counts vs corpus total)",
    "q_dataset_card": _R_MULTI_GRAIN + " (overview stats + per-lang "
    "profile legs)",
    # documents/embeddings payload re-attach + quadratic contract rows
    "q_dedup_jaccard": "quadratic CONTRACT row (all-pairs shingle "
    "Jaccard): shingle-set legs + the pair join re-read the pruned text "
    "column; the registered scale twin (q_dedup_minhash_lsh) replaces "
    "all-pairs entirely",
    "q_dedup_ngram": "quadratic CONTRACT row — same posture as "
    "q_dedup_jaccard (scale twin q_dedup_ngram_prefix)",
    "q_dedup_substring": _R_MULTI_GRAIN + " (short-doc probe leg + "
    "container leg)",
    "q_dedup_containment": _R_MULTI_GRAIN,
    "q_dedup_apply": _R_SELF_AGG + " (keeper election re-applied to the "
    "full corpus)",
    "q_dedup_embedding": _R_REATTACH,
    "q_dedup_embedding_ann": _R_REATTACH,
    "q_hard_negatives": _R_REATTACH + " (broadcast query-batch leg + "
    "streamed candidate leg off the same table)",
    "q_ndcg": _R_REATTACH + " (same constant-panel shape as "
    "q_retrieval_metrics: TakeOrdered query-batch leg broadcasts "
    "against the candidate scan)",
    "q_rbo": _R_REATTACH + " (vec_id<8 panel leg broadcasts against "
    "the single scored candidate pass; both rankings come off one "
    "checkpointed frame)",
    "q_retrieval_metrics": _R_REATTACH + " (broadcast query-batch leg + "
    "streamed candidate leg off the same table)",
    "q_sim_cosine_topk": _R_REATTACH,
    "q_sim_mips": _R_REATTACH,
    "q_sim_threshold": _R_REATTACH,
    "q_sim_ann_lsh": _R_REATTACH,
    "q_sim_threshold_ann": _R_REATTACH,
    "q_sim_ivf_topk": _R_REATTACH + " (centroid seed leg + assignment "
    "leg + filtered probe leg + two re-attach legs — each a narrow "
    "pruned scan; at 100 TB centroids come from a sampled side table)",
    "q_sim_topk_incremental": _R_REATTACH + " (base top-k + delta "
    "re-rank legs over base/delta splits)",
    "q_knn_classify": _R_REATTACH,
    "q_mm_length_check": _R_MULTI_GRAIN + " (three independent "
    "consistency probes by contract)",
    "q_lang_id": _R_SELF_AGG + " (per-lang n-gram profile built from "
    "the same corpus it scores — a deployment ships a static profile)",
    "q_naive_bayes": _R_SELF_AGG + " (class priors + token likelihoods "
    "+ scoring leg)",
    "q_bigram_logprob": _R_SELF_AGG + " (LM counts + scoring pass)",
    "q_count_min": _R_SELF_AGG + " (sketch build + exact comparison "
    "leg by contract)",
    "q_tfidf_topterms": _R_SELF_AGG + " (DF stats + TF scoring pass)",
    "q_bm25_topterms": _R_SELF_AGG + " (DF/avgdl stats + TF scoring "
    "pass + doc-length leg)",
    "q_rank_fusion": _R_MULTI_GRAIN + " (three retrieval legs fused by "
    "contract)",
    "q_cross_lingual_contamination": _R_SELF_AGG,
    "q_decontaminate": _R_TWO_RELATIONS + " (corpus + eval-set shingle "
    "legs derived from one table in the demo)",
    "q_eval_leakage": _R_TWO_RELATIONS,
    "q_pipeline_e2e": _R_MULTI_GRAIN + " (the composed pipeline's "
    "stage taps: dedup + quality + pack legs)",
    "q_alloc_largest_remainder": _R_SELF_AGG + " (per-lang counts vs "
    "corpus total + allocation re-join)",
    "q_stratified_neyman": _R_SELF_AGG + " (per-stratum variance stats "
    "+ allocation re-join)",
    "q_sink_bucketed": "write-path demo: the two bucketed table writes "
    "then re-read their own outputs (the <unknown> scan is the "
    "spark-warehouse table) — the round-trip IS the contract",
}
ALLOW_CARTESIAN: dict[str, str] = {}


def _top_level_groups(s: str) -> list[str]:
    """Split the [...] groups appearing at bracket depth 0 of s."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(s[start + 1 : i])
                start = None
    return groups


def _paren_args(s: str, start: int) -> list[str]:
    """Split the top-level comma args of the (...) group opening at
    ``start`` (s[start] == '(')."""
    args, depth, buf = [], 0, []
    for ch in s[start:]:
        if ch == "(":
            depth += 1
            if depth == 1:
                continue
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
        if ch == "," and depth == 1:
            args.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        args.append("".join(buf).strip())
    return args


_ORDER_ARG = re.compile(r"\b(ASC|DESC) NULLS (FIRST|LAST)\b")

# Single-child pass-through operators a bounded frame flows up through
# between TakeOrderedAndProject and the Window that ranks it.
_PASSTHROUGH = (
    "Sort ",
    "Exchange",
    "Project",
    "Filter",
    "ColumnarToRow",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "ResultQueryStage",
    "InputAdapter",
    "CollectLimit",
    "LocalLimit",
    "GlobalLimit",
)


def _line_parts(line: str) -> tuple[int, str]:
    """(tree depth as prefix length, operator body) for one plan line —
    strips the `+- :  ` tree art and any `*(n) ` codegen marker."""
    i = 0
    while i < len(line) and line[i] in " +-:":
        i += 1
    return i, re.sub(r"^\*\(\d+\) ", "", line[i:])


def _fed_by_topk(lines: list[str], i: int, depth: int) -> bool:
    """True iff the Window at ``lines[i]`` is fed by a
    TakeOrderedAndProject through single-child pass-through operators —
    i.e. the global sort ranks a frame already bounded to the top-k
    (the `orderBy().limit(k)` + rank-the-prefix house idiom): a benign
    global window, however large the table underneath."""
    for j in range(i + 1, len(lines)):
        dj, bj = _line_parts(lines[j])
        if dj <= depth:
            return False
        if bj.startswith("TakeOrderedAndProject"):
            return True
        if not bj.startswith(_PASSTHROUGH):
            return False
    return False


def _window_findings(plan: str) -> list[str]:
    """Window-family operator lines with an empty partition spec whose
    input is not already top-k-bounded.

    Bracket-group counting is unreliable here:
    WindowGroupLimit prints  [partSpec], [orderSpec], fn, k, mode  —
    2 groups even when partitioned — and a partitioned-but-unordered
    Window prints  [fns], [partSpec]  — also 2 groups. Instead, parse
    each ``windowspecdefinition(part..., order... ASC/DESC NULLS ...,
    specifiedwindowframe(...))`` on Window lines: partition columns are
    the leading args WITHOUT an ASC/DESC NULLS suffix; a spec whose
    every non-frame arg is an order column is a global window. For
    WindowGroupLimit the FIRST bracket group IS the partition spec —
    flag only when it is empty. Global windows directly downstream of a
    TakeOrderedAndProject are exempt (see :func:`_fed_by_topk`).
    """
    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        depth, body = _line_parts(line)
        if body.startswith("WindowGroupLimit "):
            # Partitioned WGL prints [partSpec], [orderSpec], …; but
            # TreeNode.argString OMITS empty Seqs, so a GLOBAL WGL
            # prints its ORDER spec as the first bracket group, so an
            # empty-first-group check alone never fires. Global iff the
            # first group is missing, empty, or is itself an order spec
            # (args carry ASC/DESC NULLS).
            groups = _top_level_groups(body)
            if (
                not groups
                or not groups[0].strip()
                or _ORDER_ARG.search(groups[0])
            ):
                out.append(body[:120])
        elif body.startswith("Window "):
            for m in re.finditer(r"windowspecdefinition\(", body):
                args = _paren_args(body, m.end() - 1)
                part_cols = [
                    a
                    for a in args
                    if not a.startswith("specifiedwindowframe(")
                    and not _ORDER_ARG.search(a)
                ]
                if not part_cols and not _fed_by_topk(lines, i, depth):
                    out.append(body[:120])
                    break
    return out


def _dup_scan_findings(plan: str) -> list[str]:
    """Tables whose parquet FileScan appears on >1 tree line."""
    counts: dict[str, int] = {}
    for line in plan.splitlines():
        if "FileScan parquet" not in line:
            continue
        m = re.search(r"([A-Za-z0-9_]+)\.parquet", line)
        key = m.group(1) if m else "<unknown>"
        counts[key] = counts.get(key, 0) + 1
    return [f"{t} x{n}" for t, n in sorted(counts.items()) if n > 1]


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Audit every registered query's physical plan."
    )
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.001",
        help="directory of the input tables' parquet files (default: %(default)s)",
    )
    ap.add_argument("--json", metavar="OUT", help="also write the report here")
    ap.add_argument(
        "--only", metavar="REGEX", help="audit only the matching names"
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    a = parse_args(argv)

    from modforms_db_spark.registry import get_registry
    from modforms_db_spark.session import get_spark

    spark = get_spark("plan-audit", long_lived=True)

    report, errors = audit(spark, a.sf_dir, a.only)
    for line in finding_lines(report, errors):
        print(line)
    total = sum(
        1 for n in get_registry() if a.only is None or re.search(a.only, n)
    )
    print(
        f"findings: {sum(len(v) for v in report.values())} across "
        f"{len(report)} of {total} queries; {len(errors)} errors ({a.sf_dir})"
    )
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"findings": report, "errors": errors}, fh, indent=1)
    spark.stop()
    return 1 if report or errors else 0


def audit(
    spark, sf_dir: str, only: str | None = None
) -> tuple[dict[str, dict[str, list[str]]], dict[str, str]]:
    """Build every registered query (or those whose name matches the
    ``only`` regex) in ``spark`` and check its executed plan.

    Returns ``(report, errors)``: name -> {check: findings} for each query
    with a finding that is not allowlisted, and name -> message for each
    builder that raised."""
    from modforms_db_spark.registry import get_registry

    report: dict[str, dict[str, list[str]]] = {}
    errors: dict[str, str] = {}
    for name, q in get_registry().items():
        if only is not None and not re.search(only, name):
            continue
        try:
            plan = (
                q.builder(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # noqa: BLE001 — audit must keep going
            errors[name] = f"{type(exc).__name__}: {exc}"
            continue
        findings: dict[str, list[str]] = {}
        if "CartesianProduct" in plan and name not in ALLOW_CARTESIAN:
            findings["cartesian"] = ["CartesianProduct in plan"]
        if "BatchEvalPython" in plan and name not in ALLOW_ROW_UDF:
            findings["row_udf"] = ["BatchEvalPython in plan"]
        if name not in ALLOW_GLOBAL_WINDOW:
            w = _window_findings(plan)
            if w:
                findings["global_window"] = w
        if name not in ALLOW_DUP_SCAN:
            d = _dup_scan_findings(plan)
            if d:
                findings["dup_scan"] = d
        if findings:
            report[name] = findings
    return report, errors


def finding_lines(
    report: dict[str, dict[str, list[str]]], errors: dict[str, str]
) -> list[str]:
    """One printable line per finding and per builder error."""
    lines = [
        f"{kind.upper():14s} {name}: {it}"
        for name, f in sorted(report.items())
        for kind, items in f.items()
        for it in items
    ]
    lines += [f"{'ERROR':14s} {name}: {e[:160]}" for name, e in sorted(errors.items())]
    return lines


if __name__ == "__main__":
    sys.exit(main())
