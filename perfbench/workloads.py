"""Workload definitions: which registered queries one pass runs, in what
order, at what input scale, and what happens at the start of each pass.
Why each workload exists is recorded in BENCHMARK.json."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    sf: str  # base-data scale under perfbench/data
    shuffle: bool  # seed shuffles the op order within each pass
    clear_caches: bool  # drop the LSH and k-means session caches per pass
    # Seconds of the run's --seconds budget one timed pass stands for. A
    # run makes max(1, round(seconds / pass_s)) timed passes, so every run
    # of a given length does the same work and yields the same sample count.
    pass_s: float

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="relational_warm",
            ops=(
                # one headline read per operator module
                "q_scan_pushdown", "q_join_sortmerge", "q_agg_flagship",
                "q_tpch_q5", "q_win_topk_pergroup", "q_cdc_apply",
                "q_array_explode", "q_win_tumbling",
                # write side: one partitioned sink and one streaming upsert
                "q_sink_partition_overwrite", "q_stream_upsert",
            ),
            sf="sf0.01",
            shuffle=True,
            clear_caches=False,
            pass_s=2.5,
        ),
        Workload(
            name="llm_curation_cold",
            ops=(
                "q_dedup_minhash_lsh", "q_dedup_fuzzy_apply", "q_dedup_semantic",
                "q_cluster_kmeans", "q_text_stats", "q_repetition_filter",
            ),
            sf="sf0.01",
            shuffle=False,
            clear_caches=True,
            # one pass in a 10 s run: the cold index builds make the first
            # pass about 30 s, and a second timed pass would not fit the
            # benchmark's time budget
            pass_s=12.0,
        ),
    )
}
