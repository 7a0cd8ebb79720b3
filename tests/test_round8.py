"""Round-8 behavior contracts.

Pins the session's three load-bearing claims beyond the generic suites:
the completed star-forest fixpoint test (both conditions), the
`assume_distinct` fast path's equivalence, and the rep-graph/expanded-
graph label invariance that `q_dedup_fuzzy_apply`'s r8 restructuring
rests on (component min-labels are unchanged by expanding canonical
groups back to members).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_DIR


def test_star_forest_needs_both_conditions(spark, monkeypatch):
    """{(0,2),(1,2)} has no chain (no small endpoint reappears on the
    big side) yet is NOT converged — small-star at 2 must still rewire
    1 to 0. The r8 session's first fixpoint cut checked only the chain
    condition and stopped here with node 2 carrying two labels; pin the
    counterexample permanently (hypothesis found it; examples rotate).
    Budget 0 keeps the star rounds on the cluster, where the fixpoint
    test lives."""
    from modforms_db_spark import session
    from modforms_db_spark.llm.dedup import connected_components

    monkeypatch.setattr(session, "driver_row_budget", lambda *a: 0)
    df = spark.createDataFrame([(0, 2), (1, 2)], "d1 long, d2 long")
    labels, rounds = connected_components(df)
    got = {(r.doc_id, r.component) for r in labels.collect()}
    assert got == {(0, 0), (1, 0), (2, 0)}, got
    assert rounds >= 1, "must run at least one rewiring round"


def test_connected_components_assume_distinct_equivalent(spark):
    """The `assume_distinct` fast path (skips the canonicalization
    distinct) must produce identical labels when the promise holds —
    and duplicates only PAD rounds, never change labels, so feeding the
    same unique edge list through both paths is the exact contract."""
    from modforms_db_spark.llm.dedup import connected_components

    edges = [(1, 5), (5, 9), (2, 9), (30, 40), (41, 40), (7, 7)]
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    base, _ = connected_components(df)
    fast, _ = connected_components(df.distinct(), assume_distinct=True)
    assert {tuple(r) for r in base.collect()} == {
        tuple(r) for r in fast.collect()
    }


def test_fuzzy_apply_rep_graph_labels_match_expanded_graph(spark):
    """The r8 restructuring claim, checked directly at SF_DIR: running
    components over the member-EXPANDED pair set (r7 shape, via
    q_dedup_minhash_lsh) and mapping rep-graph components through the
    group table (r8 shape) give the SAME (doc_id, component) labels for
    every doc in a multi-member or paired group — rep = min(member), so
    min-labels are invariant under expansion."""
    from modforms_db_spark.llm.dedup import (
        _lsh_groups_rep_pairs,
        connected_components,
        q_dedup_minhash_lsh,
    )

    expanded = q_dedup_minhash_lsh(spark, SF_DIR).select("d1", "d2")
    old_labels, _ = connected_components(expanded)
    old = {(r.doc_id, r.component) for r in old_labels.collect()}

    groups, rep_pairs = _lsh_groups_rep_pairs(spark, SF_DIR)
    rep_labels, _ = connected_components(
        rep_pairs.select(F.col("r1").alias("d1"), F.col("r2").alias("d2")),
        assume_distinct=True,
    )
    member_rep = groups.select(
        F.explode("members").alias("doc_id"), F.col("rep"), F.size("members").alias("gsz")
    )
    new_frame = (
        member_rep.join(
            rep_labels.withColumnRenamed("doc_id", "rep"), "rep", "left"
        )
        .withColumn("component", F.coalesce("component", "rep"))
    )
    # The expanded graph only contains docs with >= 1 pair edge: members
    # of size->=2 groups or of rep-paired groups. Restrict to those.
    paired_reps = {
        r.rep
        for r in rep_labels.select(F.col("doc_id").alias("rep")).collect()
    }
    new = {
        (r.doc_id, r.component)
        for r in new_frame.collect()
        if r.gsz >= 2 or r.rep in paired_reps
    }
    assert new == old, (len(new), len(old))
