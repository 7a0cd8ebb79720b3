"""Round-9 behavior contracts.

Pins the k-means rewrite beyond the generic suites: assignment is a
broadcast-only projection (the vector side never shuffles) and the
packed argmin is equivalent to the k-row `kmeans_assign` API.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_DIR


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


def test_kmeans_packed_assign_matches_krow_api(spark):
    """`kmeans_assign` (k-row centroid frame, the public API the IVF
    family and tests use) and `_kmeans_assign_packed` (the fit loop's
    1-row form) are the same function by construction — pin it, so a
    future edit to one can't silently drift the other."""
    from modforms_db_spark.llm.similarity import (
        _emb,
        _kmeans_assign_packed,
        _pack_centroids,
        kmeans_assign,
    )
    from pyspark.sql import Window

    qv = _emb(spark, SF_DIR).select(
        "vec_id",
        F.transform(
            "emb", lambda x: F.round(x.cast("double") * 1000, 0).cast("bigint")
        ).alias("qe"),
    )
    cents = (
        qv.orderBy("vec_id")
        .limit(3)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("cluster"),
            F.col("qe").alias("c_qe"),
        )
    )
    a = sorted(
        map(tuple, kmeans_assign(qv, cents).select("vec_id", "cluster", "d2q6").collect())
    )
    b = sorted(
        map(
            tuple,
            _kmeans_assign_packed(qv, _pack_centroids(cents))
            .select("vec_id", "cluster", "d2q6")
            .collect(),
        )
    )
    assert a == b
