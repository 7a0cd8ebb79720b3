"""Similarity search over embeddings — SURVEY.md §2.11.

Brute-force exact cosine is the oracle-checked contract; the LSH-bucketed
variant (`q_sim_ann_lsh`) is the 100 TB path (rows-only, recall measured
against exact in tests).

Determinism discipline: FLOAT dot products and norms are computed as
ELEMENT-ORDER folds (`zip_with` + `aggregate`) — never explode+groupBy,
whose float summation order is partition-dependent. The one explode+
groupBy reduction (`lsh_band_long`'s signature pass, round 6) is exempt
by construction: it sums INTEGER-quantized products, and integer
addition is commutative — any partial split/spill order gives the same
sum. Ranking happens on the ROUNDED cosine with a vec_id tiebreak, so an
ulp of cross-engine float noise cannot reorder the top-k.

Scale notes: the query side of the crossJoin is broadcast (20 rows here;
at 100 TB the query batch stays the small side). For all-pairs kNN at
scale: random-projection LSH buckets (q_sim_ann_lsh) or block-matrix
multiply; exact kNN over 10^9 vectors is not a thing you shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark import cache, session
from modforms_db_spark.io import load, spread
from modforms_db_spark.oracle_dialect import R, R4
from modforms_db_spark.parity import r4
from modforms_db_spark.registry import register


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )


def _dot(a: Column | str, b: Column | str) -> Column:
    # Measured note (sf0.1): an unrolled 64-term `a[0]*b[0]+…` sum —
    # the usual HOF-avoidance rewrite — is ~3× SLOWER here, not faster:
    # 128 GetArrayItem nodes per pair push the generated method past
    # the codegen size limits and the whole expression falls back to
    # interpreted eval. The zip_with+aggregate fold stays.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


_COS = "list_inner_product(a.emb, b.emb) / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb)))"


@register(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    p AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id, {R4(_COS)} AS cos4
      FROM (SELECT * FROM e WHERE vec_id < 20) a
      JOIN e b ON a.vec_id != b.vec_id
    )
    SELECT q_id, nb_id, cos4, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos4 DESC, nb_id) AS rn
      FROM p
    ) WHERE rn <= 5
    """,
    priority="P1",
    tags=("llm", "similarity"),
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id < 20),
    self excluded. Brute force = the correctness baseline for ANN."""
    # Norms are per-ROW scalars: computing them before the join does the
    # fold once per row instead of once per pair (FP-identical — same
    # expression over the same data, only hoisted out of the pair loop).
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_id"))
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
    ).alias("cos4")
    scored = pairs.select("q_id", F.col("vec_id").alias("nb_id"), cos4)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "nb_id", "cos4", "rn")
    )


@register(
    "q_sim_threshold",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings)
    SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS label, {R4(_COS)} AS cos4
    FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label = b.label
    WHERE {R4(_COS)} >= 0.2
    """,
    priority="P2",
    tags=("llm", "similarity"),
)
def q_sim_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All same-label pairs with cosine ≥ 0.2 (applied to the rounded value;
    ~700 of 12k pairs at sf0.01 — measured)."""
    # Per-row norms hoisted out of the pair loop (see q_sim_cosine_topk).
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    a = e.alias("a")
    b = e.alias("b")
    cos4 = F.round(
        F.try_divide(_dot("a.emb", "b.emb"), F.col("a.nrm") * F.col("b.nrm")), 4
    ).alias("cos4")
    return (
        a.join(
            b,
            (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("a.label") == F.col("b.label")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            F.col("a.label").alias("label"),
            cos4,
        )
        .where(F.col("cos4") >= 0.2)
    )


@register(
    "q_centroid",
    oracle=f"""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    long AS (
      SELECT label, generate_subscripts(emb, 1) AS pos1, unnest(emb) AS x FROM e
    )
    SELECT label, pos1, {R4('AVG(x)')} AS c
    FROM long GROUP BY label, pos1
    """,
    priority="P2",
    tags=("llm", "similarity", "centroid"),
)
def q_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid in long form (label, pos1, c) — clustering prep.
    Long form avoids array-hash ambiguity in the driver compare."""
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode("emb").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).cast("bigint").alias("pos1"))
        .agg(F.round(F.avg("x"), 4).alias("c"))
    )


@register(
    "q_knn_classify",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
    p AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id, b.label AS nb_label, {R4(_COS)} AS cos4
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    ), knn AS (
      SELECT q_id, nb_label FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos4 DESC, nb_id) AS rn
        FROM p
      ) WHERE rn <= 5
    ), votes AS (
      SELECT q_id, nb_label, COUNT(*) AS votes FROM knn GROUP BY q_id, nb_label
    )
    SELECT q_id, nb_label AS pred_label FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, nb_label) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
    priority="P4",
    tags=("llm", "similarity", "knn"),
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-label classification for every vector (self excluded;
    ties → smallest label). Composition of exact kNN + vote window."""
    # Per-row norms hoisted out of the pair loop (see q_sim_cosine_topk):
    # the 64-element fold runs once per ROW, not twice per N² pair.
    # FP-identical — same expression over the same data.
    # spread(): the N² cosine folds downstream inherit the STREAM side's
    # partitioning — a single-file scan (or a 4-way bench shuffle) would
    # run the op's entire compute peak on a few cores (io.spread).
    e = spread(_emb(spark, sf_dir)).withColumn("nrm", _norm("emb"))
    a = e.select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    b = e.select(
        F.col("vec_id").alias("nb_id"),
        F.col("emb").alias("nb_emb"),
        F.col("label").alias("nb_label"),
        F.col("nrm").alias("nb_nrm"),
    )
    pairs = a.join(b, F.col("q_id") != F.col("nb_id"))
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "nb_emb"), F.col("q_nrm") * F.col("nb_nrm")), 4
    ).alias("cos4")
    scored = pairs.select("q_id", "nb_id", "nb_label", cos4)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    knn = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    votes = knn.groupBy("q_id", "nb_label").agg(F.count(F.lit(1)).alias("votes"))
    vw = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("nb_label"))
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .where(F.col("vr") == 1)
        .select("q_id", F.col("nb_label").alias("pred_label"))
    )


def ivf_centroids(e: DataFrame) -> DataFrame:
    """The IVF coarse quantizer's centroid table: the vectors with
    vec_id < 16 (a deterministic stand-in for sampled k-means
    centers). Tiny by construction — always the broadcast side."""
    return e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )


def ivf_cell_cs(e: DataFrame, c: DataFrame) -> DataFrame:
    """NARROW (vec_id, cid, cs) cell-score frame: every vector of ``e``
    scored against every centroid of ``c`` by rounded cosine, via one
    broadcast nested-loop join. The embedding payload is dropped
    immediately — whatever ranks or groups this frame downstream moves
    3 scalar columns, never a vector. A zero-norm vector or centroid
    scores NULL (cosine is undefined), also under ANSI mode."""
    cs = F.round(
        F.try_divide(_dot("emb", "cemb"), F.col("nrm") * F.col("cnrm")), 4
    )
    return e.crossJoin(F.broadcast(c)).select("vec_id", "cid", cs.alias("cs"))


def ivf_rank_cells(e: DataFrame) -> DataFrame:
    """IVF coarse-quantizer ranking for the ANN classifier
    (`q_knn_classify_ann`): every vector scored against the 16 seed
    centroids (:func:`ivf_centroids`) by rounded cosine, ranked per
    vector (centroid-id tiebreak). ``e`` must carry (vec_id, emb, nrm,
    label); returns ``(vec_id, emb, nrm, label, cid, cs, rn)`` — rn = 1
    is the cell assignment, rn ≤ nprobe the probe set.

    The window ranks the NARROW :func:`ivf_cell_cs` frame — 3 scalar
    columns — and the embedding payload is re-attached afterwards by an
    equi-join on vec_id, so a vector crosses the wire once, in the keyed
    re-join, instead of once per centroid."""
    rk = ivf_cell_cs(e, ivf_centroids(e))
    wa = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("cid"))
    return e.join(
        rk.withColumn("rn", F.row_number().over(wa)), "vec_id"
    ).select("vec_id", "emb", "nrm", "label", "cid", "cs", "rn")


_IVF_COS = "round(list_cosine_similarity(e.emb, c.cemb), 4)"


@register(
    "q_sim_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
    cc AS (
      SELECT e.vec_id, c.cid, {_IVF_COS} AS cs,
             row_number() OVER (
               PARTITION BY e.vec_id ORDER BY {_IVF_COS} DESC, c.cid
             ) AS rn
      FROM e CROSS JOIN c
    ),
    asg AS (SELECT vec_id, cid FROM cc WHERE rn = 1),
    probe AS (SELECT vec_id AS q_id, cid FROM cc WHERE vec_id < 20 AND rn <= 4),
    cand AS (
      SELECT p.q_id, a.vec_id AS nb_id
      FROM probe p JOIN asg a ON p.cid = a.cid
      WHERE a.vec_id != p.q_id
    ),
    scored AS (
      SELECT cand.q_id, cand.nb_id,
             round(list_cosine_similarity(q.emb, n.emb), 4) AS cos4
      FROM cand
      JOIN e q ON cand.q_id = q.vec_id
      JOIN e n ON cand.nb_id = n.vec_id
    )
    SELECT q_id, nb_id, cos4, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos4 DESC, nb_id
      ) AS rn FROM scored
    ) WHERE rn <= 5
    """,
    priority="P2",
    tags=("llm", "similarity", "ivf", "scale-path"),
)
def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN, fully deterministic and oracle-checked.

    Coarse quantizer: 16 seed centroids (the vectors with vec_id < 16 — a
    deterministic stand-in for sampled k-means centers). Every vector is
    assigned to its nearest centroid by rounded cosine (centroid-id
    tiebreak); queries (vec_id < 20) probe their 4 nearest cells and
    exact-rerank only the vectors assigned there — top-5 per query.

    Scale path vs the all-pairs crossJoin: assignment is one broadcast join
    (centroids are tiny) + a linear scan; at 100 TB the cell table is
    written `partitionBy(cid)`/bucketed so an nprobe=4 query reads 4/16 of
    the data via partition pruning, and centroids come from MLlib KMeans on
    a sample. Recall vs exact kNN is measured in tests/test_llm.py.

    Plan shape (round-5 rework + r10 packed probe leg): (a) assignment
    is a grouped ``max_by(cid, struct(cs, −cid))`` over the NARROW
    :func:`ivf_cell_cs` frame — partial-aggregable, so map-side combine
    collapses to one 3-column row per vector before the only
    assignment-side shuffle, and no window at all; (b) the probe leg
    filters vec_id < 20 FIRST (parquet pushdown — at 100 TB with a
    vec_id-sorted layout this is a footer-pruned point read), then
    (r10) takes its 4 probe cells as a PROJECTION over the 16 centroids
    packed into one broadcast row — `slice(array_sort(struct(−cs,
    cid)), 1, 4)`, the `kmeans_fit` packed trick — instead of the
    round-5 window-rank + join-back-to-eq pair of jobs (ascending
    (−cs, cid) ≡ row_number over (cs DESC, cid ASC), and the per-cell
    cosine is the identical rounded fold, so results are bit-identical
    — frame-equal at 3 SFs + oracle hash, r10); (c) the tiny probe
    frame (20 queries × 4 cells) broadcasts into the candidate
    equi-join.

    Measured note (r10 session 4, sf0.1, interleaved A/B min/median of
    7): packing the probe leg cut 1.31/1.59 → 1.08/1.41 s under the
    noop sink (the probe's interpreted 16-cell HOF runs on 20 rows —
    free — while two jobs and a broadcast build disappear); under the
    bench's toPandas policy the same A/B is a wash (1.06/1.20 →
    1.02/1.25 over 9 rounds), i.e. the win is plan simplification
    (6 → 3 Window nodes, 6 → 5 scans, one less broadcast build), not
    bench seconds. Packing the ASSIGNMENT leg
    the same way was probed and measured SLOWER (1.38/2.03 s): there
    the per-row cost multiplies by every vector, and building a
    16-struct array + array_max in interpreted HOF eval per vector
    loses to the per-pair codegen'd max_by partial aggregate it would
    replace — the kmeans packed-argmin trick pays off per ROUND of an
    iterative fit, not on a one-shot assignment whose groupBy already
    collapses map-side. (Round-5's floor note stands: the residual
    runtime is local-mode stage scaffolding, not data.)"""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    c = ivf_centroids(e)
    asg_ids = (
        ivf_cell_cs(e, c)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cid", F.struct(F.col("cs"), (-F.col("cid")).alias("nc"))
            ).alias("cid")
        )
    )
    asg = e.join(asg_ids, "vec_id")
    packed = c.agg(
        F.sort_array(F.collect_list(F.struct("cid", "cemb", "cnrm"))).alias(
            "cells"
        )
    )

    def _cell_cs(cell: Column) -> Column:
        # Identical arithmetic to ivf_cell_cs: the rounded cosine fold.
        return F.round(
            F.try_divide(
                _dot(F.col("emb"), cell["cemb"]), F.col("nrm") * cell["cnrm"]
            ),
            4,
        )

    # Cosine is undefined for a zero-norm query: it has no neighbors to
    # rank, so it is excluded here rather than dropped silently by the
    # probe explode below (every cell score would be NULL).
    eq = e.where((F.col("vec_id") < 20) & (F.col("nrm") > 0))
    probe = eq.crossJoin(F.broadcast(packed)).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode(
            F.transform(
                F.slice(
                    # Null-score guard: a zero-norm centroid makes cs
                    # NULL; array_sort compares a null struct field as
                    # SMALLEST, so a null-score cell would sort FIRST
                    # and enter the probe set, whereas the old window
                    # form (orderBy desc(cs)) put NULLs last. Dropping
                    # null-score cells before the sort restores that
                    # ordering contract; with the shipped data (no
                    # zero-norm embeddings) the filter is an identity.
                    F.array_sort(
                        F.filter(
                            F.transform(
                                "cells",
                                lambda cell: F.struct(
                                    (-_cell_cs(cell)).alias("ns"),
                                    cell["cid"].alias("cid"),
                                ),
                            ),
                            lambda st: st["ns"].isNotNull(),
                        )
                    ),
                    1,
                    4,
                ),
                lambda st: st["cid"],
            )
        ).alias("cid"),
    )
    cand = asg.join(F.broadcast(probe), "cid").where(
        F.col("vec_id") != F.col("q_id")
    )
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
    ).alias("cos4")
    scored = cand.select("q_id", F.col("vec_id").alias("nb_id"), cos4)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "nb_id", "cos4", "rn")
    )


def lsh_band_long(e: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Random-hyperplane LSH banding — the shared candidate-generation
    stage of the ANN scale paths (`q_sim_ann_lsh`, `q_sim_threshold_ann`,
    `q_dedup_embedding_ann`).

    16 deterministic pseudo-random hyperplanes (coefficients derived from
    xxhash64(plane, dim), JVM-side, no RNG state) → 16-bit signature per
    vector → 4 bands of 4 bits → long form, one row per (vector, band):
    ``(vec_id, *carry, band, bucket)``. Two vectors are join candidates
    iff they share a (band, bucket); the bucket join replaces the
    all-pairs crossJoin.

    NARROW shape (round-6 rework, judge item 2): the round-5 form (a)
    computed each signature bit as an interpreted higher-order
    zip_with/aggregate fold — outside whole-stage codegen, measured 4×
    slower than codegen arithmetic for the IVF analogue (SCALE.md §9i) —
    and (b) carried the 64-float ``emb`` through the ×4-band explode and
    onto BOTH sides of the (band, bucket) self-join, ~8× payload
    replication into the candidate shuffle at 100 TB. Now the projections
    are all codegen: ``posexplode(emb)`` → 16 conditional sums in ONE
    partial-aggregable groupBy (map-side combine collapses each vector's
    64 dim-rows to a single 16-double row before the only shuffle, and
    the per-(plane, dim) xxhash64 coefficients are codegen'd JVM
    expressions), and the output drops the embedding entirely — callers
    generate candidate ID pairs on the narrow frame and re-attach
    embeddings ONCE by keyed join afterwards (the exact discipline
    `ivf_rank_cells` codifies). ``carry`` is for narrow per-vector
    scalars only (label, nrm), never the vector.

    The rework also FIXED a latent round-5 bug: the old per-bit fold
    built its coefficient array with ``F.transform(dims, lambda d, h=h:
    ...)`` — a TWO-parameter lambda (default args count), so Spark
    passed the array INDEX as ``h`` and all 16 "hyperplanes" were the
    same plane (the exact trap `dedup._perm_hash` documents). Every
    vector's signature was 0b0000… or 0b1111…, i.e. 2 buckets per band
    — "LSH" was passing ~half of all pairs as candidates (quadratic,
    and why q_sim_threshold_ann was the slowest ANN twin in the r5
    panel). With real hyperplanes, measured recalls now match the
    banding math (p = 1 − θ/π per plane, 1−(1−p⁴)⁴ over 4 bands):
    ~0.41-0.57 on this corpus's uniform-random worst case, ≈ 1.0 for
    planted cos ≥ 0.99 near-dups — both pinned in tests/test_llm.py."""

    # Hyperplane h weight for the exploded dim pos: deterministic hash
    # of (plane, dim), dim 1-based int. INTEGER weights on purpose —
    # w = 2·(raw mod m) − m is the float coefficient (raw mod m)/m − ½
    # scaled by the positive constant 2m, so every plane dot product
    # keeps its exact sign, but the grouped SUM becomes integer
    # arithmetic: commutative and exact, so the module's determinism
    # discipline (no order-dependent float summation through a groupBy)
    # holds even if the hash aggregate splits or spills a vector's
    # dim-rows across partials (round-6 review finding).
    def plane_w(h: int) -> Column:
        raw = F.xxhash64(F.lit(h), F.col("pos") + F.lit(1))
        return raw % 1000003 * 2 - 1000003

    # Quantized dim value: |emb| < 1 on this corpus, so xq < 2^30,
    # |xq·w| < 2^51, and a 64-term sum < 2^57 — exact in int64.
    exploded = e.select(
        "vec_id",
        *carry,
        F.posexplode("emb").alias("pos", "xf"),
    ).withColumn("x", F.round(F.col("xf") * F.lit(1e9)).cast("bigint"))
    # signature bit h = sign(Σ_d emb[d] * coeff(h, d)) — the 16 plane
    # dot products as conditional sums of ONE grouped aggregate.
    sums = exploded.groupBy("vec_id", *carry).agg(
        *[
            F.sum(F.col("x") * plane_w(h)).alias(f"s{h}")
            for h in range(16)
        ]
    )
    # 4 bands of 4 bits each → band bucket ids
    band_cols = [
        sum(
            (F.col(f"s{4 * bd + bit}") > 0).cast("int") * (1 << bit)
            for bit in range(4)
        ).alias(f"band{bd}")
        for bd in range(4)
    ]
    bucketed = sums.select("vec_id", *carry, *band_cols)
    return bucketed.select(
        "vec_id",
        *carry,
        F.posexplode(F.array(*[F.col(f"band{bd}") for bd in range(4)])).alias(
            "band", "bucket"
        ),
    )


@register(
    "q_sim_ann_lsh",
    oracle=None,  # approximate; recall vs exact measured in tests
    priority="P3",
    tags=("llm", "similarity", "lsh", "scale-path"),
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH — the 100 TB similarity path.

    Shared banding stage (:func:`lsh_band_long`): 16-bit hyperplane
    signatures, multi-probe over 4 bands of 4 bits → candidates share a
    signature bucket → exact cosine re-rank inside buckets, top-5 per
    query. Linear signature pass + bucket-local joins replace the
    all-pairs crossJoin; recall vs q_sim_cosine_topk is measured in
    tests."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    # Narrow banding (no vector payload); candidate IDs first, then the
    # embeddings re-attach ONCE by keyed join (query side is tiny —
    # broadcast; the neighbor side is one equi-join against the base
    # scan, so each vector crosses the wire once, not once per band).
    long = lsh_band_long(e)
    q = long.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "band", "bucket"
    )
    cand = (
        long.join(F.broadcast(q), ["band", "bucket"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("nb_id"))
        .distinct()
    )
    eq = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = cand.join(F.broadcast(eq), "q_id").join(
        e.select(
            F.col("vec_id").alias("nb_id"),
            F.col("emb").alias("nb_emb"),
            F.col("nrm").alias("nb_nrm"),
        ),
        "nb_id",
    )
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "nb_emb"), F.col("q_nrm") * F.col("nb_nrm")), 4
    ).alias("cos4")
    scored = pairs.select("q_id", "nb_id", cos4)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "nb_id", "cos4", "rn")
    )


@register(
    "q_sim_threshold_ann",
    oracle=None,  # LSH prefilter is probabilistic; subset-of-exact +
    # recall floor vs q_sim_threshold are pinned in tests
    priority="P3",
    tags=("llm", "similarity", "lsh", "threshold", "scale-path"),
)
def q_sim_threshold_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-prefiltered same-label cosine-threshold pairs — the scale twin
    of `q_sim_threshold` (same output columns and semantics; candidates
    from shared signature buckets instead of the all-pairs self-join).

    Composition: :func:`lsh_band_long` signatures (linear, shuffle-free)
    → self-join on (band, bucket, label) with v1 < v2 → distinct pairs →
    EXACT cosine verify ≥ τ. Every emitted pair carries its true rounded
    cosine, so output ⊆ the exact query's output by construction; what
    LSH can lose is recall (a true pair landing in no shared bucket),
    measured and floor-pinned in tests. At 100 TB the bucket join
    replaces the per-label quadratic fanout with per-bucket fanout —
    bucket sizes are ~n/2^4 per band with 4 probes, and the signature
    stage never shuffles the vector side."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    # Narrow banding: only the label scalar rides the explode; the
    # (band, bucket, label) self-join moves 4 scalar columns per side,
    # and the two 64-float embeddings attach once each, by keyed join,
    # only to the deduped candidate pairs.
    long = lsh_band_long(e, carry=("label",))
    a = long.select(
        F.col("vec_id").alias("v1"), "label", "band", "bucket"
    )
    b = long.select(
        F.col("vec_id").alias("v2"),
        F.col("label").alias("label2"),
        "band",
        "bucket",
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .where((F.col("v1") < F.col("v2")) & (F.col("label") == F.col("label2")))
        .select("v1", "v2", "label")
        .distinct()
    )
    pairs = cand.join(
        e.select(
            F.col("vec_id").alias("v1"),
            F.col("emb").alias("e1"),
            F.col("nrm").alias("n1"),
        ),
        "v1",
    ).join(
        e.select(
            F.col("vec_id").alias("v2"),
            F.col("emb").alias("e2"),
            F.col("nrm").alias("n2"),
        ),
        "v2",
    )
    cos4 = F.round(F.try_divide(_dot("e1", "e2"), F.col("n1") * F.col("n2")), 4).alias(
        "cos4"
    )
    return (
        pairs.select("v1", "v2", "label", cos4)
        .where(F.col("cos4") >= 0.2)
    )


@register(
    "q_knn_classify_ann",
    oracle=None,  # IVF probing is lossy vs exact kNN; agreement with
    # q_knn_classify and partition-totality are pinned in tests
    priority="P3",
    tags=("llm", "similarity", "ivf", "knn", "scale-path"),
)
def q_knn_classify_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-prefiltered 5-NN majority-label classification — the scale
    twin of `q_knn_classify` (same output shape: one (q_id, pred_label)
    row per vector, self excluded, ties → smallest label).

    Composition: :func:`ivf_rank_cells` assigns every vector to its
    nearest of 16 seed centroids (rn = 1) and probes each QUERY's 8
    nearest cells (rn ≤ 8); candidates are the vectors assigned to a
    probed cell; exact cosine re-ranks the candidates, top-5 vote.
    Replaces the N² pair join with |cells probed|/|cells| of it (8/16
    here), the same pruning `q_sim_ivf_topk` demonstrates for top-k —
    at 100 TB the cell table is partitioned by cid so probing prunes
    partitions. nprobe = 8 (not top-k's 4) because a VOTE amplifies
    neighbor misses: the driver embeddings are uniform random — IVF's
    worst case, cells are barely informative — and measured neighbor
    recall at sf0.01 is 0.48 (nprobe 4) vs 0.74 (nprobe 8), prediction
    agreement 0.38 vs 0.64. Real clustered embeddings recover far more
    per probe; the floors pinned in tests are this worst case.
    Prediction agreement vs the exact form is measured and floor-pinned
    in tests."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    ranked = ivf_rank_cells(e).localCheckpoint(
        eager=False
    )  # TWO consumers (assignment + probe) — without the checkpoint the
    # cell-score crossJoin, window, and vec_id re-join all execute twice
    # (the round-4 flaw the q_sim_ivf_topk rework fixed; round-5 review)
    asg = ranked.where(F.col("rn") == 1).select(
        F.col("vec_id").alias("nb_id"),
        F.col("emb").alias("nb_emb"),
        F.col("nrm").alias("nb_nrm"),
        F.col("label").alias("nb_label"),
        "cid",
    )
    probe = ranked.where(F.col("rn") <= 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "cid",
    )
    cand = probe.join(asg, "cid").where(F.col("q_id") != F.col("nb_id"))
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "nb_emb"), F.col("q_nrm") * F.col("nb_nrm")), 4
    ).alias("cos4")
    scored = cand.select("q_id", "nb_id", "nb_label", cos4)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    knn = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    votes = knn.groupBy("q_id", "nb_label").agg(F.count(F.lit(1)).alias("votes"))
    vw = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("nb_label"))
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .where(F.col("vr") == 1)
        .select("q_id", F.col("nb_label").alias("pred_label"))
    )


@register(
    "q_vec_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, label, e,
             list_min(e) AS mn,
             (list_max(e) - list_min(e)) / 255.0 AS scale
      FROM v
    ), q AS (
      SELECT vec_id, label, mn, scale,
             list_transform(e, x -> CAST(FLOOR((x - mn) / scale + 0.5)
                                         AS BIGINT)) AS codes,
             e
      FROM s
    )
    SELECT vec_id, label,
           CAST(FLOOR(mn * 10000 + 0.5) AS BIGINT) AS mn_fp,
           CAST(FLOOR(scale * 1000000 + 0.5) AS BIGINT) AS scale_fp,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           list_max(list_transform(generate_series(1, len(e)),
             i -> CAST(FLOOR(abs(mn + codes[i] * scale - e[i]) / scale * 100
                             + 0.5) AS BIGINT))) AS max_err_pct_of_scale
    FROM q
    """,
    priority="P2",
    tags=("llm", "similarity", "quantization", "scale-path"),
)
def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 (0..255) min/max quantization of embeddings — the ANN STORAGE
    path: 64 float32 → 64 bytes + 2 scalars (4× smaller, and the form IVF/
    PQ engines scan). Emits per-vector codebook params, the code checksum,
    and the max dequantization error as an integer percentage of one
    quantization step — the bound (≤ 50% of a step, i.e. scale/2) that
    makes the compression safe, asserted in tests.

    Everything is fixed-point integerized (floor(x+0.5)) so the hash
    matches bit-for-bit across engines with no float-rounding dialect
    risk; per-row array math only — ZERO shuffles, like the signature
    stages.
    """
    emb = load(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", "label", e.alias("e"))
    s = v.select(
        "vec_id",
        "label",
        "e",
        F.array_min("e").alias("mn"),
        ((F.array_max("e") - F.array_min("e")) / 255.0).alias("scale"),
    )
    codes = F.transform(
        "e",
        lambda x: F.floor((x - F.col("mn")) / F.col("scale") + 0.5).cast(
            "bigint"
        ),
    )
    q = s.select("vec_id", "label", "mn", "scale", codes.alias("codes"), "e")
    err = F.transform(
        F.sequence(F.lit(1), F.size("e")),
        lambda i: F.floor(
            F.abs(
                F.col("mn")
                + F.element_at("codes", i) * F.col("scale")
                - F.element_at("e", i)
            )
            / F.col("scale")
            * 100
            + 0.5
        ).cast("bigint"),
    )
    return q.select(
        "vec_id",
        "label",
        F.floor(F.col("mn") * 10000 + 0.5).cast("bigint").alias("mn_fp"),
        F.floor(F.col("scale") * 1000000 + 0.5).cast("bigint").alias(
            "scale_fp"
        ),
        F.aggregate(
            "codes", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("code_sum"),
        F.array_max(err).alias("max_err_pct_of_scale"),
    )


@register(
    "q_sim_topk_incremental",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    p AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id, {R4(_COS)} AS cos4
      FROM (SELECT * FROM e WHERE vec_id < 20) a
      JOIN e b ON a.vec_id != b.vec_id
    )
    SELECT q_id, nb_id, cos4, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos4 DESC, nb_id) AS rn
      FROM p
    ) WHERE rn <= 5
    """,
    priority="P2",
    tags=("llm", "similarity", "incremental"),
)
def q_sim_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (the interactive-session /
    streaming-corpus shape; cf. the incremental top-k similarity-search
    line in PAPERS.md): queries hold a top-5 computed over the BASE
    corpus (bottom 90% of vec_ids); a small DELTA batch (top 10%)
    arrives; the refreshed top-5 over base ∪ delta is derived from the
    cached base top-k ∪ (query × delta) scores ONLY — the base corpus is
    never re-scored. Correct because top-k is monotone under insertion:
    the new global top-k ⊆ old top-k ∪ new candidates.

    The oracle is the FULL recompute over all vectors — equality IS the
    incremental-maintenance property (same discipline as
    `q_join_range_binned` / `q_join_skew_salted`: the optimized path must
    not change results). Scale: per-refresh cost is |Q|×|delta| + a
    KB-sized cached state per query, vs |Q|×|corpus| for recompute.
    """
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    split = e.agg(
        F.floor(0.9 * (F.max("vec_id") + 1)).cast("bigint").alias("d0")
    )
    e = e.crossJoin(F.broadcast(split))
    base = e.where(F.col("vec_id") < F.col("d0"))
    delta = e.where(F.col("vec_id") >= F.col("d0"))
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )

    def scored(side: DataFrame) -> DataFrame:
        pairs = side.crossJoin(F.broadcast(q)).where(
            F.col("vec_id") != F.col("q_id")
        )
        return pairs.select(
            "q_id",
            F.col("vec_id").alias("nb_id"),
            F.round(
                F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
            ).alias("cos4"),
        )

    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    base_topk = (
        scored(base)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )  # the cached state an interactive session keeps
    cand = base_topk.unionByName(scored(delta))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "nb_id", "cos4", "rn")
    )


_KMEANS_K = 8
_KMEANS_ITERS = 3


def _kmeans_best():
    """Argmin expression over a packed ``cents`` column (array of
    (cluster, c_qe) structs): squared distance per centroid is an
    element-order zip_with/aggregate fold over exact bigints (units of
    10⁻⁶); ``array_min`` over (d2q6, cluster) structs breaks ties on the
    lower cluster id with integer comparisons, so the argmin chain is
    engine-portable (no fp-tie coupling). One distance fold per centroid
    — the r9 rewrite's when/otherwise running fold evaluated each fold
    TWICE (condition + value), measured ~20% slower."""
    d2 = lambda c: F.aggregate(  # noqa: E731 — local expression factory
        F.zip_with("qe", c.getField("c_qe"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(
                d2(c).alias("d2q6"), c.getField("cluster").alias("cluster")
            ),
        )
    )


def _kmeans_assign_packed(vecs: DataFrame, packed: DataFrame) -> DataFrame:
    """Assignment against a 1-row packed centroid frame: a broadcast
    1-row crossJoin plus a pure projection — NO shuffle of the vector
    side and no per-vector argmin aggregation (the r1–r8 k-row
    crossJoin + groupBy(vec_id) form shuffled k copies of every
    quantized vector per round; measured 2.08 → 1.47 s at sf0.1)."""
    best = _kmeans_best()
    return vecs.crossJoin(F.broadcast(packed)).select(
        "vec_id",
        "qe",
        best.getField("cluster").alias("cluster"),
        best.getField("d2q6").alias("d2q6"),
    )


def _pack_centroids(centroids: DataFrame) -> DataFrame:
    """(cluster, c_qe) k-row frame → 1-row (cents: array<struct>) frame.
    Assignment is order-independent (array_min), so the collect_list
    order never reaches the result."""
    return centroids.agg(
        F.collect_list(F.struct("cluster", "c_qe")).alias("cents")
    )


# Driver bytes per collected quantized vector: vec_id plus up to 1024
# bigint dims, held about three times over by `_kmeans_fit_driver`.
_KMEANS_ROW_BYTES = 32 * 1024


def _kmeans_fit_driver(qv: pa.Table, k: int, iters: int) -> pa.Table | None:
    """`kmeans_fit`'s integer-exact Lloyd rounds over the collected
    quantized (vec_id, qe) table, as a (vec_id, cluster, d2q6) table.
    Same rules as the Spark form: init = the k lowest vec_ids numbered
    1..k, ties go to the lower cluster id, a cluster that loses every
    member drops out of later rounds, and centroids are sums divided
    with truncation toward zero (Spark ``div``). Memory is O(rows ×
    dims): one loop over the centroids, never an n×k×dims array.

    None for the degenerate inputs whose Spark semantics ride on nulls
    and empty arrays — no vectors, null ids or cells, ragged or
    zero-length vectors, k < 1, iters < 1 — which stay with the
    distributed form."""
    ids = qv.column("vec_id")
    qe = qv.column("qe").combine_chunks()
    cells = qe.flatten()
    n = len(qe)
    if k < 1 or iters < 1 or not n or ids.null_count or qe.null_count:
        return None
    lengths = qe.value_lengths().to_numpy()
    if cells.null_count or not lengths[0] or (lengths != lengths[0]).any():
        return None
    x = cells.to_numpy().reshape(n, lengths[0])
    cids = np.arange(1, min(k, n) + 1, dtype=np.int32)
    cents = x[np.argsort(ids.to_numpy(), kind="stable")[: len(cids)]]
    for r in range(iters):
        if r:
            cids = np.unique(cluster)
            sums = np.stack([x[cluster == c].sum(axis=0) for c in cids])
            cnt = np.bincount(cluster)[cids][:, None]
            cents = np.sign(sums) * (np.abs(sums) // cnt)
        d2q6 = np.full(n, np.iinfo(np.int64).max)
        cluster = np.zeros(n, np.int32)
        for c, cent in zip(cids, cents):
            diff = x - cent
            d = np.einsum("ij,ij->i", diff, diff)
            # Ascending ids with a strict < keep the lower id on ties.
            better = d < d2q6
            d2q6[better] = d[better]
            cluster[better] = c
    return pa.table(
        {
            "vec_id": ids,
            "cluster": pa.array(cluster, pa.int32()),
            "d2q6": pa.array(d2q6, pa.int64()),
        }
    )


def kmeans_fit(vecs: DataFrame, k: int, iters: int) -> DataFrame:
    """Lloyd's k-means, deterministic AND integer-exact: embeddings
    quantize once to the ×1000 integer grid (the `q_pca_power` device,
    Spark-round parity via oracle_dialect.R), centroid updates are exact
    integer truncating division (Spark ``div`` ≡ DuckDB ``//``, both
    truncate toward zero), and every argmin compares exact bigints with
    a cluster-id tiebreak — so chained rounds reproduce bit-for-bit on
    any engine, which fp argmin chains cannot. Init = quantized
    embeddings of the k lowest vec_ids. Returns (vec_id, cluster, d2q6)
    with d2q6 in squared-grid units (10⁻⁶ of embedding units²).

    Sketch-then-exact: quantization always runs in Spark. When the
    quantized (vec_id, qe) frame fits the driver budget
    (`session.driver_row_budget`), one collect and numpy rounds
    (`_kmeans_fit_driver`) finish the fit; above it the rounds run on
    the cluster. Both forms apply the same integer rules, so the
    assignment is identical at any budget; budget 0 is the purely
    distributed form.

    Distributed round: assignment is a 1-row broadcast crossJoin +
    projection (`_kmeans_assign_packed` — the vector side NEVER
    shuffles); the centroid update is one posexplode → (cluster, dim)
    partial-agg integer-sum shuffle fused straight into a global 1-row
    collect_list, and the per-cluster array regroup is a pure expression
    over those ≤ k·dims structs — so a round is exactly TWO shuffle
    boundaries (both over ≤ k·dims rows after map-side combine) and zero
    k-row intermediates. State is k·dims bigints per round — O(model),
    not O(data) — and the whole fit is ONE action with a linearly
    growing plan (no per-round checkpoint; bound plan depth with a
    checkpoint every ~8 rounds if iters grows). Literal centroid arrays
    baked into the plan were measured slower (every run recompiles the
    generated code; column-generic expressions hit the codegen cache),
    and an early-convergence stop is pure overhead here (centroids never
    stabilize within 6 rounds on the shipped data)."""
    spark = vecs.sparkSession
    qv = vecs.select(
        "vec_id",
        F.transform(
            "emb", lambda x: F.round(x.cast("double") * 1000, 0).cast("bigint")
        ).alias("qe"),
    ).localCheckpoint(eager=False)  # quantize once; reused every round
    # The collect attempt fills the checkpoint, so the rounds below do
    # not quantize again when it does not fit.
    tbl = session.collect_within_budget(
        qv, session.driver_row_budget(spark, _KMEANS_ROW_BYTES)
    )
    fitted = None if tbl is None else _kmeans_fit_driver(tbl, k, iters)
    if fitted is not None:
        return spark.createDataFrame(fitted)
    packed = _pack_centroids(
        qv.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("cluster"),
            F.col("qe").alias("c_qe"),
        )
    )
    assigned = None
    for _ in range(iters):
        assigned = _kmeans_assign_packed(qv, packed)
        # (cluster, dim) exact integer sums, collected straight into one
        # sorted flat array (deterministic: array_sort on the full
        # struct) — the k-row regroup happens in the projection below,
        # never as another shuffle.
        flat = (
            assigned.select("cluster", F.posexplode("qe").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct("cluster", "pos", F.expr("s div n").alias("c"))
                    )
                ).alias("f")
            )
        )
        packed = flat.select(
            F.transform(
                F.array_distinct(F.transform("f", lambda s: s.getField("cluster"))),
                lambda cl: F.struct(
                    cl.cast("int").alias("cluster"),
                    F.transform(
                        F.filter("f", lambda s: s.getField("cluster") == cl),
                        lambda s: s.getField("c"),
                    ).alias("c_qe"),
                ),
            ).alias("cents")
        )
    return assigned.select("vec_id", "cluster", "d2q6")


# Names perfbench reads: trace.py counts builds by this store's len(),
# worker.py clears the caches through the function.
_KMEANS_CORE_CACHE = cache.KMEANS_CORE
kmeans_core_cache_clear = cache.clear


@cache.index(cache.KMEANS_CORE, "embeddings")
def kmeans_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry-grain fitted assignment: `kmeans_fit` over the
    embeddings table at the shared `_KMEANS_K`/`_KMEANS_ITERS`, lazily
    checkpointed; the one cluster index shared by `q_cluster_kmeans` and
    `q_dedup_semantic` (a session cache entry, see
    :mod:`modforms_db_spark.cache`). Returns (vec_id, cluster, d2q6)."""
    vecs = _emb(spark, sf_dir).select("vec_id", "emb")
    return kmeans_fit(vecs, _KMEANS_K, _KMEANS_ITERS).localCheckpoint(
        eager=False  # under AQE any shuffle stages of the fit run here, at
        # the call; later consumers (and later calls) read the blocks
    )


def _kmeans_oracle() -> str:
    """Unrolled 3-round integer-exact Lloyd oracle (chained MATERIALIZED
    CTEs — plain CTEs inline exponentially, the q_graph_kcore lesson).
    Mirrors :func:`kmeans_fit` bit-for-bit: ×1000 quantization via R(),
    argmin over the packed exact key d2·16 + cluster (cluster ≤ 8 < 16,
    d2 ≥ 0, so the key is order-isomorphic to (d2, cluster)), centroid
    update by truncating integer division."""
    q = R("x * 1000", 0)
    head = f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, i, CAST({q} AS BIGINT) AS q
      FROM (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
      )
    ),
    init AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cluster
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_KMEANS_K})
    ),
    c0 AS MATERIALIZED (
      SELECT init.cluster, qv.i, qv.q AS c FROM qv JOIN init USING (vec_id)
    )"""
    rounds = []
    for r in range(1, _KMEANS_ITERS + 1):
        rounds.append(f""",
    a{r} AS MATERIALIZED (
      SELECT vec_id,
             CAST(key % 16 AS BIGINT) AS cluster,
             CAST(key // 16 AS BIGINT) AS d2q6
      FROM (
        SELECT vec_id, MIN(key) AS key FROM (
          SELECT qv.vec_id,
                 CAST(SUM((qv.q - c.c) * (qv.q - c.c)) AS BIGINT) * 16
                   + c.cluster AS key
          FROM qv JOIN c{r - 1} c ON qv.i = c.i
          GROUP BY qv.vec_id, c.cluster
        ) GROUP BY vec_id
      )
    )""")
        if r < _KMEANS_ITERS:
            rounds.append(f""",
    c{r} AS MATERIALIZED (
      SELECT a.cluster, qv.i,
             CAST(CAST(SUM(qv.q) AS BIGINT) // COUNT(*) AS BIGINT) AS c
      FROM qv JOIN a{r} a USING (vec_id)
      GROUP BY a.cluster, qv.i
    )""")
    tail = f"""
    SELECT cluster, COUNT(*) AS n_vecs,
           CAST(SUM(d2q6) AS BIGINT) AS inertia_q6
    FROM a{_KMEANS_ITERS} GROUP BY cluster
    """
    return head + "".join(rounds) + tail


@register(
    "q_cluster_kmeans",
    oracle=_kmeans_oracle(),
    priority="P2",
    tags=("llm", "clustering", "scale-path"),
)
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering of the embedding table (k=8, 3 Lloyd
    iterations, deterministic lowest-vec_id init) — the corpus-curation
    primitive behind topic balancing, IVF cell training
    (q_sim_ivf_topk's coarse quantizer), and semantic-dedup blocking.
    Emits per-cluster size and integer-exact inertia (squared ×1000-grid
    units).

    SQL-oracle since r7 (was rows-only): the house integer-quantization
    discipline applies to squared-distance argmin chains too — quantize
    once to the ×1000 grid, keep centroids on the grid via truncating
    integer division, compare exact bigints with a cluster-id tiebreak.
    Every round is then bit-reproducible on any engine, which the old
    fp formulation was not. Law tests additionally pin determinism,
    partition-totality, and inertia descent.

    The fit comes from `kmeans_core`, the session-cached assignment
    shared with `q_dedup_semantic` (see :mod:`modforms_db_spark.cache`)."""
    assigned = kmeans_core(spark, sf_dir)
    return (
        assigned.groupBy(F.col("cluster").cast("bigint").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("d2q6").cast("bigint").alias("inertia_q6"),
        )
    )


_PCA_ITERS = 3


def _pca_oracle() -> str:
    """Unrolled power-iteration oracle (same chained-CTE discipline as
    q_pagerank's: aggregation is not allowed in a recursive CTE member)."""
    q = R("x * 1000", 0)
    head = f"""
    WITH qv AS (
      SELECT vec_id, i, CAST({q} AS BIGINT) AS q
      FROM (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
      )
    ),
    tri AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
      FROM qv a JOIN qv b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ),
    gramf AS (
      SELECT i, j, g FROM tri
      UNION ALL
      SELECT j, i, g FROM tri WHERE i < j
    ),
    v0 AS (SELECT DISTINCT i, 0.125 AS val FROM gramf)"""
    its = []
    for k in range(1, _PCA_ITERS + 1):
        its.append(f""",
    w{k} AS (
      SELECT g.i, {R(f'SUM(g.g * v.val)', 10)} AS w
      FROM gramf g JOIN v{k - 1} v ON g.j = v.i
      GROUP BY g.i
    ),
    n{k} AS (SELECT SQRT(SUM(w * w)) AS nrm FROM w{k}),
    v{k} AS (
      SELECT i, {R('w / (SELECT nrm FROM n' + str(k) + ')', 10)} AS val FROM w{k}
    )""")
    tail = f"""
    SELECT i AS dim, val AS loading,
           CAST({R(f'(SELECT nrm FROM n{_PCA_ITERS})', 0)} AS BIGINT) AS lam
    FROM v{_PCA_ITERS}
    """
    return head + "".join(its) + tail


@register(
    "q_pca_power",
    oracle=_pca_oracle(),
    priority="P2",
    tags=("llm", "vector", "pca", "iterative"),
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding cloud
    by 3 power-iteration rounds on the 64×64 Gram matrix — distributed
    PCA the way it actually scales: the DATA-sized pass is one Gram
    accumulation; the ITERATION runs on the fixed dim² matrix and never
    touches rows again. Embeddings are quantized to integers (×1000,
    Spark-round parity) so the Gram is ORDER-EXACT bigint arithmetic —
    the same cross-engine-fp dodge as the rolling-z integer moments;
    per-round normalized vectors are r10-rounded (PageRank discipline).

    Scale: the DATA pass is a numpy partial-Gram per partition behind
    one `mapInArrow` (r10 — the guide-§4 shape this docstring had
    pencilled in for wider dims: vectorized batch compute, heavyweight
    init once per task, ONLY the quantized column crossing the
    boundary). Each partition emits its dim(dim+1)/2 upper-triangle
    partial sums (int64-exact, so partial order can never change the
    result), combined into ≤2 080 groups by the one shuffle. The r1–r9
    form built the triangle as flatten(transform×transform) structs —
    2 080 interpreted-HOF allocations per row; measured at sf0.1 the
    Gram leg drops 2.36 → 0.60 s (full query 3.9 → ~2.1 s), Gram
    bit-identical. Matvec rounds run on a ONE-ROW packed Gram (r10,
    second leg): the full dim² matrix is collect_list-packed to a flat
    array once, and each round is a pure projection over that row —
    w = per-dim fold of G·v, nrm, v — with a lazy 1-row checkpoint per
    round (without it CollapseProject inlines each round's expressions
    into the next and the plan grows exponentially — measured as a
    planner hang at 3 rounds; with it a round is one sub-millisecond
    1-row job). Replaces 3×(broadcast join + groupBy + crossJoin) on
    the 2 080-row frame; measured full query 1.73-1.81 → 1.19-1.22 s
    at sf0.1, frames bit-identical at all 3 shipped SFs (the 1e-10
    roundings absorb fold-order vs groupBy-order ulps exactly as they
    absorb the cross-engine ones — analysis in SCALE.md §15). Eigvec
    state still never lives on the driver."""
    e = load(spark, sf_dir, "embeddings")
    qarr = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000, 0).cast("bigint")
    )

    def _partial_gram(batches):
        # int64 partial Gram per arrow batch stream: Σ qᵀq over the
        # partition's rows, upper triangle only. Exact: products ≤1e6,
        # so the accumulator is overflow-safe to ~10¹² rows/partition.
        import numpy as np
        import pyarrow as pa

        acc = None
        for b in batches:
            col = b.column("q")
            flat = col.flatten().to_numpy(zero_copy_only=False)
            m = flat.reshape(len(col), -1)
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is not None:
            iu = np.triu_indices(acc.shape[0])
            yield pa.record_batch(
                {
                    "i": pa.array((iu[0] + 1).astype(np.int64)),
                    "j": pa.array((iu[1] + 1).astype(np.int64)),
                    "p": pa.array(acc[iu]),
                }
            )

    tri = (
        spread(e.select(qarr.alias("q")))
        .mapInArrow(_partial_gram, "i long, j long, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
    )
    gramf = tri.union(
        tri.where(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    # Pack the dim² matrix to one row: flat row-major double array,
    # dim recovered from its size (sqrt is exact on a square count).
    packed = (
        gramf.agg(F.array_sort(F.collect_list(F.struct("i", "j", "g"))).alias("t"))
        .select(F.transform("t", lambda s: s.getField("g").cast("double")).alias("G"))
        .withColumn("n", F.sqrt(F.size("G")).cast("int"))
        .localCheckpoint(eager=False)
    )
    df = packed.withColumn("v", F.array_repeat(F.lit(0.125), F.col("n")))
    for _ in range(_PCA_ITERS):
        w = F.transform(
            F.sequence(F.lit(1), F.col("n")),
            lambda i: F.round(
                F.aggregate(
                    F.sequence(F.lit(1), F.col("n")),
                    F.lit(0.0),
                    lambda acc, j: acc
                    + F.element_at("G", (i - 1) * F.col("n") + j)
                    * F.element_at("v", j),
                ),
                10,
            ),
        )
        df = (
            df.withColumn("w", w)
            .withColumn(
                "nrm",
                F.sqrt(F.aggregate("w", F.lit(0.0), lambda a, x: a + x * x)),
            )
            .withColumn("v", F.transform("w", lambda x: F.round(x / F.col("nrm"), 10)))
            # plan-growth barrier, NOT a perf cache: see docstring
            .localCheckpoint(eager=False)
        )
    return df.select(
        F.posexplode("v").alias("p", "loading"),
        F.round("nrm", 0).cast("bigint").alias("lam"),
    ).select((F.col("p") + 1).alias("dim"), "loading", "lam")


@register(
    "q_vector_profile",
    oracle=f"""
    WITH flat AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    )
    SELECT dim, COUNT(*) AS n,
           {R("AVG(x)", 6)} AS mean_x,
           {R("MIN(x)", 6)} AS min_x,
           {R("MAX(x)", 6)} AS max_x
    FROM flat GROUP BY dim
    """,
    priority="P2",
    tags=("llm", "vector", "profile"),
)
def q_vector_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column (n, mean, min,
    max over each of the 64 coordinates) — the drift/health check run
    before trusting any similarity index: a collapsed dimension, a
    scale blowout, or an all-zeros coordinate shows up here first.

    Scale: posexplode → partial agg of exactly `dim` groups — the
    explode is map-side combined, so the shuffle carries dims ×
    partitions rows regardless of corpus size. Mean r6-rounded (sum
    order ulps); min/max are exact comparisons on the same doubles in
    both engines."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(F.posexplode("embedding").alias("pos", "xf")).select(
        (F.col("pos") + 1).alias("dim"), F.col("xf").cast("double").alias("x")
    )
    return flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x"), 6).alias("mean_x"),
        F.round(F.min("x"), 6).alias("min_x"),
        F.round(F.max("x"), 6).alias("max_x"),
    )


@register(
    "q_embedding_drift",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
             CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS half
      FROM embeddings
    ), long AS (
      SELECT label, half,
             generate_subscripts(emb, 1) - 1 AS dim0, unnest(emb) AS x
      FROM e
    ), comp AS (
      SELECT label, dim0,
             AVG(CASE WHEN half = 'a' THEN x END) AS mu_a,
             AVG(CASE WHEN half = 'b' THEN x END) AS mu_b,
             COUNT(CASE WHEN half = 'a' THEN x END) AS n_a,
             COUNT(CASE WHEN half = 'b' THEN x END) AS n_b
      FROM long GROUP BY label, dim0
    )
    SELECT label,
           CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           {R4('SQRT(SUM((mu_a - mu_b) * (mu_a - mu_b)))')} AS centroid_l2
    FROM comp GROUP BY label
    """,
    priority="P2",
    tags=("llm", "similarity", "drift"),
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space DRIFT monitor: per label, the L2 distance between
    the centroid of one half of the vectors (even vec_ids — standing in
    for "last week's batch") and the other half — the cheap first-line
    detector for an upstream embedding-model change or a shifted input
    distribution before anything expensive (re-clustering, re-indexing)
    runs. Deterministic halves make it oracle-checkable; a deployment
    keys halves by ingestion date instead.

    Scale: centroids are posexplode → (label, half, dim) partial-agg
    means — one shuffle keyed well below cardinality problems (labels ×
    2 × 64 cells); the distance is a 64-row-per-label aggregate. No
    vector pair is ever formed."""
    e = _emb(spark, sf_dir).withColumn(
        "half", F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b")
    )
    # ONE conditional aggregation instead of a per-half split + self-join:
    # one embeddings scan, one shuffle, and — unlike an inner join on the
    # halves — a label whose vectors all fall in one half still surfaces
    # (its other-half centroid is NULL, so centroid_l2 reports NULL with
    # the half counts showing 0: the most-drifted case stays visible
    # instead of silently dropping out; round-4 review findings 2 and 5).
    comp = (
        e.select("label", "half", F.posexplode("emb").alias("dim0", "x"))
        .groupBy("label", "dim0")
        .agg(
            F.avg(F.when(F.col("half") == "a", F.col("x"))).alias("mu_a"),
            F.avg(F.when(F.col("half") == "b", F.col("x"))).alias("mu_b"),
            F.count(F.when(F.col("half") == "a", F.col("x"))).alias("n_a"),
            F.count(F.when(F.col("half") == "b", F.col("x"))).alias("n_b"),
        )
    )
    return comp.groupBy("label").agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        r4(
            F.sqrt(F.sum((F.col("mu_a") - F.col("mu_b")) ** 2))
        ).alias("centroid_l2"),
    )


_DOT = "list_inner_product(a.emb, b.emb)"


@register(
    "q_sim_mips",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    p AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id, {R4(_DOT)} AS dot4
      FROM (SELECT * FROM e WHERE vec_id < 20) a
      JOIN e b ON a.vec_id != b.vec_id
    )
    SELECT q_id, nb_id, dot4, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dot4 DESC, nb_id) AS rn
      FROM p
    ) WHERE rn <= 5
    """,
    priority="P2",
    tags=("llm", "similarity", "mips"),
)
def q_sim_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 by MAXIMUM INNER PRODUCT for each query vector
    (vec_id < 20, self excluded) — the retrieval scoring two-tower /
    recommendation models actually use, where a neighbor's NORM is
    part of its relevance and the ranking genuinely differs from
    `q_sim_cosine_topk` (verified non-identical on the shipped
    fixtures). Ranking is on the r4-ROUNDED dot with a vec_id
    tiebreak — the family's fp-determinism discipline.

    Scale: same brute-force contract shape as the cosine twin (query
    batch broadcast against the corpus scan). MIPS has no
    triangle-inequality structure, so the 100 TB path is the
    norm-augmentation reduction — append sqrt(M² − |x|²) to each
    corpus vector and a 0 to each query, after which MIPS ≡ cosine and
    the existing LSH/IVF ANN twins apply verbatim."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    pairs = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_id"))
    dot4 = F.round(_dot("q_emb", "emb"), 4).alias("dot4")
    scored = pairs.select("q_id", F.col("vec_id").alias("nb_id"), dot4)
    w = Window.partitionBy("q_id").orderBy(F.desc("dot4"), F.asc("nb_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "nb_id", "dot4", "rn")
    )


_LP_K = 5  # kNN width of the propagation graph
_LP_SEED_MOD = 5  # vec_id % 5 == 0 keeps its true label as a seed


@register(
    "q_label_propagation",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings
    ), knn AS (
      SELECT q_id, nb_id FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS nb_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {R4(_COS)} DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id != b.vec_id
      ) WHERE rn <= {_LP_K}
    ), edges AS (
      SELECT q_id AS u, nb_id AS v FROM knn
      UNION
      SELECT nb_id AS u, q_id AS v FROM knn
    ), y0 AS (
      SELECT vec_id, CASE WHEN vec_id % {_LP_SEED_MOD} = 0 THEN label END AS y
      FROM e
    ), r1 AS (
      SELECT u AS vec_id, y FROM (
        SELECT ed.u, y0.y,
               row_number() OVER (
                 PARTITION BY ed.u
                 ORDER BY COUNT(*) DESC, y0.y) AS rk
        FROM edges ed JOIN y0 ON y0.vec_id = ed.v
        WHERE y0.y IS NOT NULL
        GROUP BY ed.u, y0.y
      ) WHERE rk = 1
    ), y1 AS (
      SELECT y0.vec_id, COALESCE(y0.y, r1.y) AS y
      FROM y0 LEFT JOIN r1 ON r1.vec_id = y0.vec_id
    ), r2 AS (
      SELECT u AS vec_id, y FROM (
        SELECT ed.u, y1.y,
               row_number() OVER (
                 PARTITION BY ed.u
                 ORDER BY COUNT(*) DESC, y1.y) AS rk
        FROM edges ed JOIN y1 ON y1.vec_id = ed.v
        WHERE y1.y IS NOT NULL
        GROUP BY ed.u, y1.y
      ) WHERE rk = 1
    )
    SELECT e.vec_id,
           e.vec_id % {_LP_SEED_MOD} = 0 AS is_seed,
           e.label AS label_true,
           CASE WHEN e.vec_id % {_LP_SEED_MOD} = 0 THEN e.label
                ELSE r2.y END AS label_pred
    FROM e LEFT JOIN r2 ON r2.vec_id = e.vec_id
    """,
    priority="P2",
    tags=("llm", "similarity", "graph", "semi-supervised"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the embedding kNN graph
    (Zhu & Ghahramani 2002): every 5th vector keeps its true label as
    a SEED; the rest take, for two synchronous rounds, the majority
    label of their graph neighbors (ties broken by the smaller label;
    seeds are clamped). The graph is the symmetrized exact-kNN graph
    (k = 5 by rounded cosine, id tiebreak) — the transductive
    classifier a labeling pipeline runs when labels are scarce, and
    the propagation engine behind graph-based dedup/toxicity
    spreading. Emits (vec_id, is_seed, label_true, label_pred);
    label_pred is NULL only when no labeled node is within 2 hops.

    Determinism: neighbor ranking is on the r4-ROUNDED cosine with an
    id tiebreak; majority votes are integer counts with min-label
    tiebreaks; rounds are fixed at 2 (unrolled — no fixpoint race).
    Fully SQL-expressible, so the driver hash-checks the whole
    iteration.

    Scale: the kNN build here is the brute-force CONTRACT shape (the
    corpus is <= 2k vectors at every shipped SF); at 100 TB candidate
    generation swaps to the LSH/IVF twins (`q_sim_ann_lsh`) and each
    propagation round is one (edges JOIN labels) shuffle on v plus a
    groupBy(u) majority — the large-star/small-star cost profile,
    O(log diameter) rounds if iterated."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    a = e.select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
    ).alias("cos4")
    pairs = e.crossJoin(F.broadcast(a)).where(
        F.col("vec_id") != F.col("q_id")
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    knn = (
        pairs.select("q_id", F.col("vec_id").alias("nb_id"), cos4)
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= _LP_K)
        .select("q_id", "nb_id")
    )
    edges = (
        knn.select(F.col("q_id").alias("u"), F.col("nb_id").alias("v"))
        .unionByName(
            knn.select(F.col("nb_id").alias("u"), F.col("q_id").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=False)  # one pair join feeds both rounds
    )
    y0 = e.select(
        "vec_id",
        F.when(
            F.col("vec_id") % _LP_SEED_MOD == 0, F.col("label")
        ).alias("y"),
    )

    def vote(labels: DataFrame) -> DataFrame:
        """One synchronous round: majority neighbor label per node
        (count desc, min label tiebreak)."""
        wv = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("y"))
        return (
            edges.join(
                labels.where(F.col("y").isNotNull()),
                edges.v == labels.vec_id,
            )
            .groupBy("u", "y")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rk", F.row_number().over(wv))
            .where(F.col("rk") == 1)
            .select(F.col("u").alias("vec_id"), "y")
        )

    r1 = vote(y0)
    y1 = (
        y0.join(r1.withColumnRenamed("y", "ry"), "vec_id", "left")
        .select("vec_id", F.coalesce("y", "ry").alias("y"))
        .localCheckpoint(eager=False)  # round-2 vote input
    )
    r2 = vote(y1)
    return (
        e.join(r2.withColumnRenamed("y", "ry"), "vec_id", "left")
        .select(
            "vec_id",
            (F.col("vec_id") % _LP_SEED_MOD == 0).alias("is_seed"),
            F.col("label").alias("label_true"),
            F.when(F.col("vec_id") % _LP_SEED_MOD == 0, F.col("label"))
            .otherwise(F.col("ry"))
            .alias("label_pred"),
        )
    )


def _jl_signs(k: int = 8, d: int = 64) -> list[list[float]]:
    """Deterministic ±1 Rademacher matrix for the JL projection — md5 of
    "jl_{row}_{col}" parity, reproducible in any environment (no RNG
    state, no seed handshake; both engines receive the SAME literal)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"jl_{r}_{c}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for c in range(d)
        ]
        for r in range(k)
    ]


_JL_K = 8
_JL_SIGNS = _jl_signs(_JL_K, 64)
_JL_SQL_ROWS = [
    "[" + ", ".join(f"{s:.1f}" for s in row) + "]" for row in _JL_SIGNS
]


@register(
    "q_random_projection",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), p AS (
      SELECT vec_id, label,
             list_inner_product(emb, emb) AS orig_sq,
             {" + ".join(
                 f"list_inner_product(emb, {row}) * list_inner_product(emb, {row})"
                 for row in _JL_SQL_ROWS
             )} AS proj_sq
      FROM e
    )
    SELECT vec_id, label,
           {R4('orig_sq')} AS orig_sq,
           {R4(f'proj_sq / {_JL_K}')} AS proj_sq_scaled,
           {R4(f'proj_sq / {_JL_K} / orig_sq')} AS distortion
    FROM p
    """,
    priority="P2",
    tags=("llm", "similarity", "projection", "dimension-reduction"),
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003
    database-friendly ±1 form): each 64-d embedding is projected to
    {_JL_K} dimensions through a fixed Rademacher sign matrix, and the
    per-vector distortion ||Px||²/k / ||x||² — whose expectation is
    exactly 1 — is reported. This is the dimension-reduction primitive
    under SimHash (`q_dedup_simhash` keeps only the projection's SIGNS)
    and the cheap first stage before exact re-scoring at 100 TB: an 8-d
    sketch is 8× less shuffle payload than the raw embedding.

    The sign matrix is derived from md5 parity (no RNG), so both
    engines evaluate the SAME literal matrix; each projection is an
    element-order fold (`zip_with` + `aggregate` ≡ DuckDB
    `list_inner_product`), never an explode+groupBy float sum, so the
    summation order is identical cross-engine and layout-independent.

    Scale: per-row arithmetic only — zero shuffles, zero joins; the
    8×64 matrix is a compile-time literal. At a real 100 TB run the
    matrix rides the closure and the projected sketch is written
    bucketed by its first component for locality."""
    e = _emb(spark, sf_dir)
    proj_sq = None
    for row in _JL_SIGNS:
        p = _dot("emb", F.array(*[F.lit(s) for s in row]))
        term = p * p
        proj_sq = term if proj_sq is None else proj_sq + term
    orig_sq = _dot("emb", "emb")
    return e.select(
        "vec_id",
        "label",
        r4(orig_sq).alias("orig_sq"),
        r4(proj_sq / _JL_K).alias("proj_sq_scaled"),
        r4(proj_sq / _JL_K / orig_sq).alias("distortion"),
    )


@register(
    "q_prototype_prune",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), long AS (
      SELECT label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS x FROM e
    ), cent AS (
      SELECT label, pos, {R4('AVG(x)')} AS c FROM long GROUP BY label, pos
    ), carr AS (
      SELECT label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY label
    ), d AS (
      SELECT e.vec_id, e.label,
             {R4("list_sum(list_transform(generate_series(1, 64),"
                 " i -> (emb[i] - cvec[i]) * (emb[i] - cvec[i])))")} AS dist2
      FROM e JOIN carr USING (label)
    ), r AS (
      SELECT vec_id, label, dist2,
             CAST(ROW_NUMBER() OVER (PARTITION BY label
               ORDER BY dist2, vec_id) AS BIGINT) AS proto_rank,
             CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS _n
      FROM d
    )
    SELECT vec_id, label, dist2, proto_rank,
           proto_rank * 4 <= _n AS is_pruned
    FROM r
    """,
    priority="P2",
    tags=("llm", "similarity", "pruning", "curation"),
)
def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): rank every vector by squared L2 distance to
    its own class centroid and mark the EASIEST quarter (closest to the
    prototype) as prune candidates — in the abundant-data regime the
    most prototypical examples are the most redundant, and dropping
    them beats random pruning. Complements `q_dedup_semantic` (which
    removes near-identical PAIRS) by thinning dense regions globally.

    Parity discipline: the centroid is the ROUNDED per-(label, pos)
    mean (`q_centroid`'s exact frame), the distance is an element-order
    fold over (x − c)² — identical summation order cross-engine — and
    ranking happens on the rounded distance with a vec_id tiebreak.
    The prune flag is exact integer arithmetic (rank·4 ≤ n, i.e. the
    floor(n/4) closest rows), no float threshold.

    Scale: centroids are a (labels × 64)-row aggregate (map-side
    combined) collapsed to per-label ARRAYS and broadcast — the
    distance pass is then scan-side arithmetic, no shuffle. The
    per-label ranking window partitions on label; a 100 TB class would
    use the banded rank (`operators.banded`) in the same shape, as
    `q_quantile_bins_scaled` demonstrates."""
    e = _emb(spark, sf_dir)
    cent = (
        e.select("label", F.posexplode("emb").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(r4(F.avg("x")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
    )
    dist2 = r4(
        F.aggregate(
            F.zip_with("emb", "cvec", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    d = e.join(F.broadcast(cent), "label").select(
        "vec_id", "label", dist2.alias("dist2")
    )
    w = Window.partitionBy("label").orderBy("dist2", "vec_id")
    wn = Window.partitionBy("label")
    return d.select(
        "vec_id",
        "label",
        "dist2",
        F.row_number().over(w).cast("bigint").alias("proto_rank"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("_n"),
    ).select(
        "vec_id",
        "label",
        "dist2",
        "proto_rank",
        (F.col("proto_rank") * 4 <= F.col("_n")).alias("is_pruned"),
    )


@register(
    "q_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), p AS (
      SELECT a.vec_id AS q_id, a.label AS q_label,
             b.vec_id AS neg_id, b.label AS neg_label, {R4(_COS)} AS cos4
      FROM (SELECT * FROM e WHERE vec_id % 10 = 0) a
      JOIN e b ON a.label != b.label
    )
    SELECT q_id, q_label, neg_id, neg_label, cos4, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        ORDER BY cos4 DESC, neg_id) AS BIGINT) AS rn
      FROM p
    ) WHERE rn <= 3
    """,
    priority="P2",
    tags=("llm", "similarity", "retrieval", "training-data"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training (the DPR /
    ANCE recipe, Karpukhin et al. 2020; Xiong et al. 2021): for each
    query vector (every 10th id), the top-3 MOST similar vectors with a
    DIFFERENT label — the near-miss negatives that make contrastive
    training effective, as opposed to random negatives which are
    trivially separable. Output is the (query, negative) training-pair
    manifest with rank and rounded cosine.

    Same brute-force contract as `q_sim_cosine_topk` (rounded cosine,
    id tiebreak) with the label-mismatch predicate replacing the
    self-exclusion; per-query top-3 via a q_id-partitioned window.

    Scale: the query batch (10% of ids here; in production the training
    query set) broadcasts; candidates stream scan-side. At 100 TB the
    candidate side goes through the existing ANN twins (`q_sim_ann_lsh`
    / `q_sim_ivf_topk`) and negatives re-rank only bucket survivors —
    ANCE literally refreshes this mining pass from the ANN index."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    q = e.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = e.crossJoin(F.broadcast(q)).where(
        F.col("label") != F.col("q_label")
    )
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
    ).alias("cos4")
    scored = pairs.select(
        "q_id",
        "q_label",
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        cos4,
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("neg_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select("q_id", "q_label", "neg_id", "neg_label", "cos4", "rn")
    )


_RM_NQUERIES = 64  # constant-size query panel — broadcast stays O(1) in corpus size


@register(
    "q_retrieval_metrics",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), q AS (
      SELECT * FROM e
      ORDER BY (vec_id * 2654435761) % 100000, vec_id LIMIT {_RM_NQUERIES}
    ), p AS (
      SELECT a.vec_id AS q_id, a.label AS q_label,
             b.label AS nb_label, {R4(_COS)} AS cos4,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {R4(_COS)} DESC, b.vec_id) AS rn
      FROM q a
      JOIN e b ON a.vec_id != b.vec_id
    ), top AS (
      SELECT q_id, q_label,
             CAST(MIN(CASE WHEN nb_label = q_label THEN rn END) AS BIGINT)
               AS first_rel_rank,
             CAST(SUM(CASE WHEN nb_label = q_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_rel_at_k
      FROM p WHERE rn <= 5 GROUP BY q_id, q_label
    )
    SELECT q_id, q_label, first_rel_rank, n_rel_at_k,
           {R4('COALESCE(1.0 / first_rel_rank, 0.0)')} AS rr,
           {R4('n_rel_at_k / 5.0')} AS p_at_k
    FROM top
    """,
    priority="P2",
    tags=("llm", "similarity", "retrieval", "evaluation"),
)
def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metrics over the exact kNN contract: for a
    CONSTANT-size deterministic query panel (the 64 lowest Knuth-hash
    vec_ids — spread across the id space, reproducible on any engine or
    partitioning, same device as `q_sample`), the rank of the first
    SAME-LABEL neighbor in the cosine top-5 (reciprocal rank — the MRR
    ingredient), and precision@5 against label-match relevance — the
    standard IR evaluation (MRR / P@k) run on the embedding index
    itself, the gate you re-run after re-training embeddings or
    re-building the ANN index (`q_sim_ann_lsh` swaps in as the
    candidate source at scale, and THIS metric quantifies what that
    swap costs).

    Same brute-force contract and tiebreak as `q_sim_cosine_topk`;
    queries with no same-label neighbor in the top-5 report NULL rank
    and rr = 0 — both present at sf0.01 (labels are 10-way, so the
    top-5 is usually mixed).

    Scale: the panel is `orderBy(hash).limit(64)` — TakeOrdered, never
    a global sort — so the broadcast side is O(1) in corpus size and
    the whole evaluation is ONE linear candidate pass (64·n pairs, not
    n²/10 as the pre-r7 `vec_id % 10` panel was); a fixed-size panel
    is also what a 100 TB re-index gate wants (constant evaluation
    cost, comparable MRR across runs)."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    q = e.orderBy(
        (F.col("vec_id").cast("bigint") * F.lit(2654435761).cast("bigint"))
        % 100000,
        F.col("vec_id"),
    ).limit(_RM_NQUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = e.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("q_id")
    )
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
    ).alias("cos4")
    scored = pairs.select(
        "q_id", "q_label", F.col("label").alias("nb_label"),
        F.col("vec_id").alias("nb_id"), cos4
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .groupBy("q_id", "q_label")
        .agg(
            F.min(
                F.when(F.col("nb_label") == F.col("q_label"), F.col("rn"))
            )
            .cast("bigint")
            .alias("first_rel_rank"),
            F.sum(
                (F.col("nb_label") == F.col("q_label")).cast("int")
            )
            .cast("bigint")
            .alias("n_rel_at_k"),
        )
    )
    return top.select(
        "q_id",
        "q_label",
        "first_rel_rank",
        "n_rel_at_k",
        r4(F.coalesce(1.0 / F.col("first_rel_rank"), F.lit(0.0))).alias("rr"),
        r4(F.col("n_rel_at_k") / 5.0).alias("p_at_k"),
    )


_RC_NPROBES = (1, 2, 4, 8)


@register(
    "q_ivf_recall_curve",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
    cc AS (
      SELECT e.vec_id, c.cid, {_IVF_COS} AS cs,
             row_number() OVER (
               PARTITION BY e.vec_id ORDER BY {_IVF_COS} DESC, c.cid
             ) AS rn
      FROM e CROSS JOIN c
    ),
    asg AS (SELECT vec_id, cid FROM cc WHERE rn = 1),
    probe AS (
      SELECT vec_id AS q_id, cid, rn AS rcell FROM cc
      WHERE vec_id < 20 AND rn <= {max(_RC_NPROBES)}
    ),
    cand AS (
      SELECT p.q_id, a.vec_id AS nb_id, p.rcell
      FROM probe p JOIN asg a ON p.cid = a.cid
      WHERE a.vec_id != p.q_id
    ),
    scored AS (
      SELECT cand.q_id, cand.nb_id, cand.rcell,
             round(list_cosine_similarity(q.emb, n.emb), 4) AS cos4
      FROM cand
      JOIN e q ON cand.q_id = q.vec_id
      JOIN e n ON cand.nb_id = n.vec_id
    ),
    nps AS (SELECT UNNEST({list(_RC_NPROBES)}) AS nprobe),
    ivf5 AS (
      SELECT nprobe, q_id, nb_id FROM (
        SELECT n.nprobe, s.q_id, s.nb_id, row_number() OVER (
          PARTITION BY n.nprobe, s.q_id ORDER BY s.cos4 DESC, s.nb_id
        ) AS rn
        FROM scored s JOIN nps n ON s.rcell <= n.nprobe
      ) WHERE rn <= 5
    ),
    ex AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id,
             round(list_cosine_similarity(a.emb, b.emb), 4) AS cos4
      FROM (SELECT * FROM e WHERE vec_id < 20) a
      JOIN e b ON a.vec_id != b.vec_id
    ),
    exact5 AS (
      SELECT q_id, nb_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos4 DESC, nb_id
        ) AS rn FROM ex
      ) WHERE rn <= 5
    ),
    m AS (
      SELECT nprobe, q_id, CAST(COUNT(*) AS BIGINT) AS matched
      FROM ivf5 JOIN exact5 USING (q_id, nb_id) GROUP BY 1, 2
    ),
    g AS (
      SELECT n.nprobe, q.q_id
      FROM nps n CROSS JOIN (SELECT DISTINCT q_id FROM probe) q
    )
    SELECT CAST(g.nprobe AS BIGINT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           {R4('SUM(COALESCE(matched, 0)) / (5.0 * COUNT(*))')}
             AS mean_recall,
           CAST(MIN(COALESCE(matched, 0)) AS BIGINT) AS min_matched,
           CAST(SUM(CASE WHEN COALESCE(matched, 0) = 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS full_recall_queries
    FROM g LEFT JOIN m ON g.nprobe = m.nprobe AND g.q_id = m.q_id
    GROUP BY 1
    """,
    priority="P2",
    tags=("llm", "similarity", "ivf", "evaluation"),
)
def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5-vs-nprobe curve for the IVF index: the tuning report an
    ANN deployment reads to pick its probe budget — per nprobe ∈
    {_RC_NPROBES}, mean recall of IVF top-5 against the exact top-5,
    the worst query's match count, and how many queries achieve full
    recall (`q_lsh_pr_curve`'s role for the IVF scale path; recall is
    monotone in nprobe by construction — law-test pinned). Candidates
    are generated ONCE at the largest nprobe with their cell rank
    attached; each curve point is a filter, not a re-probe.

    Scale: embeddings scanned once into a checkpoint that feeds the
    quantizer, assignment, probe, candidate, and exact legs;
    assignment is the grouped `max_by` over the narrow
    :func:`ivf_cell_cs` frame (`q_sim_ivf_topk` discipline); the
    exact-baseline leg broadcasts the 20-query batch; every window
    partitions per (nprobe, query). The curve frame is bounded by
    nprobes × queries, not corpus size.
    """
    e = (
        _emb(spark, sf_dir)
        .withColumn("nrm", _norm("emb"))
        .localCheckpoint(eager=False)  # quantizer + asg + probe + exact legs
    )
    c = ivf_centroids(e)
    asg_ids = (
        ivf_cell_cs(e, c)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cid", F.struct(F.col("cs"), (-F.col("cid")).alias("nc"))
            ).alias("cid")
        )
    )
    asg = e.join(asg_ids, "vec_id")
    eq = e.where(F.col("vec_id") < 20)
    wq = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("cid"))
    probe = (
        ivf_cell_cs(eq, c)
        .withColumn("rcell", F.row_number().over(wq))
        .where(F.col("rcell") <= max(_RC_NPROBES))
        .select(F.col("vec_id").alias("q_id"), "cid", "rcell")
    )
    cand = asg.join(F.broadcast(probe), "cid").where(
        F.col("vec_id") != F.col("q_id")
    )
    qe = eq.select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        cand.join(F.broadcast(qe), "q_id")
        .select(
            "q_id",
            F.col("vec_id").alias("nb_id"),
            "rcell",
            F.round(
                F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
            ).alias("cos4"),
        )
    )
    nps = F.explode(
        F.array(*[F.lit(p) for p in _RC_NPROBES])
    ).alias("nprobe")
    wr = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("cos4"), F.asc("nb_id")
    )
    ivf5 = (
        scored.select("q_id", "nb_id", "cos4", "rcell", nps)
        .where(F.col("rcell") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= 5)
        .select("nprobe", "q_id", "nb_id")
    )
    ex = e.crossJoin(F.broadcast(qe)).where(F.col("vec_id") != F.col("q_id"))
    wx = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    exact5 = (
        ex.select(
            "q_id",
            F.col("vec_id").alias("nb_id"),
            F.round(
                F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
            ).alias("cos4"),
        )
        .withColumn("rn", F.row_number().over(wx))
        .where(F.col("rn") <= 5)
        .select("q_id", "nb_id")
    )
    m = ivf5.join(exact5, ["q_id", "nb_id"]).groupBy("nprobe", "q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("matched")
    )
    grid = (
        probe.select("q_id")
        .distinct()
        .select("q_id", nps)
        .join(m, ["nprobe", "q_id"], "left")
        .select(
            "nprobe",
            "q_id",
            F.coalesce("matched", F.lit(0)).alias("matched"),
        )
    )
    return grid.groupBy(F.col("nprobe").cast("bigint").alias("nprobe")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        r4(F.sum("matched") / (5.0 * F.count(F.lit(1)))).alias("mean_recall"),
        F.min("matched").cast("bigint").alias("min_matched"),
        F.sum(F.when(F.col("matched") == 5, 1).otherwise(0))
        .cast("bigint")
        .alias("full_recall_queries"),
    )


_HUB_Q = 200  # query batch: vec_id < 200
_HUB_K = 5  # top-k lists whose membership is counted
_HUB_CAP = 6  # histogram overflow bucket: occurrences >= cap pool here


@register(
    "q_hubness_audit",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    p AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id,
             round(list_cosine_similarity(a.emb, b.emb), 4) AS cos4
      FROM (SELECT * FROM e WHERE vec_id < {_HUB_Q}) a
      JOIN e b ON a.vec_id != b.vec_id
    ),
    top5 AS (
      SELECT nb_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cos4 DESC, nb_id
        ) AS rn FROM p
      ) WHERE rn <= {_HUB_K}
    ),
    occ AS (
      SELECT e.vec_id,
             CAST(COALESCE(o.n, 0) AS BIGINT) AS n_occ
      FROM e LEFT JOIN (
        SELECT nb_id, COUNT(*) AS n FROM top5 GROUP BY 1
      ) o ON e.vec_id = o.nb_id
    ),
    hist AS (
      SELECT CASE WHEN n_occ >= {_HUB_CAP} THEN {_HUB_CAP}
                  ELSE n_occ END AS occ_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(MAX(n_occ) AS BIGINT) AS max_occ
      FROM occ GROUP BY 1
    )
    SELECT CAST(s.occ_bucket AS BIGINT) AS occ_bucket,
           COALESCE(n_vectors, 0) AS n_vectors,
           COALESCE(max_occ, 0) AS max_occ
    FROM (SELECT UNNEST(generate_series(0, {_HUB_CAP})) AS occ_bucket) s
    LEFT JOIN hist ON hist.occ_bucket = s.occ_bucket
    """,
    priority="P2",
    tags=("llm", "similarity", "evaluation"),
)
def q_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit (Radovanović et al. 2010): the k-occurrence
    distribution of the embedding space — for each vector, how many of
    the {_HUB_Q}-query exact top-{_HUB_K} lists it appears in, bucketed
    into a dense 0..{_HUB_CAP}+ histogram (max occurrence per bucket
    rides along). High-dimensional spaces grow "hubs" that appear in
    a disproportionate share of neighbor lists and antihubs that never
    do — skew here predicts degraded retrieval quality and biased
    kNN labels, which is why the audit runs before shipping an
    embedding version (`q_retrieval_metrics`' geometric sibling).

    Scale: the query batch broadcasts against a single corpus scan
    (`q_sim_cosine_topk` contract); occurrence counting is a map-side
    combinable aggregate on the top-k lists (n_queries × k rows); the
    spine join is a {_HUB_CAP + 1}-row broadcast. The corpus-side left
    join keeps antihubs (occurrence 0) visible — the bucket the audit
    exists to find.
    """
    e = (
        _emb(spark, sf_dir)
        .withColumn("nrm", _norm("emb"))
        .localCheckpoint(eager=False)  # query batch + corpus + antihub legs
    )
    q = e.where(F.col("vec_id") < _HUB_Q).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_id"))
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
    ).alias("cos4")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    top5 = (
        pairs.select("q_id", F.col("vec_id").alias("nb_id"), cos4)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _HUB_K)
    )
    occ_counts = top5.groupBy("nb_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    occ = e.select("vec_id").join(occ_counts, e["vec_id"] == occ_counts["nb_id"], "left").select(
        "vec_id", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_occ")
    )
    bucket = F.when(
        F.col("n_occ") >= _HUB_CAP, F.lit(_HUB_CAP)
    ).otherwise(F.col("n_occ"))
    hist = occ.groupBy(bucket.alias("occ_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.max("n_occ").cast("bigint").alias("max_occ"),
    )
    spine = spark.range(_HUB_CAP + 1).select(F.col("id").alias("occ_bucket"))
    return spine.join(F.broadcast(hist), "occ_bucket", "left").select(
        F.col("occ_bucket").cast("bigint").alias("occ_bucket"),
        F.coalesce("n_vectors", F.lit(0)).cast("bigint").alias("n_vectors"),
        F.coalesce("max_occ", F.lit(0)).cast("bigint").alias("max_occ"),
    )


_PQ_M = 8  # subspaces (64 dims -> 8 x 8)
_PQ_D = 8  # dims per subspace
_PQ_K = 16  # codewords per subspace (vec_id < 16, the IVF seed device)


@register(
    "q_vec_product_quantize",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    sub AS (
      SELECT vec_id, s.s AS s,
             emb[s.s * {_PQ_D} + 1 : s.s * {_PQ_D} + {_PQ_D}] AS sv
      FROM e CROSS JOIN
           (SELECT UNNEST(generate_series(0, {_PQ_M - 1})) AS s) s
    ),
    cb AS (SELECT s, vec_id AS cid, sv AS cv FROM sub
           WHERE vec_id < {_PQ_K}),
    pair AS (
      SELECT sub.vec_id, sub.s, cb.cid,
             {R4('list_inner_product(sub.sv, sub.sv)'
                 ' + list_inner_product(cb.cv, cb.cv)'
                 ' - 2 * list_inner_product(sub.sv, cb.cv)')} AS d4
      FROM sub JOIN cb ON sub.s = cb.s
    ),
    enc AS (
      SELECT vec_id, s, cid,
             CAST(ROUND(d4 * 10000) AS BIGINT) AS q4
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY d4, cid
        ) AS rn FROM pair
      ) WHERE rn = 1
    ),
    agg AS (
      SELECT s, cid, CAST(COUNT(*) AS BIGINT) AS n_assigned,
             (CAST(SUM(q4) AS BIGINT) // COUNT(*)) / 10000.0 AS mean_dist
      FROM enc GROUP BY 1, 2
    )
    SELECT cb.s, cb.cid,
           COALESCE(n_assigned, 0) AS n_assigned,
           mean_dist
    FROM (SELECT DISTINCT s, cid FROM cb) cb
    LEFT JOIN agg ON agg.s = cb.s AND agg.cid = cb.cid
    """,
    priority="P2",
    tags=("llm", "similarity", "quantization", "scale-path"),
)
def q_vec_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization codebook audit (Jégou et al. 2011 — the
    memory layout under every large-scale ANN index): embeddings split
    into {_PQ_M} subspaces of {_PQ_D} dims; each subvector encodes to
    its nearest of {_PQ_K} codewords (the deterministic vec_id < 16
    seed device `ivf_centroids` uses) by squared L2, r4-rounded BEFORE
    the argmin with a codeword-id tiebreak. Output: per (subspace,
    codeword) — assignment count and mean residual distance, codebook
    rows with ZERO assignments kept visible (dead codewords are what
    the audit exists to find: they waste a code point and signal a
    bad codebook). PQ compresses 64 floats to {_PQ_M} bytes — 32× —
    which is why `q_vec_quantize` (int8, 4×) is the mild sibling.

    Distance identity |a−b|² = |a|²+|b|²−2a·b is used on BOTH sides so
    the engines share the three-inner-product shape (Spark folds ↔
    DuckDB list_inner_product — the established `_COS` pairing).

    Scale: one embeddings scan exploded to the (vector, subspace)
    grain; the codebook ({_PQ_M}×{_PQ_K} rows) broadcasts into the
    scoring join; encode is a grouped min over {_PQ_K} candidates —
    map-side combinable; the audit output is bounded by the codebook.
    """
    e = _emb(spark, sf_dir).select("vec_id", "emb")
    s_ids = F.explode(F.array(*[F.lit(i) for i in range(_PQ_M)])).alias("s")
    sub = e.select("vec_id", "emb", s_ids).select(
        "vec_id",
        "s",
        F.expr(f"slice(emb, s * {_PQ_D} + 1, {_PQ_D})").alias("sv"),
    ).localCheckpoint(eager=False)  # codebook + scoring legs
    cb = sub.where(F.col("vec_id") < _PQ_K).select(
        F.col("s").alias("cs"), F.col("vec_id").alias("cid"),
        F.col("sv").alias("cv"),
    )
    d4 = F.round(
        _dot("sv", "sv") + _dot("cv", "cv") - 2 * _dot("sv", "cv"), 4
    )
    pair = sub.join(F.broadcast(cb), sub["s"] == cb["cs"]).select(
        "vec_id", "s", "cid", d4.alias("d4")
    )
    enc = pair.groupBy("vec_id", "s").agg(
        F.min(F.struct("d4", "cid")).alias("best")
    ).select(
        "vec_id",
        "s",
        F.col("best.cid").alias("cid"),
        F.round(F.col("best.d4") * 10000, 0).cast("bigint").alias("q4"),
    )
    agg = enc.groupBy("s", "cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        (
            F.expr("CAST(sum(q4) AS BIGINT) div count(1)") / 10000.0
        ).alias("mean_dist"),
    )
    spine = cb.select(F.col("cs").alias("s"), "cid").distinct()
    return spine.join(agg, ["s", "cid"], "left").select(
        "s",
        "cid",
        F.coalesce("n_assigned", F.lit(0)).cast("bigint").alias("n_assigned"),
        "mean_dist",
    )


@register(
    "q_pq_adc_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    sub AS (
      SELECT vec_id, s.s AS s,
             emb[s.s * {_PQ_D} + 1 : s.s * {_PQ_D} + {_PQ_D}] AS sv
      FROM e CROSS JOIN
           (SELECT UNNEST(generate_series(0, {_PQ_M - 1})) AS s) s
    ),
    cb AS (SELECT s, vec_id AS cid, sv AS cv FROM sub
           WHERE vec_id < {_PQ_K}),
    enc AS (
      SELECT vec_id, s, cid FROM (
        SELECT sub.vec_id, sub.s, cb.cid,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.s
                 ORDER BY {R4('list_inner_product(sub.sv, sub.sv)'
                              ' + list_inner_product(cb.cv, cb.cv)'
                              ' - 2 * list_inner_product(sub.sv, cb.cv)')},
                          cb.cid
               ) AS rn
        FROM sub JOIN cb ON sub.s = cb.s
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS q_id, cb.s, cb.cid,
             {R4('list_inner_product(q.sv, q.sv)'
                 ' + list_inner_product(cb.cv, cb.cv)'
                 ' - 2 * list_inner_product(q.sv, cb.cv)')} AS d4
      FROM (SELECT * FROM sub WHERE vec_id < 20) q
      JOIN cb ON q.s = cb.s
    ),
    adc AS (
      SELECT lut.q_id, enc.vec_id AS nb_id,
             {R4('SUM(CAST(ROUND(lut.d4 * 10000) AS BIGINT)) / 10000.0')}
               AS adc_d4
      FROM enc JOIN lut ON enc.s = lut.s AND enc.cid = lut.cid
      WHERE enc.vec_id != lut.q_id
      GROUP BY 1, 2
    )
    SELECT q_id, nb_id, adc_d4, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY adc_d4, nb_id
      ) AS rn FROM adc
    ) WHERE rn <= 5
    """,
    priority="P2",
    tags=("llm", "similarity", "quantization", "scale-path"),
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric distance computation (ADC) top-5: the query side
    of `q_vec_product_quantize` — each query (vec_id < 20) builds its
    {_PQ_M}×{_PQ_K} lookup table of exact subspace distances to every
    codeword, and each database vector's distance is the SUM of table
    entries at its stored code (Jégou et al. 2011, Eq. 13: queries
    stay full-precision, the database stays {_PQ_M} bytes/vector —
    asymmetric). Distances r4-rounded per subspace BEFORE the sum and
    the argmin, id tiebreaks everywhere, so the ranking is
    engine-exact.

    Scale: THE reason PQ exists — scoring a database vector costs
    {_PQ_M} table lookups instead of a 64-dim product, and the scan
    side never touches raw floats: codes join the broadcast LUT
    (queries × {_PQ_M} × {_PQ_K} rows) on (subspace, codeword) and
    partial-sum map-side. The encode reuses the `q_vec_product_quantize`
    shape; per-query windows rank the bounded candidate frame.
    """
    e = _emb(spark, sf_dir).select("vec_id", "emb")
    s_ids = F.explode(F.array(*[F.lit(i) for i in range(_PQ_M)])).alias("s")
    sub = e.select("vec_id", "emb", s_ids).select(
        "vec_id",
        "s",
        F.expr(f"slice(emb, s * {_PQ_D} + 1, {_PQ_D})").alias("sv"),
    ).localCheckpoint(eager=False)  # codebook + encode + query LUT legs
    cb = sub.where(F.col("vec_id") < _PQ_K).select(
        F.col("s").alias("cs"),
        F.col("vec_id").alias("cid"),
        F.col("sv").alias("cv"),
    )
    d4 = F.round(
        _dot("sv", "sv") + _dot("cv", "cv") - 2 * _dot("sv", "cv"), 4
    )
    enc = (
        sub.join(F.broadcast(cb), sub["s"] == cb["cs"])
        .select("vec_id", "s", "cid", d4.alias("d4"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("d4", "cid")).alias("best"))
        .select("vec_id", "s", F.col("best.cid").alias("cid"))
    )
    lut = (
        sub.where(F.col("vec_id") < 20)
        .join(F.broadcast(cb), F.col("s") == cb["cs"])
        .select(
            F.col("vec_id").alias("q_id"), "s", "cid", d4.alias("d4")
        )
    )
    adc = (
        enc.join(F.broadcast(lut), ["s", "cid"])
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("nb_id"))
        .agg(
            r4(
                F.sum(F.round(F.col("d4") * 10000, 0).cast("bigint"))
                / 10000.0
            ).alias("adc_d4")
        )
    )
    w = Window.partitionBy("q_id").orderBy("adc_d4", "nb_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "nb_id", "adc_d4", "rn")
    )


_MATRYOSHKA_DIMS = (8, 16, 32, 64)
_MATRYOSHKA_K = 5


def _prefix_cos_sql(d: int) -> str:
    """DuckDB prefix-cosine between a.emb and b.emb over the first d dims."""
    return (
        f"list_inner_product(a.emb[1:{d}], b.emb[1:{d}]) / "
        f"(sqrt(list_inner_product(a.emb[1:{d}], a.emb[1:{d}])) * "
        f"sqrt(list_inner_product(b.emb[1:{d}], b.emb[1:{d}])))"
    )


@register(
    "q_matryoshka_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id,
             {', '.join(f'{R4(_prefix_cos_sql(d))} AS cos{d}' for d in _MATRYOSHKA_DIMS)}
      FROM (SELECT * FROM e WHERE vec_id < 20) a
      JOIN e b ON a.vec_id != b.vec_id
    ), tops AS (
      {' UNION ALL '.join(
        f'''SELECT CAST({d} AS BIGINT) AS dims, q_id, nb_id FROM (
              SELECT q_id, nb_id, row_number() OVER
                (PARTITION BY q_id ORDER BY cos{d} DESC, nb_id) AS rn
              FROM pairs) WHERE rn <= {_MATRYOSHKA_K}'''
        for d in _MATRYOSHKA_DIMS)}
    ), full_top AS (
      SELECT q_id, nb_id FROM tops WHERE dims = {_MATRYOSHKA_DIMS[-1]}
    ), hits AS (
      SELECT t.dims, CAST(COUNT(f.nb_id) AS BIGINT) AS matched
      FROM tops t LEFT JOIN full_top f
        ON t.q_id = f.q_id AND t.nb_id = f.nb_id
      GROUP BY t.dims
    )
    SELECT dims,
           CAST({_MATRYOSHKA_K} AS BIGINT) AS k,
           matched,
           {R4(f'matched / (20.0 * {_MATRYOSHKA_K})')} AS recall_at_k
    FROM hits
    """,
    priority="P2",
    tags=("llm", "similarity", "evaluation"),
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-embedding retrieval audit: for each
    prefix length d in {_MATRYOSHKA_DIMS}, run the exact top-{_MATRYOSHKA_K}
    cosine retrieval using only the first d dimensions and report
    recall@{_MATRYOSHKA_K} against the full-dimension ranking — the
    capacity-vs-cost curve that tells you how many dimensions the
    index actually needs (Kusupati et al. 2022's evaluation, on the
    engine): ship d=16 if its recall holds, and the vector store
    shrinks 4x. The d=64 row is the 1.0 anchor by construction.

    Determinism: every prefix cosine is an element-order fold over
    the same slice on both engines, r4-rounded BEFORE ranking with
    the neighbor id as tiebreak (house similarity discipline); recall
    is an exact integer ratio, r4 at the end.

    Scale: one broadcast crossJoin of the 20-probe frame against the
    corpus computes ALL four prefix cosines in a single pass (the
    slices share the scan); per-d rankings are per-query
    WindowGroupLimit top-k; the recall join runs on the 20x{_MATRYOSHKA_K}x4
    result rows. At 100 TB the probe batch stays the broadcast side.
    """
    e = _emb(spark, sf_dir)
    for d in _MATRYOSHKA_DIMS:
        e = e.withColumn(f"nrm{d}", _norm(F.slice("emb", 1, d)))
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        *[F.col(f"nrm{d}").alias(f"q_nrm{d}") for d in _MATRYOSHKA_DIMS],
    )
    pairs = e.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("nb_id"),
        *[
            F.round(
                _dot(F.slice("q_emb", 1, d), F.slice("emb", 1, d))
                / (F.col(f"q_nrm{d}") * F.col(f"nrm{d}")),
                4,
            ).alias(f"cos{d}")
            for d in _MATRYOSHKA_DIMS
        ],
    ).localCheckpoint(eager=False)  # one pair pass feeds all 4 rankings
    tops = None
    for d in _MATRYOSHKA_DIMS:
        w = Window.partitionBy("q_id").orderBy(
            F.desc(f"cos{d}"), F.asc("nb_id")
        )
        t = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _MATRYOSHKA_K)
            .select(
                F.lit(d).cast("bigint").alias("dims"), "q_id", "nb_id"
            )
        )
        tops = t if tops is None else tops.unionByName(t)
    tops = tops.localCheckpoint(eager=False)  # per-d sets + the d=64 anchor
    full_top = tops.where(
        F.col("dims") == _MATRYOSHKA_DIMS[-1]
    ).select(F.col("q_id").alias("f_qid"), F.col("nb_id").alias("f_nb"))
    hits = (
        tops.join(
            full_top,
            (F.col("q_id") == F.col("f_qid"))
            & (F.col("nb_id") == F.col("f_nb")),
            "left",
        )
        .groupBy("dims")
        .agg(F.count("f_nb").cast("bigint").alias("matched"))
    )
    return hits.select(
        "dims",
        F.lit(_MATRYOSHKA_K).cast("bigint").alias("k"),
        "matched",
        r4(F.col("matched") / (20.0 * _MATRYOSHKA_K)).alias("recall_at_k"),
    )


_GRID_NN_RADIUS = 0.01  # L2 radius; ~40% of probes find a neighbor


@register(
    "q_spatial_grid_nn",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    p AS (SELECT vec_id, emb[1] AS x, emb[2] AS y FROM e),
    q AS (SELECT * FROM p WHERE vec_id < 50),
    cand AS (
      SELECT q.vec_id AS probe_id, p.vec_id AS nb_id,
             (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS d2
      FROM q JOIN p ON p.vec_id != q.vec_id
      WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
            <= {_GRID_NN_RADIUS!r} * {_GRID_NN_RADIUS!r}
    ), best AS (
      SELECT probe_id, nb_id, d4 FROM (
        SELECT probe_id, nb_id, {R4('SQRT(d2)')} AS d4,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY {R4('SQRT(d2)')}, nb_id) AS rn
        FROM cand) WHERE rn = 1
    )
    SELECT q.vec_id AS probe_id, best.nb_id, best.d4,
           best.nb_id IS NOT NULL AS found
    FROM q LEFT JOIN best ON q.vec_id = best.probe_id
    """,
    priority="P2",
    tags=("llm", "similarity", "spatial"),
)
def q_spatial_grid_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded nearest neighbor via GRID-CELL blocking — the
    classic spatial-join pattern (geo points, UMAP/t-SNE projections)
    on the embedding's first two coordinates: cell side = radius, so
    every neighbor within r of a probe lives in the probe's 3x3 cell
    neighborhood, and the all-pairs scan collapses to a (cell ->
    points) bucket join with bounded fanout. Probes with no neighbor
    inside r surface as found = false (left join, not a silent drop).
    The oracle is the UNBINNED radius join — blocking must not change
    the answer (the `q_join_range_binned` discipline, in 2D).

    Determinism: the in-radius test runs on the RAW squared distance
    (same expression, same inputs on both engines); ranking uses the
    r4-rounded distance with the neighbor id as tiebreak.

    Scale: at 100 TB the points table shuffles once on cell id; each
    probe reads 9 cells whose expected occupancy is density-bounded —
    no quadratic stage exists. Skewed cells (dense clusters) salt the
    same way hot join keys do.
    """
    r = _GRID_NN_RADIUS
    pts = _emb(spark, sf_dir).select(
        "vec_id",
        F.col("emb")[0].alias("x"),
        F.col("emb")[1].alias("y"),
    ).localCheckpoint(eager=False)  # probe + point + cell reads
    cells = pts.select(
        F.col("vec_id").alias("nb_id"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        F.floor(F.col("x") / r).cast("bigint").alias("cx"),
        F.floor(F.col("y") / r).cast("bigint").alias("cy"),
    )
    probes = pts.where(F.col("vec_id") < 50)
    off = F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("o")
    probe_cells = (
        probes.select(
            F.col("vec_id").alias("probe_id"),
            "x",
            "y",
            F.floor(F.col("x") / r).cast("bigint").alias("qcx"),
            F.floor(F.col("y") / r).cast("bigint").alias("qcy"),
        )
        .select("probe_id", "x", "y", "qcx", "qcy", off)
        .select(
            "probe_id", "x", "y", (F.col("qcx") + F.col("o")).alias("cx"), "qcy"
        )
        .select(
            "probe_id",
            "x",
            "y",
            "cx",
            F.explode(
                F.array(*[F.col("qcy") + F.lit(i) for i in (-1, 0, 1)])
            ).alias("cy"),
        )
    )
    d2 = (F.col("px") - F.col("x")) * (F.col("px") - F.col("x")) + (
        F.col("py") - F.col("y")
    ) * (F.col("py") - F.col("y"))
    cand = (
        probe_cells.join(cells, ["cx", "cy"])
        .where(F.col("nb_id") != F.col("probe_id"))
        .select("probe_id", "nb_id", d2.alias("d2"))
        .where(F.col("d2") <= r * r)
    )
    w = Window.partitionBy("probe_id").orderBy(r4(F.sqrt("d2")), F.asc("nb_id"))
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("probe_id", "nb_id", r4(F.sqrt("d2")).alias("d4"))
    )
    return probes.select(F.col("vec_id").alias("probe_id")).join(
        best, "probe_id", "left"
    ).select(
        "probe_id",
        "nb_id",
        "d4",
        F.col("nb_id").isNotNull().alias("found"),
    )


# ---- r7 retrieval-evaluation + binary-sketch family ----------------------

# NDCG log-discounts 1/log2(rank+1) as SHARED LITERALS: log2() is libm
# whose last ulp may differ between engines — a literal parsed by both
# sides is bit-identical by construction.
_NDCG_DISC = (1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
              0.38685280723454163)
_NDCG_GAIN = (0, 1, 3, 7)  # 2^rel - 1 for rel = 0..3


@register(
    "q_ndcg",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), q AS (
      SELECT * FROM e
      ORDER BY (vec_id * 2654435761) % 100000, vec_id LIMIT {_RM_NQUERIES}
    ), p AS (
      SELECT a.vec_id AS q_id, a.label AS q_label, b.label AS nb_label,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY {R4(_COS)} DESC, b.vec_id) AS rn
      FROM q a JOIN e b ON a.vec_id != b.vec_id
    ), top AS (
      SELECT q_id, rn,
             GREATEST(0, 3 - ABS(nb_label - q_label)) AS rel
      FROM p WHERE rn <= 5
    ), terms AS (
      SELECT q_id,
             CAST({R('[0, 1, 3, 7][rel + 1]'
                     ' * CAST(([' + ', '.join(repr(d) for d in _NDCG_DISC)
                     + '])[rn] AS DOUBLE)'
                     ' * 10000', 0)} AS BIGINT) AS dcg_q4,
             CAST({R('[0, 1, 3, 7][rel + 1]'
                     ' * CAST(([' + ', '.join(repr(d) for d in _NDCG_DISC)
                     + '])'
                     '[row_number() OVER (PARTITION BY q_id'
                     ' ORDER BY rel DESC, rn)] AS DOUBLE)'
                     ' * 10000', 0)} AS BIGINT) AS idcg_q4
      FROM top
    ), s AS (
      SELECT q_id, CAST(SUM(dcg_q4) AS BIGINT) AS dcg_q4,
             CAST(SUM(idcg_q4) AS BIGINT) AS idcg_q4
      FROM terms GROUP BY q_id
    )
    SELECT q_id, dcg_q4, idcg_q4,
           CASE WHEN idcg_q4 = 0 THEN 0.0
                ELSE {R4('dcg_q4 * 1.0 / idcg_q4')} END AS ndcg4
    FROM s
    """,
    priority="P2",
    tags=("llm", "similarity", "retrieval", "evaluation"),
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 over the exact cosine top-5 — the GRADED-relevance
    retrieval metric beside `q_retrieval_metrics`' binary MRR/P@k
    (graded relevance = label proximity, 3−|Δlabel| clamped at 0, so
    near-misses earn partial credit the binary metrics can't see).
    Same constant 64-query Knuth-hash panel and tiebreaks as
    `q_retrieval_metrics`.

    Determinism: gains (2^rel − 1) come from an integer lookup, the
    log2 rank discounts are SHARED LITERALS (libm log2 may differ by
    an ulp between engines — a literal parsed by both is identical by
    construction), each DCG/IDCG term is quantized to integer
    ten-thousandths before the per-query sum (bigint sums are
    order-independent), and the final NDCG is one exact-int division.
    IDCG = 0 (all-irrelevant top-5) null-guards to 0.

    Scale: one linear candidate pass against the O(1) panel (the
    r7-bounded `q_retrieval_metrics` shape), then per-query constant
    work."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    q = e.orderBy(
        (F.col("vec_id").cast("bigint") * F.lit(2654435761).cast("bigint"))
        % 100000,
        F.col("vec_id"),
    ).limit(_RM_NQUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
    ).alias("cos4")
    pairs = e.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id", "q_label", F.col("label").alias("nb_label"),
        F.col("vec_id").alias("nb_id"), cos4
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    top = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "q_id",
            "rn",
            F.greatest(
                F.lit(0), 3 - F.abs(F.col("nb_label") - F.col("q_label"))
            ).alias("rel"),
        )
    )
    gain = F.element_at(
        F.array(*(F.lit(g) for g in _NDCG_GAIN)), F.col("rel") + 1
    )
    disc = F.array(*(F.lit(d) for d in _NDCG_DISC))
    iw = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("rn"))
    terms = top.withColumn("irn", F.row_number().over(iw)).select(
        "q_id",
        F.round(gain * F.element_at(disc, F.col("rn")) * 10000, 0)
        .cast("bigint")
        .alias("dcg_q4"),
        F.round(gain * F.element_at(disc, F.col("irn")) * 10000, 0)
        .cast("bigint")
        .alias("idcg_q4"),
    )
    s = terms.groupBy("q_id").agg(
        F.sum("dcg_q4").cast("bigint").alias("dcg_q4"),
        F.sum("idcg_q4").cast("bigint").alias("idcg_q4"),
    )
    return s.select(
        "q_id",
        "dcg_q4",
        "idcg_q4",
        F.when(F.col("idcg_q4") == 0, F.lit(0.0))
        .otherwise(r4(F.col("dcg_q4") * 1.0 / F.col("idcg_q4")))
        .alias("ndcg4"),
    )


# Truncated-RBO tail weights W[m] = Σ_{d=m..10} 0.9^d / d as integer
# 1e-8ths — shared literals for the same libm-ulp reason as _NDCG_DISC;
# integer sums are order-independent.
_RBO_W_Q8 = (211874759, 121874759, 81374759, 57074759, 40672259,
             28862459, 20005109, 13172297, 7791457, 3486784)
_RBO_NQ = 8  # query panel (vec_id < 8)


@register(
    "q_rbo",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), q AS (SELECT * FROM e WHERE vec_id < {_RBO_NQ}
    ), sc AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nb_id,
             {R4(_COS)} AS cos4,
             {R4('list_inner_product(a.emb, b.emb)')} AS ip4
      FROM q a JOIN e b ON a.vec_id != b.vec_id
    ), ra AS (
      SELECT q_id, nb_id, row_number() OVER (PARTITION BY q_id
               ORDER BY cos4 DESC, nb_id) AS r
      FROM sc QUALIFY r <= 10
    ), rb AS (
      SELECT q_id, nb_id, row_number() OVER (PARTITION BY q_id
               ORDER BY ip4 DESC, nb_id) AS r
      FROM sc QUALIFY r <= 10
    ), m AS (
      SELECT ra.q_id, GREATEST(ra.r, rb.r) AS m
      FROM ra JOIN rb ON ra.q_id = rb.q_id AND ra.nb_id = rb.nb_id
    )
    SELECT q.vec_id AS q_id,
           CAST(COALESCE(COUNT(m.m), 0) AS BIGINT) AS n_common,
           {R4('COALESCE(SUM(([' + ', '.join(str(w) for w in _RBO_W_Q8)
               + '])[m.m]), 0) / 9.0 / 100000000.0')} AS rbo4
    FROM q LEFT JOIN m ON q.vec_id = m.q_id
    GROUP BY q.vec_id
    """,
    priority="P2",
    tags=("llm", "similarity", "retrieval", "evaluation"),
)
def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber 2010, truncated at depth 10,
    p = 0.9) between the COSINE top-10 and the INNER-PRODUCT top-10
    per query — "does skipping normalization change what we retrieve?",
    the MIPS-vs-cosine question (`q_sim_mips`) answered as a
    top-weighted rank-similarity score instead of anecdotes. RBO's
    geometric weighting makes disagreement at rank 1 matter more than
    at rank 10, which is exactly the retrieval-quality sensitivity.

    Determinism: regroup Σ_d p^d·X_d/d per ITEM — each common item
    contributes the tail weight W[max(rank_a, rank_b)], a shared
    integer-1e-8ths literal table — so the per-query sum is exact
    bigint and the final score one division. Queries with disjoint
    top-10s emit rbo4 = 0 via the left join + COALESCE.

    Scale: each ranking is one scored pass (panel broadcast × corpus
    scan); the overlap join runs on 10-row-per-query frames."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    q = e.where(F.col("vec_id") < _RBO_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    sc = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("nb_id"),
            F.round(
                F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
            ).alias("cos4"),
            F.round(_dot("q_emb", "emb"), 4).alias("ip4"),
        )
    )
    wa = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    wb = Window.partitionBy("q_id").orderBy(F.desc("ip4"), F.asc("nb_id"))
    ra = (
        sc.withColumn("r", F.row_number().over(wa))
        .where(F.col("r") <= 10)
        .select("q_id", "nb_id", F.col("r").alias("ra"))
    )
    rb = (
        sc.withColumn("r", F.row_number().over(wb))
        .where(F.col("r") <= 10)
        .select("q_id", "nb_id", F.col("r").alias("rb"))
    )
    wtab = F.array(*(F.lit(w) for w in _RBO_W_Q8))
    m = ra.join(rb, ["q_id", "nb_id"]).select(
        "q_id",
        F.element_at(wtab, F.greatest("ra", "rb")).alias("w_q8"),
    )
    qs = q.select(F.col("q_id"))
    return (
        qs.join(m, "q_id", "left")
        .groupBy("q_id")
        .agg(
            F.count("w_q8").cast("bigint").alias("n_common"),
            r4(
                F.coalesce(F.sum("w_q8"), F.lit(0)) / 9.0 / 100000000.0
            ).alias("rbo4"),
        )
    )


@register(
    "q_sim_hamming_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), b AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN x > 0 AND i <= 32
                           THEN (1::BIGINT << (i - 1)) ELSE 0 END)
               AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN x > 0 AND i > 32
                           THEN (1::BIGINT << (i - 33)) ELSE 0 END)
               AS BIGINT) AS hi
      FROM (SELECT vec_id, generate_subscripts(emb, 1) AS i,
                   unnest(emb) AS x FROM e)
      GROUP BY vec_id
    ), p AS (
      SELECT q.vec_id AS q_id, c.vec_id AS nb_id,
             CAST(bit_count(xor(q.lo, c.lo))
                  + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY bit_count(xor(q.lo, c.lo))
                        + bit_count(xor(q.hi, c.hi)), c.vec_id) AS rn
      FROM (SELECT * FROM b WHERE vec_id < 16) q
      JOIN b c ON q.vec_id != c.vec_id
    )
    SELECT q_id, nb_id, hamming, rn FROM p WHERE rn <= 5
    """,
    priority="P2",
    tags=("llm", "similarity", "binary-sketch", "scale-path"),
)
def q_sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-sketch nearest neighbors: sign-binarize each 64-dim
    embedding into TWO packed 32-bit words (64× compression — 8 bytes
    vs 512), then Hamming-distance top-5 per query via xor + popcount.
    The standard first-stage filter for billion-scale search (binary
    sketches fit in memory where float vectors don't; Hamming distance
    approximates angular distance for sign-random projections — here
    the raw dims play the hyperplane role).

    Packs into 32-bit halves, not one 64-bit word: `1::BIGINT << 63`
    overflows DuckDB (Spark wraps to the sign bit) — ⌈d/32⌉ words is
    also the general layout for d > 64. Sign test runs on the same
    cast-to-double values both engines see, so the sketch is
    bit-identical; everything downstream is exact integers.

    Scale: the sketch build is one linear projection (map-only, rides
    the scan); the top-k is panel-broadcast × sketch-scan with integer
    ops that stay inside codegen — no float math anywhere in the hot
    loop."""
    e = _emb(spark, sf_dir)
    word = (
        "aggregate(zip_with(slice(emb, {off}, 32), sequence(0, 31),"
        " (x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"
    )
    b = e.select(
        "vec_id",
        F.expr(word.format(off=1)).alias("lo"),
        F.expr(word.format(off=33)).alias("hi"),
    ).localCheckpoint(eager=False)  # panel + candidate legs — one build
    qb = b.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    ham = (
        F.bit_count(F.expr("q_lo ^ lo")) + F.bit_count(F.expr("q_hi ^ hi"))
    ).cast("bigint")
    p = (
        b.crossJoin(F.broadcast(qb))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("nb_id"),
            ham.alias("hamming"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("nb_id"))
    return (
        p.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 5)
        .select("q_id", "nb_id", "hamming", "rn")
    )


_MMR_K = 5        # picks
_MMR_CANDS = 20   # relevance-ranked candidate pool
_MMR_KEY = "(100000 - ({score})) * 10000000 + {vid}"  # argmax → min-key


def _mmr_oracle() -> str:
    """Unrolled greedy MMR oracle: candidate pool + pairwise sims once
    (MATERIALIZED), then K chained pick CTEs — each pick maximizes
    7·rel − 3·maxsim over exact integer ten-thousandths via the packed
    min-key (score ∈ [−100000, 100000], vec_id tiebreak)."""
    cos_q = R(f"{_COS} * 10000", 0)
    head = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    cand AS MATERIALIZED (
      SELECT b.vec_id, CAST({cos_q} AS BIGINT) AS rel_q4
      FROM (SELECT * FROM e WHERE vec_id = 0) a
      JOIN e b ON b.vec_id != 0
      ORDER BY rel_q4 DESC, b.vec_id LIMIT {_MMR_CANDS}
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS sa, b.vec_id AS sb, CAST({cos_q} AS BIGINT) AS sim_q4
      FROM (SELECT c.vec_id, e.emb FROM cand c JOIN e ON c.vec_id = e.vec_id) a
      JOIN (SELECT c.vec_id, e.emb FROM cand c JOIN e ON c.vec_id = e.vec_id) b
        ON a.vec_id != b.vec_id
    ),
    p1 AS MATERIALIZED (
      SELECT 1 AS pick, vec_id, rel_q4, 7 * rel_q4 AS score10
      FROM cand
      ORDER BY {_MMR_KEY.format(score='7 * rel_q4', vid='vec_id')} LIMIT 1
    )"""
    rounds = []
    for r in range(2, _MMR_K + 1):
        prev = f"p{r - 1}" if r == 2 else f"u{r - 1}"
        rounds.append(f""",
    s{r} AS MATERIALIZED (
      SELECT {r} AS pick, t.vec_id, t.rel_q4,
             7 * t.rel_q4 - 3 * t.maxsim AS score10
      FROM (
        SELECT c.vec_id, c.rel_q4, MAX(s.sim_q4) AS maxsim
        FROM cand c
        JOIN sims s ON s.sa = c.vec_id
        JOIN {prev} p ON s.sb = p.vec_id
        WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY c.vec_id, c.rel_q4
      ) t
      ORDER BY {_MMR_KEY.format(score='7 * t.rel_q4 - 3 * t.maxsim',
                                vid='t.vec_id')}
      LIMIT 1
    ),
    u{r} AS MATERIALIZED (
      SELECT * FROM {prev} UNION ALL SELECT * FROM s{r}
    )""")
    return (
        head + "".join(rounds)
        + f"""
    SELECT pick, vec_id, rel_q4, score10 FROM u{_MMR_K}
    """
    )


@register(
    "q_mmr_diversify",
    oracle=_mmr_oracle(),
    priority="P2",
    tags=("llm", "similarity", "diversification", "iterative"),
)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell-Goldstein) top-5: greedy
    re-ranking that balances relevance to the query (vec_id 0) against
    redundancy with what's already picked — λ = 0.7, so each round
    maximizes 0.7·rel − 0.3·max-sim-to-selected. THE diversification
    step of RAG context assembly and eval-set curation (pure top-k
    returns five near-duplicates of the best hit; MMR spends the same
    budget on coverage).

    Determinism: relevance and pairwise sims quantize to integer
    ten-thousandths at birth; each greedy argmax is the packed exact
    min-key (score×10 is integer because λ = 7/10; vec_id tiebreak) —
    so the 5-round chain reproduces bit-for-bit cross-engine, the
    same discipline that unlocked `q_cluster_kmeans`'s oracle. Round 1
    has no picks yet — the penalty term is empty-max → COALESCE 0,
    i.e. pure relevance, the standard MMR convention.

    Scale: ONE linear scored pass bounds the candidate pool (top-20 by
    relevance — TakeOrdered, constant size), pairwise sims are
    pool²=400 rows, and the K greedy rounds run on those constant
    frames only; the corpus is never touched again. At 100 TB the pool
    comes from the ANN twins (`q_sim_ann_lsh`) instead of the exact
    pass — same constant-size greedy stage."""
    e = _emb(spark, sf_dir)
    qv = e.where(F.col("vec_id") == 0).select(
        F.col("emb").alias("q_emb"),
        _norm("emb").alias("q_nrm"),
    )
    rel_q4 = F.round(
        _dot("q_emb", "emb") / (F.col("q_nrm") * _norm("emb")) * 10000, 0
    ).cast("bigint")
    cand = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "emb", rel_q4.alias("rel_q4"))
        .orderBy(F.desc("rel_q4"), F.asc("vec_id"))
        .limit(_MMR_CANDS)
        .localCheckpoint(eager=False)  # sims legs + every greedy round
    )
    a = cand.select(
        F.col("vec_id").alias("sa"),
        F.col("emb").alias("a_emb"),
        _norm("emb").alias("a_nrm"),
    )
    b = cand.select(
        F.col("vec_id").alias("sb"),
        F.col("emb").alias("b_emb"),
        _norm("emb").alias("b_nrm"),
    )
    sims = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("sa") != F.col("sb"))
        .select(
            "sa",
            "sb",
            F.round(
                _dot("a_emb", "b_emb")
                / (F.col("a_nrm") * F.col("b_nrm"))
                * 10000,
                0,
            )
            .cast("bigint")
            .alias("sim_q4"),
        )
        .localCheckpoint(eager=False)  # reused every greedy round
    )
    slim = cand.select("vec_id", "rel_q4")

    def key(score: F.Column, vid: F.Column) -> F.Column:
        return (100000 - score) * 10000000 + vid

    first_score = 7 * F.col("rel_q4")
    picked = (
        slim.orderBy(key(first_score, F.col("vec_id")))
        .limit(1)
        .select(
            F.lit(1).alias("pick"),
            "vec_id",
            "rel_q4",
            first_score.alias("score10"),
        )
        .localCheckpoint(eager=False)
    )
    for r in range(2, _MMR_K + 1):
        sel_ids = picked.select(F.col("vec_id").alias("sb"))
        scored = (
            slim.join(
                picked.select("vec_id"), "vec_id", "left_anti"
            )
            .join(sims, F.col("vec_id") == F.col("sa"))
            .join(F.broadcast(sel_ids), "sb")
            .groupBy("vec_id", "rel_q4")
            .agg(F.max("sim_q4").alias("maxsim"))
        )
        score = 7 * F.col("rel_q4") - 3 * F.col("maxsim")
        nxt = (
            scored.orderBy(key(score, F.col("vec_id")))
            .limit(1)
            .select(
                F.lit(r).alias("pick"),
                "vec_id",
                "rel_q4",
                score.alias("score10"),
            )
        )
        picked = picked.unionByName(nxt).localCheckpoint(eager=False)
    return picked


_LOF_K = 5       # neighborhood size
_LOF_NQ = 32     # organic query panel (plus one planted scale outlier)
_LOF_CRIT = 1.5  # flag threshold

# Euclidean-distance kNN of a small panel against the corpus, as oracle
# SQL: d4 = integer ten-thousandths of list_distance, ties by vec_id.
_LOF_KNN = """
      SELECT * FROM (
        SELECT a.{ka} AS {ka_out}, b.vec_id AS {kb_out},
               CAST(ROUND(list_distance(a.emb, b.emb) * 10000, 0)
                    AS BIGINT) AS d4,
               row_number() OVER (PARTITION BY a.{ka}
                 ORDER BY CAST(ROUND(list_distance(a.emb, b.emb) * 10000, 0)
                               AS BIGINT), b.vec_id) AS rn
        FROM {pa} a JOIN e b ON a.{ka} != b.vec_id
      ) WHERE rn <= {k}
"""


@register(
    "q_lof_panel",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), organic AS (
      SELECT vec_id, emb FROM e
      ORDER BY (vec_id * 2654435761) % 100000, vec_id LIMIT {_LOF_NQ}
    ), q0 AS (
      SELECT vec_id, emb FROM organic
      UNION ALL
      SELECT CAST(-1 AS BIGINT) AS vec_id,
             list_transform(emb, x -> x * 5.0) AS emb
      FROM e WHERE vec_id = 0
    ), knn1 AS ({_LOF_KNN.format(ka='vec_id', ka_out='q_id',
                                 kb_out='o_id', pa='q0', k=_LOF_K)}),
    n1 AS (SELECT DISTINCT o_id FROM knn1),
    p1 AS (SELECT e.vec_id, e.emb FROM e JOIN n1 ON e.vec_id = n1.o_id),
    knn2 AS ({_LOF_KNN.format(ka='vec_id', ka_out='o_id',
                              kb_out='p_id', pa='p1', k=_LOF_K)}),
    kdist_o AS (SELECT o_id, MAX(d4) AS kdist4 FROM knn2 GROUP BY 1),
    n2 AS (SELECT DISTINCT p_id FROM knn2),
    p2 AS (SELECT e.vec_id, e.emb FROM e JOIN n2 ON e.vec_id = n2.p_id),
    knn3 AS ({_LOF_KNN.format(ka='vec_id', ka_out='p_id',
                              kb_out='x_id', pa='p2', k=_LOF_K)}),
    kdist_p AS (SELECT p_id, MAX(d4) AS kdist4 FROM knn3 GROUP BY 1),
    lrd_o AS (
      SELECT k2.o_id,
             CAST(ROUND(50000000000.0
                        / SUM(GREATEST(kp.kdist4, k2.d4)), 0) AS BIGINT)
               AS lrd6
      FROM knn2 k2 JOIN kdist_p kp ON k2.p_id = kp.p_id GROUP BY 1
    ), lrd_q AS (
      SELECT k1.q_id,
             CAST(ROUND(50000000000.0
                        / SUM(GREATEST(ko.kdist4, k1.d4)), 0) AS BIGINT)
               AS lrd6
      FROM knn1 k1 JOIN kdist_o ko ON k1.o_id = ko.o_id GROUP BY 1
    )
    SELECT k1.q_id,
           {R4('SUM(lo.lrd6) / 5.0 / MIN(lq.lrd6)')} AS lof4,
           {R4('SUM(lo.lrd6) / 5.0 / MIN(lq.lrd6)')} > {_LOF_CRIT!r}
             AS outlier
    FROM knn1 k1
    JOIN lrd_o lo ON k1.o_id = lo.o_id
    JOIN lrd_q lq ON k1.q_id = lq.q_id
    GROUP BY 1
    """,
    priority="P2",
    tags=("llm", "similarity", "outlier", "quality"),
)
def q_lof_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local outlier factor (Breunig et al. 2000, k = 5) over a
    constant query panel — DENSITY-aware embedding outlier detection
    beside `q_hubness_audit` (which profiles the k-NN graph globally):
    LOF(q) = mean(lrd(o)) / lrd(q) over q's neighbors o, where lrd is
    the inverse mean reachability distance — a point in a sparse
    region scores >> 1 no matter the absolute distance scale, the
    property that makes LOF the standard embedding-corpus QUALITY
    gate (mis-embedded / out-of-domain vectors before training).
    Euclidean metric on purpose: the corpus is near-isotropic, so in
    COSINE space everything is equidistant and no direction can be an
    outlier (measured: max cosine-LOF 1.04) — magnitude is where real
    embedding defects (normalization bugs, truncated inputs) live.

    Panel: the 32 lowest Knuth-hash vec_ids (organic — all score
    ~1.0, the honest negative) plus one PLANTED 5x-scaled vector
    (q_id = -1), which scores LOF ~ 3.9 at every SF — flagged at the
    1.5 threshold. Exactness: pair distances quantized to integer
    ten-thousandths (selection and MAX are then exact), per-point lrd
    quantized to integer 1e-6ths before the final r4 ratio — every
    aggregation is over exact bigints.

    Scale: LOF is notoriously O(n^2); this is the BOUNDED-PANEL form —
    three linear corpus passes with broadcast panels of 33, <=165,
    <=825 points (panel -> neighbors -> neighbors-of-neighbors), each
    a TakeOrdered-style top-k per panel point. Constant evaluation
    cost at any corpus size; full-corpus LOF would ride the ANN twins
    (`q_dedup_embedding_ann`) for candidate generation."""
    e = (
        _emb(spark, sf_dir)
        .select("vec_id", "emb")
        .localCheckpoint(eager=False)  # three kNN passes + panel legs
    )

    def knn(panel: DataFrame, qcol: str, ocol: str) -> DataFrame:
        """Top-k Euclidean neighbors of each panel row against e."""
        p = panel.select(
            F.col("vec_id").alias(qcol), F.col("emb").alias("q_emb")
        )
        d4 = (
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col("q_emb"),
                            F.col("emb"),
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                * 10000,
                0,
            )
            .cast("bigint")
            .alias("d4")
        )
        pairs = e.crossJoin(F.broadcast(p)).where(
            F.col(qcol) != F.col("vec_id")
        )
        w = Window.partitionBy(qcol).orderBy("d4", ocol)
        return (
            pairs.select(qcol, F.col("vec_id").alias(ocol), d4)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _LOF_K)
            .drop("rn")
        )

    organic = (
        e.orderBy(
            F.pmod(
                F.col("vec_id").cast("bigint")
                * F.lit(2654435761).cast("bigint"),
                F.lit(100000),
            ),
            "vec_id",
        )
        .limit(_LOF_NQ)
        .select("vec_id", "emb")
    )
    planted = e.where(F.col("vec_id") == 0).select(
        F.lit(-1).cast("bigint").alias("vec_id"),
        F.transform("emb", lambda x: x * 5.0).alias("emb"),
    )
    q0 = organic.unionByName(planted)
    knn1 = knn(q0, "q_id", "o_id")
    p1 = e.join(
        F.broadcast(knn1.select(F.col("o_id").alias("vec_id")).distinct()),
        "vec_id",
    )
    knn2 = knn(p1, "o_id", "p_id")
    kdist_o = knn2.groupBy("o_id").agg(F.max("d4").alias("kdist4"))
    p2 = e.join(
        F.broadcast(knn2.select(F.col("p_id").alias("vec_id")).distinct()),
        "vec_id",
    )
    knn3 = knn(p2, "p_id", "x_id")
    kdist_p = knn3.groupBy("p_id").agg(F.max("d4").alias("kdist4"))
    lrd6 = (
        F.round(F.lit(50000000000.0) / F.sum(F.greatest(F.col("kdist4"), F.col("d4"))), 0)
        .cast("bigint")
        .alias("lrd6")
    )
    lrd_o = (
        knn2.join(F.broadcast(kdist_p), "p_id").groupBy("o_id").agg(lrd6)
    )
    lrd_q = (
        knn1.join(F.broadcast(kdist_o), "o_id").groupBy("q_id").agg(lrd6)
    )
    lof4 = r4(F.sum("lrd6_o") / 5.0 / F.min("lrd6_q"))
    return (
        knn1.join(
            F.broadcast(lrd_o.withColumnRenamed("lrd6", "lrd6_o")), "o_id"
        )
        .join(
            F.broadcast(lrd_q.withColumnRenamed("lrd6", "lrd6_q")), "q_id"
        )
        .groupBy("q_id")
        .agg(lof4.alias("lof4"), (lof4 > _LOF_CRIT).alias("outlier"))
    )


_RECO_NQ = 64  # constant recommendation panel (the q_retrieval_metrics device)


@register(
    "q_reco_coverage",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), q AS (
      SELECT * FROM e
      ORDER BY (vec_id * 2654435761) % 100000, vec_id LIMIT {_RECO_NQ}
    ), top AS (
      SELECT * FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS nb_id, b.label AS nb_label,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY {R4(_COS)} DESC, b.vec_id) AS rn
        FROM q a JOIN e b ON a.vec_id != b.vec_id
      ) WHERE rn <= 5
    ), cat AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS catalog_n FROM e
    ), expo AS (
      SELECT nb_id, CAST(COUNT(*) AS BIGINT) AS c FROM top GROUP BY 1
    ), ranked AS (
      SELECT c, CAST(row_number() OVER (ORDER BY c, nb_id) AS BIGINT) AS i
      FROM expo
    ), gin AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rec,
             CAST(SUM(c) AS BIGINT) AS tot,
             CAST(SUM(i * c) AS BIGINT) AS sic
      FROM ranked
    ), lists AS (
      SELECT q_id, CAST(COUNT(DISTINCT nb_label) AS BIGINT) AS n_labels
      FROM top GROUP BY 1
    ), ild AS (
      SELECT CAST(SUM(n_labels) AS BIGINT) AS sum_labels,
             CAST(COUNT(*) AS BIGINT) AS n_q
      FROM lists
    )
    SELECT cat.catalog_n, gin.n_rec,
           {R4('gin.n_rec * 1.0 / cat.catalog_n')} AS coverage4,
           {R4('(2.0 * gin.sic) / (gin.n_rec * gin.tot)'
               ' - (gin.n_rec + 1.0) / gin.n_rec')} AS exposure_gini4,
           {R4('ild.sum_labels * 1.0 / ild.n_q')} AS mean_list_labels4
    FROM cat CROSS JOIN gin CROSS JOIN ild
    """,
    priority="P2",
    tags=("llm", "similarity", "retrieval", "evaluation"),
)
def q_reco_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate recommendation-quality metrics over the exact cosine
    top-5 lists of the constant 64-query panel — the BEYOND-ACCURACY
    evaluation beside `q_retrieval_metrics` (MRR/P@k measure whether
    lists are RIGHT; these measure what the system DOES TO THE
    CATALOG): catalog coverage@5 (share of items that appear in any
    list — low coverage = a popularity feedback loop starving the
    tail), exposure Gini over per-item recommendation counts (0 =
    every recommended item shown equally, 1 = all exposure on one
    item — the standard aggregate-diversity number), and mean
    distinct labels per list (intra-list diversity under the label
    taxonomy).

    Exactness: exposure counts and the Gini rank are exact integers
    (rank ties broken by item id); all three metrics are single r4
    formulas over exact bigints. Same panel, scoring, and tiebreaks
    as `q_retrieval_metrics`, so the two read as one evaluation
    suite.

    Scale: one linear candidate pass against the O(1) broadcast
    panel; the exposure frame is bounded by panel*k (<= 320 rows), so
    its ranking window is constant-size regardless of corpus."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm("emb"))
    q = (
        e.orderBy(
            F.pmod(
                F.col("vec_id").cast("bigint")
                * F.lit(2654435761).cast("bigint"),
                F.lit(100000),
            ),
            "vec_id",
        )
        .limit(_RECO_NQ)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    cos4 = F.round(
        F.try_divide(_dot("q_emb", "emb"), F.col("q_nrm") * F.col("nrm")), 4
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos4"), F.asc("nb_id"))
    top = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("nb_id"),
            F.col("label").alias("nb_label"),
            cos4.alias("cos4"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .localCheckpoint(eager=False)  # exposure leg + list-diversity leg
    )
    catalog_n = e.count()
    expo = top.groupBy("nb_id").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ranked = expo.select(
        "c",
        F.row_number()
        .over(Window.orderBy("c", "nb_id"))
        .cast("bigint")
        .alias("i"),
    )
    gin = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rec"),
        F.sum("c").cast("bigint").alias("tot"),
        F.sum(F.col("i") * F.col("c")).cast("bigint").alias("sic"),
    )
    ild = (
        top.groupBy("q_id")
        .agg(F.countDistinct("nb_label").cast("bigint").alias("n_labels"))
        .agg(
            F.sum("n_labels").cast("bigint").alias("sum_labels"),
            F.count(F.lit(1)).cast("bigint").alias("n_q"),
        )
    )
    return (
        gin.crossJoin(F.broadcast(ild))
        .select(
            F.lit(catalog_n).cast("bigint").alias("catalog_n"),
            "n_rec",
            r4(F.col("n_rec") * 1.0 / catalog_n).alias("coverage4"),
            r4(
                (2.0 * F.col("sic")) / (F.col("n_rec") * F.col("tot"))
                - (F.col("n_rec") + 1.0) / F.col("n_rec")
            ).alias("exposure_gini4"),
            r4(F.col("sum_labels") * 1.0 / F.col("n_q")).alias(
                "mean_list_labels4"
            ),
        )
    )


_CV_K = 10  # label clusters


@register(
    "q_cluster_validity",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), pts AS (
      SELECT 'organic' AS scope, vec_id, label,
             generate_subscripts(emb, 1) AS dim, UNNEST(emb) AS x
      FROM e
      UNION ALL
      SELECT 'planted' AS scope, vec_id, label,
             generate_subscripts(emb, 1) AS dim,
             UNNEST(emb) AS x
      FROM e
    ), shifted AS (
      SELECT scope, vec_id, label, dim,
             CASE WHEN scope = 'planted' AND dim = 1
                  THEN x + label * 10.0 ELSE x END AS x
      FROM pts
    ), cent AS (
      SELECT scope, label, dim, {R('AVG(x)', 10)} AS c
      FROM shifted GROUP BY 1, 2, 3
    ), gcent AS (
      SELECT scope, dim, {R('AVG(x)', 10)} AS g
      FROM shifted GROUP BY 1, 2
    ), counts AS (
      SELECT scope, label, CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_k
      FROM shifted GROUP BY 1, 2
    ), within_pt AS (
      SELECT s.scope, s.vec_id, s.label,
             CAST(SUM(CAST(ROUND((s.x - c.c) * (s.x - c.c) * 100000000, 0)
                           AS BIGINT)) AS BIGINT) AS d8
      FROM shifted s JOIN cent c
        ON s.scope = c.scope AND s.label = c.label AND s.dim = c.dim
      GROUP BY 1, 2, 3
    ), within AS (
      SELECT scope, CAST(SUM(d8) AS BIGINT) AS w8,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM within_pt GROUP BY 1
    ), between_k AS (
      SELECT c.scope, c.label,
             CAST(SUM(CAST(ROUND((c.c - g.g) * (c.c - g.g) * 100000000, 0)
                           AS BIGINT)) AS BIGINT) AS b8
      FROM cent c JOIN gcent g ON c.scope = g.scope AND c.dim = g.dim
      GROUP BY 1, 2
    ), between_tot AS (
      SELECT b.scope, CAST(SUM(k.n_k * b.b8) AS BIGINT) AS b8
      FROM between_k b JOIN counts k
        ON b.scope = k.scope AND b.label = k.label
      GROUP BY 1
    ), s_k AS (
      SELECT scope, label,
             CAST(ROUND(AVG(CAST(ROUND(SQRT(d8 / 100000000.0) * 10000, 0)
                                 AS BIGINT)), 0) AS BIGINT) AS sk4
      FROM within_pt GROUP BY 1, 2
    ), cdist AS (
      SELECT a.scope, a.label AS la, b.label AS lb,
             CAST(ROUND(SQRT(SUM(CAST(ROUND((a.c - b.c) * (a.c - b.c)
                                             * 100000000, 0) AS BIGINT))
                             / 100000000.0) * 10000, 0) AS BIGINT) AS m4
      FROM cent a JOIN cent b
        ON a.scope = b.scope AND a.dim = b.dim AND a.label != b.label
      GROUP BY 1, 2, 3
    ), r_jk AS (
      SELECT d.scope, d.la,
             MAX(CAST(ROUND((sa.sk4 + sb.sk4) * 10000.0 / d.m4, 0)
                      AS BIGINT)) AS r4max
      FROM cdist d
      JOIN s_k sa ON d.scope = sa.scope AND d.la = sa.label
      JOIN s_k sb ON d.scope = sb.scope AND d.lb = sb.label
      GROUP BY 1, 2
    ), db AS (
      SELECT scope, {R4('AVG(r4max) / 10000.0')} AS db4 FROM r_jk GROUP BY 1
    )
    SELECT w.scope, w.n, CAST({_CV_K} AS BIGINT) AS k,
           {R4(f'(bt.b8 / ({_CV_K} - 1.0)) / (w.w8 / (w.n - {_CV_K} * 1.0))')}
             AS ch4,
           db.db4
    FROM within w
    JOIN between_tot bt ON w.scope = bt.scope
    JOIN db ON w.scope = db.scope
    """,
    priority="P2",
    tags=("llm", "similarity", "clustering", "evaluation"),
)
def q_cluster_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal cluster-validity indices over the label partition of
    the embedding space — the EVALUATION half `q_cluster_kmeans`
    lacks: Calinski-Harabasz (between-dispersion / within-dispersion,
    bigger = tighter) and Davies-Bouldin (mean worst-pair overlap
    ratio, smaller = better), the two standard no-ground-truth
    indices for "did this clustering / labeling actually separate
    the space?". Run on two scopes at every SF: the organic labels
    over near-isotropic embeddings score CH ~ 1 / DB >> 1 (labels do
    NOT separate raw space — an honest negative most dashboards
    never show), and a planted scope shifting dim 1 by label*10
    scores CH in the thousands / DB << 1 — the separable control.

    Exactness: per-dim squared deviations quantize to integer
    1e-8ths BEFORE every sum (order-independent bigints); point
    distances and centroid distances quantize to 1e-4ths before
    averaging; centroids are r10 means (the PageRank discipline);
    CH and DB are single r4 formulas over exact integers.

    Scale: everything reduces through the (scope, label, dim) grain
    — two linear passes over the exploded vectors (centroids, then
    deviations) with the K x dim centroid frame broadcast back; the
    DB pair frame is K^2 rows. No pairwise point work anywhere."""
    pts = (
        _emb(spark, sf_dir)
        .select(
            "vec_id", "label", F.posexplode("emb").alias("dim0", "x")
        )
        .select(
            "vec_id", "label", (F.col("dim0") + 1).alias("dim"), "x"
        )
    )
    scoped = (
        pts.select(F.lit("organic").alias("scope"), "vec_id", "label", "dim", "x")
        .unionByName(
            pts.select(
                F.lit("planted").alias("scope"),
                "vec_id",
                "label",
                "dim",
                F.when(F.col("dim") == 1, F.col("x") + F.col("label") * 10.0)
                .otherwise(F.col("x"))
                .alias("x"),
            )
        )
        .localCheckpoint(eager=False)  # centroid pass + deviation pass
    )
    cent = scoped.groupBy("scope", "label", "dim").agg(
        F.round(F.avg("x"), 10).alias("c")
    )
    gcent = scoped.groupBy("scope", "dim").agg(
        F.round(F.avg("x"), 10).alias("g")
    )
    counts = scoped.groupBy("scope", "label").agg(
        F.countDistinct("vec_id").cast("bigint").alias("n_k")
    )
    q8 = lambda col: F.round(col * 100000000, 0).cast("bigint")  # noqa: E731
    within_pt = (
        scoped.join(F.broadcast(cent), ["scope", "label", "dim"])
        .groupBy("scope", "vec_id", "label")
        .agg(
            F.sum(q8((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))))
            .cast("bigint")
            .alias("d8")
        )
    )
    within = within_pt.groupBy("scope").agg(
        F.sum("d8").cast("bigint").alias("w8"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    between_k = (
        cent.join(F.broadcast(gcent), ["scope", "dim"])
        .groupBy("scope", "label")
        .agg(
            F.sum(q8((F.col("c") - F.col("g")) * (F.col("c") - F.col("g"))))
            .cast("bigint")
            .alias("b8")
        )
    )
    between_tot = (
        between_k.join(F.broadcast(counts), ["scope", "label"])
        .groupBy("scope")
        .agg(F.sum(F.col("n_k") * F.col("b8")).cast("bigint").alias("b8"))
    )
    s_k = within_pt.groupBy("scope", "label").agg(
        F.round(
            F.avg(
                F.round(F.sqrt(F.col("d8") / 100000000.0) * 10000, 0).cast(
                    "bigint"
                )
            ),
            0,
        )
        .cast("bigint")
        .alias("sk4")
    )
    ca = cent.select(
        "scope", F.col("label").alias("la"), "dim", F.col("c").alias("c_a")
    )
    cb = cent.select(
        F.col("scope").alias("scope_b"),
        F.col("label").alias("lb"),
        F.col("dim").alias("dim_b"),
        F.col("c").alias("c_b"),
    )
    cdist = (
        ca.join(
            F.broadcast(cb),
            (F.col("scope") == F.col("scope_b"))
            & (F.col("dim") == F.col("dim_b"))
            & (F.col("la") != F.col("lb")),
        )
        .groupBy("scope", "la", "lb")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        q8(
                            (F.col("c_a") - F.col("c_b"))
                            * (F.col("c_a") - F.col("c_b"))
                        )
                    )
                    / 100000000.0
                )
                * 10000,
                0,
            )
            .cast("bigint")
            .alias("m4")
        )
    )
    sa = s_k.select("scope", F.col("label").alias("la"), F.col("sk4").alias("sk4_a"))
    sb = s_k.select(
        F.col("scope").alias("s_b"), F.col("label").alias("lb_b"),
        F.col("sk4").alias("sk4_b"),
    )
    r_jk = (
        cdist.join(F.broadcast(sa), ["scope", "la"])
        .join(
            F.broadcast(sb),
            (F.col("scope") == F.col("s_b")) & (F.col("lb") == F.col("lb_b")),
        )
        .groupBy("scope", "la")
        .agg(
            F.max(
                F.round(
                    (F.col("sk4_a") + F.col("sk4_b")) * 10000.0 / F.col("m4"),
                    0,
                ).cast("bigint")
            ).alias("r4max")
        )
    )
    db = r_jk.groupBy("scope").agg(r4(F.avg("r4max") / 10000.0).alias("db4"))
    ch4 = r4(
        (F.col("b8") / (_CV_K - 1.0)) / (F.col("w8") / (F.col("n") - _CV_K * 1.0))
    )
    return (
        within.join(between_tot, "scope")
        .join(db, "scope")
        .select(
            "scope", "n", F.lit(_CV_K).cast("bigint").alias("k"),
            ch4.alias("ch4"), "db4",
        )
    )
