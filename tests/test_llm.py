"""Adversarial tests for the sketch-based / approximate LLM-pipeline
operators (the rows-only queries whose correctness the DuckDB oracle
cannot check): MinHash-LSH and SimHash dedup, LSH and IVF ANN.

Strategy mirrors SURVEY.md §5.2: every approximation is measured against
the exact computation it approximates — subset/soundness properties are
asserted exactly, recall against a floor measured with margin."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from modforms_db_spark.registry import get_registry

from tests.conftest import SF_DIR, _run


def _pairs(spark, name: str, id_cols: tuple[str, str]) -> set[tuple]:
    df = get_registry()[name].builder(spark, SF_DIR)
    return {(getattr(r, id_cols[0]), getattr(r, id_cols[1])) for r in df.collect()}


def test_minhash_lsh_sound_and_complete_enough(spark):
    """LSH candidates are exact-verified, so the output must be a SUBSET of
    the exact pairwise-Jaccard result (soundness, asserted exactly). With
    8 bands x 4 rows the per-pair candidate probability is 1-(1-j^4)^8 --
    98.5% at j=0.8, ->1 as j->1 -- and the fixture's 7289 exact pairs at
    sf0.001 measured 99.6% recall; assert >=99%. Pairs with IDENTICAL token
    sets produce identical signatures, so their recall must be exactly 1."""
    reg = get_registry()
    exact = {
        (r.d1, r.d2): r.jac
        for r in reg["q_dedup_jaccard"].builder(spark, SF_DIR).collect()
    }
    lsh = _pairs(spark, "q_dedup_minhash_lsh", ("d1", "d2"))
    assert lsh <= set(exact), f"unsound pairs: {lsh - set(exact)}"
    assert len(lsh) >= 0.99 * len(exact), (len(lsh), len(exact))
    identical = {p for p, j in exact.items() if j == 1.0}
    assert identical <= lsh, f"missed identical-set pairs: {identical - lsh}"


def test_simhash_identical_token_sets_collide(spark):
    """SimHash is a deterministic function of the distinct-token set, so
    the canonical near-dup groups (identical token sets, SURVEY.md §1.2)
    must map to identical fingerprints."""
    reg = get_registry()
    sim = {r.doc_id: r.simhash for r in reg["q_dedup_simhash"].builder(spark, SF_DIR).collect()}
    groups = reg["q_dedup_canonical"].builder(spark, SF_DIR).collect()
    assert groups, "fixture should contain canonical near-dup groups"
    for g in groups:
        ids = [int(x) for x in g.doc_ids_csv.split(",")]
        fps = {sim[i] for i in ids}
        assert len(fps) == 1, f"group {ids} got distinct simhashes {fps}"


def _topk_recall(spark, ann_name: str) -> float:
    exact = _pairs(spark, "q_sim_cosine_topk", ("q_id", "nb_id"))
    ann = _pairs(spark, ann_name, ("q_id", "nb_id"))
    return len(ann & exact) / len(exact)


def test_ivf_recall(spark):
    """IVF with 16 cells / nprobe=4 measured at 0.85 recall on both
    sf0.001 and sf0.01; assert a floor with margin."""
    assert _topk_recall(spark, "q_sim_ivf_topk") >= 0.7


def _zeroed_embeddings(spark, tmp_path) -> str:
    """A copy of the embeddings table with vec 0 zeroed (vec 0 is also an
    IVF seed centroid, so its cell must not break the other probes)."""
    import os

    from pyspark.sql import functions as F

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    assert e.where(F.col("vec_id") == 0).count() == 1
    e.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 0, F.transform("embedding", lambda x: x - x)
        ).otherwise(F.col("embedding")),
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_ivf_excludes_zero_norm_query(spark, tmp_path):
    """Cosine is undefined for a zero-norm vector, so q_sim_ivf_topk
    leaves such a query out explicitly; every other query keeps its full
    top-5."""
    sf = _zeroed_embeddings(spark, tmp_path)
    rows = get_registry()["q_sim_ivf_topk"].builder(spark, sf).collect()
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r.q_id] = per_q.get(r.q_id, 0) + 1
    assert 0 not in per_q, per_q
    assert per_q == {q: 5 for q in range(1, 20)}, per_q


@pytest.mark.parametrize(
    "name",
    [
        "q_sim_cosine_topk",
        "q_sim_threshold",
        "q_knn_classify",
        "q_sim_ann_lsh",
        "q_knn_classify_ann",
        "q_sim_topk_incremental",
        "q_label_propagation",
        "q_hard_negatives",
        "q_retrieval_metrics",
        "q_ndcg",
        "q_rbo",
        "q_reco_coverage",
        "q_dedup_embedding",
        "q_dedup_embedding_ann",
        "q_dedup_semantic",
    ],
)
def test_zero_norm_vector_scores_null(spark, tmp_path, monkeypatch, name):
    """Under ANSI mode a cosine against a zero-norm vector scores NULL
    (``try_divide``) instead of failing the query. DuckDB's ``x / 0.0``
    is NULL too (and its ``list_cosine_similarity`` of a zero vector is
    -1.0, below every threshold), so an oracle query must still equal its
    oracle on the zeroed copy; a rows-only query must run and score vec 0
    NULL. q_dedup_semantic pairs vec 0 with nothing, so it is its own
    keeper, at the session's budget and at budget 0."""
    import duckdb

    from modforms_db_spark import cache, session
    from modforms_db_spark.session import scoped_conf

    from tests.conftest import assert_parity

    sf = _zeroed_embeddings(spark, tmp_path)
    qd = get_registry()[name]
    with scoped_conf(spark, {"spark.sql.ansi.enabled": "true"}):
        if qd.oracle is not None:
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf}/embeddings.parquet/*.parquet')"
            )
            assert_parity(spark, con, name, sf)
            return
        rows = qd.builder(spark, sf).collect()
        if name == "q_dedup_semantic":
            cache.clear()
            monkeypatch.setattr(session, "driver_row_budget", lambda *a: 0)
            rows += qd.builder(spark, sf).collect()
    assert rows
    for r in (row.asDict() for row in rows):
        ids = {r.get(c) for c in ("q_id", "nb_id", "v1", "v2")}
        if "cos4" in r and 0 in ids:
            assert r["cos4"] is None, r
        if r.get("vec_id") == 0 and "keeper" in r:
            assert r["keeper"] == 0, r


def test_ann_lsh_recall(spark):
    """Random-hyperplane LSH (16 bits, 4 bands x 4) top-k recall.

    Round-6 re-pin: round 5's banding was DEGENERATE (a two-parameter
    transform lambda let Spark pass the array index as the plane id, so
    all 16 bits per vector were identical and every vector landed in
    bucket 0b0000 or 0b1111 — 'LSH' was passing half of all pairs as
    candidates, which is why the old recall looked high). With real
    hyperplanes the theory says: per-plane agreement p = 1 − θ/π, band
    collision p⁴, 4-band recall 1−(1−p⁴)⁴ ≈ 0.45-0.55 for this corpus's
    top-k cosine range — measured 0.49/0.45 at sf0.001/sf0.01. Floor
    0.3 with margin; the regime LSH exists for (true near-dups,
    cos ≥ 0.9) is pinned at ~1.0 by
    test_lsh_banding_recovers_planted_near_dups."""
    assert _topk_recall(spark, "q_sim_ann_lsh") >= 0.3


def test_ann_scores_match_exact_cosine(spark):
    """Where ANN and exact agree on a neighbor, the reported cosine must be
    identical — ANN approximates the CANDIDATE SET, never the metric."""
    reg = get_registry()
    exact = {
        (r.q_id, r.nb_id): r.cos4
        for r in reg["q_sim_cosine_topk"].builder(spark, SF_DIR).collect()
    }
    for name in ("q_sim_ivf_topk", "q_sim_ann_lsh"):
        for r in reg[name].builder(spark, SF_DIR).collect():
            if (r.q_id, r.nb_id) in exact:
                assert r.cos4 == exact[(r.q_id, r.nb_id)], (name, r)


def test_ngram_dedup_is_order_sensitive_subset(spark):
    """Bigram Jaccard only fires on sequential near-dups: every returned
    pair must also be a token-SET collision candidate (same canonical
    group) or share >=80% of distinct tokens — and scores lie in (0, 1]."""
    reg = get_registry()
    rows = reg["q_dedup_ngram"].builder(spark, SF_DIR).collect()
    for r in rows:
        assert 0.8 <= r.jac <= 1.0
        assert r.d1 < r.d2


def test_embedding_dedup_symmetric_and_bounded(spark):
    rows = get_registry()["q_dedup_embedding"].builder(spark, SF_DIR).collect()
    for r in rows:
        assert r.v1 < r.v2
        assert -1.0 <= r.cos4 <= 1.0


def test_components_absorb_canonical_groups(spark):
    """Docs with IDENTICAL token sets (q_dedup_canonical groups) AND the
    same lang have pairwise Jaccard 1.0 ≥ 0.5 (edges are within-lang), so
    each same-lang slice of a canonical group must land inside exactly one
    connected component."""
    from collections import defaultdict

    from modforms_db_spark.io import load

    reg = get_registry()
    comp = {
        r["doc_id"]: r["component"]
        for r in reg["q_dedup_components"].builder(spark, SF_DIR).collect()
    }
    assert comp, "no components found — edge threshold broke"
    langs = {
        r["doc_id"]: r["lang"] for r in load(spark, SF_DIR, "documents").collect()
    }
    groups = reg["q_dedup_canonical"].builder(spark, SF_DIR).collect()
    assert groups
    checked = 0
    for g in groups:
        by_lang = defaultdict(list)
        for x in g["doc_ids_csv"].split(","):
            by_lang[langs[int(x)]].append(int(x))
        for ids in by_lang.values():
            if len(ids) < 2:
                continue
            labels = {comp[i] for i in ids}
            assert len(labels) == 1, (ids, labels)
            checked += 1
    assert checked > 0, "no same-lang canonical group to check"
    # Component labels are the component's min member id.
    for doc, lbl in comp.items():
        assert lbl <= doc
        assert comp[lbl] == lbl


def test_mm_resize_fixed_size_and_deterministic(spark):
    """Real-BMP stride resize (round 6): every thumbnail is the fixed
    4×4 re-encoded BMP (54 + 48 bytes), channel means stay in [0, 255],
    and reruns are identical."""
    from modforms_db_spark.llm.multimodal import (
        _BMP_H,
        _BMP_W,
        _THUMB_SX,
        _THUMB_SY,
    )

    reg = get_registry()
    rows1 = {r["doc_id"]: r for r in reg["q_mm_resize"].builder(spark, SF_DIR).collect()}
    rows2 = {r["doc_id"]: r for r in reg["q_mm_resize"].builder(spark, SF_DIR).collect()}
    assert rows1.keys() == rows2.keys()
    tw, th = _BMP_W // _THUMB_SX, _BMP_H // _THUMB_SY
    for k, r in rows1.items():
        assert r["thumb_w"] == tw and r["thumb_h"] == th
        assert r["thumb_bytes"] == 54 + 3 * tw * th
        for ch in ("mean_r", "mean_g", "mean_b"):
            assert 0.0 <= r[ch] <= 255.0
        assert tuple(r) == tuple(rows2[k])


def test_simhash_pairs_exact_vs_bruteforce(spark):
    """4×16-bit chunk banding is EXACT for Hamming ≤ 3 (pigeonhole: 3
    flipped bits touch ≤ 3 of the 4 chunks, so one chunk matches) — the
    banded pairs must equal the brute-force all-pairs result, not just
    approximate it."""
    reg = get_registry()
    fps = {
        r.doc_id: r.simhash
        for r in reg["q_dedup_simhash"].builder(spark, SF_DIR).collect()
    }
    ids = sorted(fps)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r.d1, r.d2)
        for r in reg["q_dedup_simhash_pairs"].builder(spark, SF_DIR).collect()
    }
    assert want, "fixture should contain near-dup simhash pairs"
    assert got == want


def test_hll_merge_close_to_exact(spark):
    """Sketch estimates (per group and merged) must land within 5% of the
    exact distinct counts — the accuracy contract that makes the persisted
    sketch + merge rollup usable in place of count(DISTINCT)."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load

    reg = get_registry()
    got = {
        r.o_orderpriority: r
        for r in reg["q_agg_hll_merge"].builder(spark, SF_DIR).collect()
    }
    o = load(spark, SF_DIR, "orders")
    exact = {
        r.o_orderpriority: r.n
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["ALL"] = o.select("o_custkey").distinct().count()
    assert got.keys() == exact.keys()
    for k, row in got.items():
        assert row.exact_custkeys == exact[k], (k, row)
        assert row.within_tol, (k, row)


def test_pack_sequences_sharded_parallelism(spark):
    """The packing group key must be (lang, shard_id), not lang alone:
    parallelism has to grow with corpus size (VERDICT r1 scale-killer).
    At test SF (500 docs, 5 langs, shard = 256 docs) that means more
    groups than languages, bin-id ranges disjoint per shard, and every
    shard boundary starting a fresh bin."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load
    from modforms_db_spark.llm.pipeline import _PACK_SHARD_DOCS, _make_pack_pdf

    d = load(spark, SF_DIR, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.expr(f"doc_id div {_PACK_SHARD_DOCS}").alias("shard_id"),
    )
    n_langs = toks.select("lang").distinct().count()
    n_groups = toks.select("lang", "shard_id").distinct().count()
    assert n_groups > n_langs, (n_groups, n_langs)

    packed = toks.groupBy("lang", "shard_id").applyInPandas(
        _make_pack_pdf(),
        "doc_id long, lang string, n_toks int, shard_id long, bin long",
    )
    rows = packed.collect()
    # Bin ids live in the shard's reserved range → globally unique with
    # zero cross-shard coordination.
    for r in rows:
        assert r.shard_id * _PACK_SHARD_DOCS <= r.bin < (r.shard_id + 1) * _PACK_SHARD_DOCS, r
    # Each (lang, shard) group's first bin is exactly the range base
    # (fresh packer state per shard — deterministic under retry).
    first_bins = (
        packed.groupBy("lang", "shard_id").agg(F.min("bin").alias("b0")).collect()
    )
    for r in first_bins:
        assert r.b0 == r.shard_id * _PACK_SHARD_DOCS, r


def test_components_star_converges_in_olog_rounds(spark, monkeypatch):
    """Large-star/small-star must label a diameter-63 path graph in
    O(log n) alternations (min-label propagation would need ~63 rounds —
    the VERDICT r1 scale guard), and must agree exactly with the
    label-propagation baseline on the real near-dup graph. Budget 0
    keeps every round on the cluster."""
    from modforms_db_spark import session
    from modforms_db_spark.io import load
    from modforms_db_spark.llm.dedup import (
        _distinct_tokens,
        components_label_prop,
        connected_components,
        jaccard_pairs,
    )

    monkeypatch.setattr(session, "driver_row_budget", lambda *a: 0)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "d1 long, d2 long"
    )
    labels, rounds = connected_components(path)
    assert {(r.doc_id, r.component) for r in labels.collect()} == {
        (i, 0) for i in range(64)
    }
    assert rounds <= 8, rounds

    d = load(spark, SF_DIR, "documents")
    edges = jaccard_pairs(_distinct_tokens(d), 0.5).select("d1", "d2")
    star, _ = connected_components(edges)
    prop = components_label_prop(edges)
    got = {(r.doc_id, r.component) for r in star.collect()}
    want = {(r.doc_id, r.component) for r in prop.collect()}
    assert got == want


def test_components_driver_finish_boundary(spark, monkeypatch):
    """The driver finish applies exactly at or below the budget: a
    64-node path graph (63 edges) finishes on the driver with no star
    round at budget 63, and at budget 62 runs the star rounds on the
    cluster. Same labels both ways."""
    from modforms_db_spark import session
    from modforms_db_spark.llm.dedup import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "d1 long, d2 long"
    )
    want = {(i, 0) for i in range(64)}
    for budget, on_cluster in ((63, False), (62, True)):
        monkeypatch.setattr(session, "driver_row_budget", lambda *a: budget)
        labels, rounds = connected_components(path)
        assert {(r.doc_id, r.component) for r in labels.collect()} == want
        assert (rounds >= 1) == on_cluster, (budget, rounds)


def _kmeans_both_finishes(monkeypatch, vecs, k, iters):
    """(driver rows, distributed rows) of one `kmeans_fit`, sorted."""
    from modforms_db_spark import session
    from modforms_db_spark.llm.similarity import kmeans_fit

    driver = sorted(map(tuple, kmeans_fit(vecs, k, iters).collect()))
    with monkeypatch.context() as mp:
        mp.setattr(session, "driver_row_budget", lambda *a: 0)
        dist = sorted(map(tuple, kmeans_fit(vecs, k, iters).collect()))
    return driver, dist


def test_kmeans_deterministic_total_and_descending(spark, monkeypatch):
    """Laws beyond the (r7) SQL oracle: reruns are identical, the
    assignment partitions the input (sizes sum to the table count), and
    total inertia is non-increasing in the iteration count (Lloyd
    guarantee — the grid-quantized centroid is off the true mean by < 1
    unit per dim, so descent carries a ≤ 64·n grid-unit slack). The
    driver finish and the distributed rounds (budget 0) assign every
    vector identically at each iteration count."""
    from modforms_db_spark.llm.similarity import _emb

    reg = get_registry()
    r1 = sorted(map(tuple, reg["q_cluster_kmeans"].builder(spark, SF_DIR).collect()))
    r2 = sorted(map(tuple, reg["q_cluster_kmeans"].builder(spark, SF_DIR).collect()))
    assert r1 == r2
    vecs = _emb(spark, SF_DIR).select("vec_id", "emb")
    total = vecs.count()
    assert sum(r[1] for r in r1) == total
    inertia = {}
    for iters in (1, 3):
        driver, dist = _kmeans_both_finishes(monkeypatch, vecs, 8, iters)
        assert driver == dist, iters
        inertia[iters] = sum(r[2] for r in driver)
    assert inertia[3] <= inertia[1] + 64 * total, inertia


def test_kmeans_finishes_agree_on_ties_and_empty_clusters(spark, monkeypatch):
    """Hand-built grid where the integer rules decide the result: vec 1
    duplicates vec 0, so clusters 1 and 2 start on the same centroid,
    every tie goes to cluster 1 and cluster 2 loses all its members —
    it must drop out of later rounds, as `array_distinct` makes it do
    in the Spark form. Vec 3 is equidistant from centroids 1 and 3 in
    round 1 (lower id wins), and cluster 1's x-sum is negative (-503
    over 5 members), so truncating division (-100) and floor division
    (-101) give different centroids. Both finishes must agree."""
    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [0.0, 0.0]),
            (2, [1.0, 1.0]),
            (3, [-0.5, 1.5]),
            (4, [-0.001, 0.0]),
            (5, [-0.002, 0.0]),
            (6, [0.9, 1.0]),
        ],
        "vec_id long, emb array<double>",
    )
    for iters in (1, 2, 3):
        driver, dist = _kmeans_both_finishes(monkeypatch, vecs, 3, iters)
        assert driver == dist, (iters, driver, dist)
        assert {r[1] for r in driver} == {1, 3}, driver
    driver, _ = _kmeans_both_finishes(monkeypatch, vecs, 3, 1)
    assert driver[3] == (3, 1, 2_500_000), driver
    # Round 2 centroid 1 = (-503 div 5, 1500 div 5) = (-100, 300).
    driver, _ = _kmeans_both_finishes(monkeypatch, vecs, 3, 2)
    assert driver[0] == (0, 1, 100**2 + 300**2), driver


def test_prefix_filter_shrinks_candidates_but_not_results(spark):
    """q_dedup_jaccard_prefix must return EXACTLY the all-pairs result
    (same oracle, asserted here directly too) while generating strictly
    fewer candidate pairs than the naive every-token join — the property
    that makes it the exact-dedup scale path."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load
    from modforms_db_spark.llm.dedup import _distinct_tokens

    reg = get_registry()
    exact = {
        (r.d1, r.d2, r.jac)
        for r in reg["q_dedup_jaccard"].builder(spark, SF_DIR).collect()
    }
    pref = {
        (r.d1, r.d2, r.jac)
        for r in reg["q_dedup_jaccard_prefix"].builder(spark, SF_DIR).collect()
    }
    assert pref == exact

    toks = _distinct_tokens(load(spark, SF_DIR, "documents"))
    a, b = toks.alias("a"), toks.alias("b")
    naive_cands = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    # Recompute the prefix candidate count (same construction as the query).
    t = 0.8
    dfreq = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("df"))
    docs = (
        toks.join(dfreq, ["lang", "tok"])
        .groupBy("doc_id", "lang")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("st"))
        .select(
            "doc_id",
            "lang",
            F.transform("st", lambda s: s.getField("tok")).alias("stoks"),
            F.size("st").alias("n"),
        )
        .withColumn(
            "prefix",
            F.slice(
                "stoks", 1,
                (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast("int"),
            ),
        )
    )
    pa_ = docs.select("doc_id", "lang", F.explode("prefix").alias("tok")).alias("a")
    pb = docs.select("doc_id", "lang", F.explode("prefix").alias("tok")).alias("b")
    prefix_cands = (
        pa_.join(
            pb,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert prefix_cands < naive_cands, (prefix_cands, naive_cands)


def test_ngram_prefix_equals_allpairs(spark):
    """q_dedup_ngram_prefix (PPJoin over bigram shingles) must return
    EXACTLY the all-pairs q_dedup_ngram result — the scale twin closing
    the order-sensitive gap the token-set prefix variant can't cover —
    while generating strictly fewer candidate pairs than the naive
    every-gram join."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load

    reg = get_registry()
    exact = {
        (r.d1, r.d2, r.jac)
        for r in reg["q_dedup_ngram"].builder(spark, SF_DIR).collect()
    }
    pref = {
        (r.d1, r.d2, r.jac)
        for r in reg["q_dedup_ngram_prefix"].builder(spark, SF_DIR).collect()
    }
    assert pref == exact

    # Candidate-shrink property: prefix explode emits strictly fewer
    # (doc, gram) join rows than the full distinct-gram explode.
    d = load(spark, SF_DIR, "documents")
    toks = F.split("text", " ")
    grams = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    )
    full_rows = d.select(F.explode(grams)).count()
    t = 0.8
    prefix_rows = (
        d.select("doc_id", F.size(grams).alias("n"))
        .select(
            F.sum(
                (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast("long")
            ).alias("s")
        )
        .collect()[0]
        .s
    )
    assert prefix_rows < full_rows, (prefix_rows, full_rows)


def test_threshold_ann_subset_and_recall(spark):
    """q_sim_threshold_ann emits only TRUE pairs (exact-verified cosine →
    output ⊆ q_sim_threshold by construction, asserted) and must recover
    a floor fraction of them. The driver embeddings are uniform random —
    LSH's worst case (pairs barely over τ=0.2 have low per-band collision
    probability: p = 1 − acos(0.2)/π ≈ 0.56, 4-band recall
    1−(1−p⁴)⁴ ≈ 0.35 predicted; measured 0.41 at both SFs with the real
    hyperplanes round 6 restored — see test_ann_lsh_recall for the
    degenerate-banding history). Floor 0.3; the cos ≥ 0.9 regime is
    pinned at ~1.0 by test_lsh_banding_recovers_planted_near_dups."""
    reg = get_registry()
    exact = {
        (r.v1, r.v2, r.label, r.cos4)
        for r in reg["q_sim_threshold"].builder(spark, SF_DIR).collect()
    }
    ann = {
        (r.v1, r.v2, r.label, r.cos4)
        for r in reg["q_sim_threshold_ann"].builder(spark, SF_DIR).collect()
    }
    assert ann <= exact
    assert exact, "exact threshold query returned nothing — test is vacuous"
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.3, recall


def test_embedding_ann_subset_and_recall(spark):
    """q_dedup_embedding_ann emits only TRUE near-dup pairs (exact-verified
    cosine ⇒ output ⊆ q_dedup_embedding, asserted) and must recover a
    floor fraction. Deterministic: fixed hyperplanes + fixed data ⇒ fixed
    recall. Pairs at the 0.45 tail of uniform-random vectors are LSH's
    worst case: p = 1 − acos(0.45)/π ≈ 0.65, 4-band recall
    1−(1−p⁴)⁴ ≈ 0.54 predicted; measured 0.571/0.429 at sf0.001/sf0.01
    with the real hyperplanes round 6 restored (the old 0.857 was the
    degenerate banding passing half of all pairs — see
    test_ann_lsh_recall). Floor 0.25 (7-14 exact pairs ⇒ coarse
    quantization); cos ≥ 0.9 near-dups are pinned at ~1.0 by
    test_lsh_banding_recovers_planted_near_dups."""
    reg = get_registry()
    exact = {
        (r.v1, r.v2, r.cos4)
        for r in reg["q_dedup_embedding"].builder(spark, SF_DIR).collect()
    }
    ann = {
        (r.v1, r.v2, r.cos4)
        for r in reg["q_dedup_embedding_ann"].builder(spark, SF_DIR).collect()
    }
    assert ann <= exact
    assert exact, "exact embedding-dedup query returned nothing — vacuous"
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.25, recall


def test_lsh_banding_recovers_planted_near_dups(spark):
    """THE law LSH exists for: genuine near-duplicates (cos ≥ 0.99 —
    re-encoded/re-crawled embeddings) MUST collide. 40 deterministic
    base vectors each get a planted twin (one coordinate nudged 1%,
    cosine ≥ 0.999); per the banding math (p ≈ 0.99, 4-band collision
    1−(1−p⁴)⁴ ≈ 0.9999) every twin pair must share ≥1 (band, bucket) —
    asserted exactly, not as a floor. Drives the SAME lsh_band_long the
    three ANN operators share, so a banding regression (e.g. round 5's
    index-as-plane lambda bug, which this test would have survived —
    degenerate banding over-collides — but the recall floors above now
    bracket from the other side) cannot silently change the family."""
    from modforms_db_spark.llm.similarity import lsh_band_long

    rows = []
    for i in range(40):
        base = [float(((i * 31 + d * 17) % 201) - 100) / 100.0 for d in range(64)]
        twin = list(base)
        twin[i % 64] = twin[i % 64] + 0.01 * (abs(twin[i % 64]) + 0.1)
        rows.append((2 * i, base))
        rows.append((2 * i + 1, twin))
    df = spark.createDataFrame(rows, "vec_id bigint, emb array<double>")
    buckets = lsh_band_long(df).collect()
    by_vec: dict[int, set] = {}
    for r in buckets:
        by_vec.setdefault(r.vec_id, set()).add((r.band, r.bucket))
    missed = [
        i
        for i in range(40)
        if not (by_vec[2 * i] & by_vec[2 * i + 1])
    ]
    assert missed == [], f"planted near-dup twins missed by banding: {missed}"


def test_knn_classify_ann_totality_and_agreement(spark):
    """q_knn_classify_ann must classify EVERY vector exactly once (IVF
    probing narrows candidates, never drops queries), be deterministic
    across reruns, and agree with the exact classifier on a floor
    fraction of predictions. Uniform-random embeddings are IVF's worst
    case and a 5-vote majority amplifies neighbor misses (docstring
    numbers); measured agreement ≈ 0.64 at sf0.01 with nprobe=8, floor
    pinned at 0.45."""
    from modforms_db_spark.llm.similarity import _emb

    reg = get_registry()
    r1 = {
        r.q_id: r.pred_label
        for r in reg["q_knn_classify_ann"].builder(spark, SF_DIR).collect()
    }
    r2 = {
        r.q_id: r.pred_label
        for r in reg["q_knn_classify_ann"].builder(spark, SF_DIR).collect()
    }
    assert r1 == r2
    n_vecs = _emb(spark, SF_DIR).count()
    assert len(r1) == n_vecs
    exact = {
        r.q_id: r.pred_label
        for r in reg["q_knn_classify"].builder(spark, SF_DIR).collect()
    }
    assert set(r1) == set(exact)
    agreement = sum(1 for q in exact if r1[q] == exact[q]) / len(exact)
    assert agreement >= 0.45, agreement


def test_sample_weighted_rates_track_weights(spark):
    """Weighted Bernoulli sampling must keep ~w_pct% of docs: per-lang
    kept count is exactly the deterministic predicate's count (recomputed
    here independently), and the keep fraction rises with the weight."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load

    reg = get_registry()
    out = {r.lang: r for r in reg["q_sample_weighted"].builder(spark, SF_DIR).collect()}
    d = load(spark, SF_DIR, "documents")
    n_toks = F.size(F.split("text", " "))
    w_pct = F.least(F.lit(95), F.greatest(F.lit(5), n_toks))
    keep = (F.col("doc_id") * F.lit(2654435761).cast("bigint")) % 100 < w_pct
    want = {
        r.lang: (r.n, r.k)
        for r in d.select("lang", "doc_id", keep.cast("int").alias("kept"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("kept").alias("k"))
        .collect()
    }
    for lang, (n, k) in want.items():
        assert out[lang].n_docs == n and out[lang].n_kept == k, lang
        assert 0 <= out[lang].n_kept <= out[lang].n_docs


def test_fuzzy_apply_invariants_and_dominates_exact(spark):
    """q_dedup_fuzzy_apply: kept + dropped must partition the corpus,
    reruns are identical, and per lang it keeps AT MOST what the exact
    canonical apply keeps (identical token sets are jac-1.0 LSH pairs,
    so fuzzy components refine canonical groups)."""
    from modforms_db_spark.io import load

    reg = get_registry()
    r1 = {r.lang: r for r in reg["q_dedup_fuzzy_apply"].builder(spark, SF_DIR).collect()}
    r2 = {r.lang: r for r in reg["q_dedup_fuzzy_apply"].builder(spark, SF_DIR).collect()}
    assert {k: tuple(v) for k, v in r1.items()} == {k: tuple(v) for k, v in r2.items()}
    d = load(spark, SF_DIR, "documents")
    per_lang = {r.lang: r.n for r in d.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    for lang, row in r1.items():
        assert row.n_docs == per_lang[lang], lang
        assert row.n_kept + row.n_dropped == row.n_docs, lang
    exact = {r.lang: r for r in reg["q_dedup_apply"].builder(spark, SF_DIR).collect()}
    for lang in r1:
        assert r1[lang].n_kept <= exact[lang].n_kept, (
            lang, r1[lang].n_kept, exact[lang].n_kept,
        )


def test_doc_chunks_cover_every_token_with_correct_overlap(spark):
    """q_doc_chunks invariants: chunk ids dense from 0; consecutive
    chunks overlap by exactly W−S tokens (except the ragged tail, which
    may overlap more but never gaps); the last chunk ends at the doc's
    token count (full coverage); re-joining chunk 0 of a 1-chunk doc
    reproduces the doc text."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load
    from modforms_db_spark.llm.curation import _CHUNK_S, _CHUNK_W

    reg = get_registry()
    ch = reg["q_doc_chunks"].builder(spark, SF_DIR)
    d = load(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n"), "text"
    )
    per_doc = (
        ch.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_id").alias("max_id"),
            F.min("chunk_id").alias("min_id"),
            F.max(F.col("chunk_start") + F.col("chunk_len") - 1).alias("cover_end"),
        )
        .join(d, "doc_id")
        .collect()
    )
    assert per_doc
    for r in per_doc:
        assert r.min_id == 0 and r.max_id == r.n_chunks - 1, r  # dense ids
        assert r.cover_end == r.n, r  # coverage reaches the last token
        # no gaps: stride ≤ W guarantees start_{i+1} ≤ end_i + 1
        assert _CHUNK_S <= _CHUNK_W
    single = (
        ch.join(d, "doc_id")
        .where(F.col("n") <= _CHUNK_W)
        .select((F.col("chunk_text") == F.col("text")).alias("eq"))
        .collect()
    )
    assert single and all(r.eq for r in single)


def test_compression_ratio_laws(spark):
    """zlib-ratio laws: deterministic across two runs, bounded in (0, 1.5],
    and a highly repetitive text scores strictly below a high-entropy one."""
    from modforms_db_spark.registry import get_registry

    from tests.conftest import SF_DIR

    build = get_registry()["q_compression_ratio"].builder
    a = {r.doc_id: r.ratio for r in build(spark, SF_DIR).collect()}
    b = {r.doc_id: r.ratio for r in build(spark, SF_DIR).collect()}
    assert a == b  # deterministic across runs/partitionings
    assert all(0 < v <= 1.5 for v in a.values())

    import zlib

    rep = "spam ham " * 200
    import random

    rng = random.Random(7)
    noisy = "".join(chr(rng.randint(33, 126)) for _ in range(1600))
    r_rep = len(zlib.compress(rep.encode(), 6)) / len(rep.encode())
    r_noisy = len(zlib.compress(noisy.encode(), 6)) / len(noisy.encode())
    assert r_rep < 0.1 < r_noisy


def test_dedup_exact_nonvacuous_with_planted_reingest(spark):
    """q_dedup_exact was vacuous below sf0.1 (zero byte-identical dups in
    the shipped corpus — CORRECTNESS_r04 hash-passed on empty==empty).
    The round-5 planted re-ingestion (every 37th doc appended again)
    guarantees groups at every SF. Laws: non-empty; every group has
    n ≥ 2; at least as many groups as distinct re-ingested texts."""
    from pyspark.sql import functions as F

    from modforms_db_spark.io import load

    out = get_registry()["q_dedup_exact"].builder(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out.n >= 2).all()
    planted = (
        load(spark, SF_DIR, "documents")
        .where(F.col("doc_id") % 37 == 0)
        .select("text")
        .distinct()
        .count()
    )
    assert len(out) >= planted > 0


def test_semantic_dedup_laws(spark):
    """SemDeDup pipeline laws (q_dedup_semantic is rows-only — k-means
    fp argmin chains aren't oracle-able): (1) totality — exactly one
    row per vector; (2) keeper idempotence — keeper ≤ vec_id, a
    keeper's keeper is itself, is_keeper ⟺ keeper == vec_id;
    (3) soundness vs the exact pair set — every q_dedup_embedding pair
    (exact cos ≥ 0.45) whose BOTH ends landed in the same cluster must
    share a keeper (within-cluster recall of the exact graph is 100%
    by construction; only cross-cluster pairs may be lost);
    (4) rerun determinism."""
    reg = get_registry()
    rows1 = reg["q_dedup_semantic"].builder(spark, SF_DIR).collect()
    rows2 = reg["q_dedup_semantic"].builder(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))

    from modforms_db_spark.io import load

    n_vecs = load(spark, SF_DIR, "embeddings").count()
    assert len(rows1) == n_vecs
    assert len({r.vec_id for r in rows1}) == n_vecs

    keeper = {r.vec_id: r.keeper for r in rows1}
    cluster = {r.vec_id: r.cluster for r in rows1}
    for r in rows1:
        assert r.keeper <= r.vec_id
        assert keeper[r.keeper] == r.keeper, (r.vec_id, r.keeper)
        assert r.is_keeper == (r.keeper == r.vec_id)

    exact = _pairs(spark, "q_dedup_embedding", ("v1", "v2"))
    assert exact, "exact embedding-dedup pair set is empty — vacuous"
    same_cluster = [(a, b) for a, b in exact if cluster[a] == cluster[b]]
    assert same_cluster, "no exact pair co-clustered — soundness check vacuous"
    for a, b in same_cluster:
        assert keeper[a] == keeper[b], (a, b, keeper[a], keeper[b])


def _sem_finish(monkeypatch, build, budget=None):
    """(sorted labels of ``build()``, whether its pairs ran on the
    cluster) with ``budget`` standing in for `session.driver_row_budget`
    (None keeps the session's own)."""
    from modforms_db_spark import session
    from modforms_db_spark.llm import dedup

    cc, calls = dedup.connected_components, []

    def spy(*a, **kw):
        calls.append(a)
        return cc(*a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(dedup, "connected_components", spy)
        if budget is not None:
            mp.setattr(session, "driver_row_budget", budget)
        labels = sorted(map(tuple, build().collect()))
    return labels, bool(calls)


def _sem_fixture(spark):
    """Clustered vectors where the keep rule decides: 1-2 pass (cos
    0.995), 3 has zero norm, 4 pairs with nobody, 5's NaN element makes
    its cosines NaN (kept: Spark orders NaN above every number), and 8
    equals 1 but sits in another cluster. 9 pairs × 3 dims."""
    nan = float("nan")
    return spark.createDataFrame(
        [
            (1, 1, [1.0, 0.0, 0.0]),
            (2, 1, [1.0, 0.1, 0.0]),
            (3, 1, [0.0, 0.0, 0.0]),
            (4, 1, [0.0, 1.0, 0.0]),
            (5, 2, [nan, 1.0, 0.0]),
            (6, 2, [0.0, 0.0, 1.0]),
            (7, 2, [0.0, 1.0, 1.0]),
            (8, 3, [1.0, 0.0, 0.0]),
        ],
        "vec_id long, cluster int, emb array<double>",
    )


def test_semantic_finishes_agree(spark, monkeypatch):
    """The semantic index's driver finish and its distributed pairs leg
    (budget 0) give the same labels, on SF_DIR and, under ANSI mode, on a
    fixture with a zero-norm row and a NaN element."""
    from modforms_db_spark.llm.dedup import _sem_components, _sem_labels
    from modforms_db_spark.session import scoped_conf

    def both(build):
        driver, on_cluster = _sem_finish(monkeypatch, build)
        assert driver and not on_cluster
        dist, on_cluster = _sem_finish(monkeypatch, build, lambda *a: 0)
        assert on_cluster
        assert driver == dist
        return driver

    both(lambda: _sem_labels.__wrapped__(spark, SF_DIR))
    with scoped_conf(spark, {"spark.sql.ansi.enabled": "true"}):
        got = both(lambda: _sem_components(_sem_fixture(spark)))
    assert got == [(1, 1), (2, 1), (5, 5), (6, 5), (7, 5)], got


def test_semantic_driver_finish_boundary(spark, monkeypatch):
    """The driver finish applies exactly when the 8 rows fit the row
    budget; one less runs the pairs on the cluster. Same labels both
    ways."""
    from modforms_db_spark.llm import dedup

    want = [(1, 1), (2, 1), (5, 5), (6, 5), (7, 5)]
    for rows, on_cluster in ((8, False), (7, True)):
        labels, ran = _sem_finish(
            monkeypatch,
            lambda: dedup._sem_components(_sem_fixture(spark)),
            lambda _spark, row_bytes: rows,
        )
        assert labels == want, (rows, labels)
        assert ran == on_cluster, rows


def test_semantic_driver_keep_matches_spark_round(spark):
    """The driver's keep rule equals Spark's ``round(try_divide(dot,
    den), 4) >= 0.45`` at the threshold's neighbouring doubles: Spark's
    round is monotone, so agreement there is agreement everywhere. NaN
    is kept and a zero denominator (NULL in Spark) drops the pair."""
    import math

    import numpy as np

    from modforms_db_spark.llm.dedup import _sem_keep

    pts = [
        (math.nextafter(0.44995, 0.0), 1.0),
        (0.44995, 1.0),
        (math.nextafter(0.44995, 1.0), 1.0),
        (float("nan"), 1.0),
        (0.5, 0.0),
        (float("nan"), 0.0),
    ]
    df = spark.createDataFrame(
        [(i, d, n) for i, (d, n) in enumerate(pts)], "i int, dot double, den double"
    )
    keep = F.round(F.try_divide("dot", "den"), 4) >= 0.45
    got = [bool(r.k) for r in df.select("i", keep.alias("k")).orderBy("i").collect()]
    dot, den = (np.array(c) for c in zip(*pts))
    assert got == [False, True, True, True, False, False], got
    assert _sem_keep(dot, den).tolist() == got


def test_ivf_recall_curve_monotone_and_bounded(spark):
    """Recall@5 must be monotone non-decreasing in nprobe (each curve
    point's candidate set contains the previous one's) and every mean
    recall sits in [0, 1]; the largest probe budget must beat the
    smallest unless the smallest is already perfect."""
    rows = {
        r.nprobe: r
        for r in get_registry()["q_ivf_recall_curve"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert sorted(rows) == [1, 2, 4, 8]
    prev = -1.0
    for p in [1, 2, 4, 8]:
        r = rows[p]
        assert 0.0 <= r.mean_recall <= 1.0
        assert r.mean_recall >= prev
        assert 0 <= r.min_matched <= 5
        assert 0 <= r.full_recall_queries <= r.n_queries
        prev = r.mean_recall
    if rows[1].mean_recall < 1.0:
        assert rows[8].mean_recall > rows[1].mean_recall


def test_hubness_mass_conservation(spark):
    """The k-occurrence histogram must partition the corpus: bucket
    populations sum to the vector count, bucket 0 counts the antihubs,
    and every bucket's max occurrence is consistent with its label."""
    rows = {
        r.occ_bucket: r
        for r in get_registry()["q_hubness_audit"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert sorted(rows) == list(range(7))
    from modforms_db_spark.io import load

    n_vecs = load(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_vectors for r in rows.values()) == n_vecs
    for b, r in rows.items():
        if b < 6 and r.n_vectors > 0:
            assert r.max_occ == b
        if b == 6 and r.n_vectors > 0:
            assert r.max_occ >= 6


def test_bpe_apply_greedy_overlap_law(spark, tmp_path):
    """Pin the gaps-islands run-parity device against hand-computed
    greedy left-to-right BPE on overlap-heavy tokens: corpus of one
    doc 'aaaa aaa aa' → vocab {aaaa:1, aaa:1, aa:1}; round-1 top pair
    is (a,a) with weighted count 3+2+1 = 6; greedy merges 2 in
    'aaaa' (pos 1,3), 1 in 'aaa' (pos 1, pos 2 overlaps), 1 in 'aa'
    → merged_w = 4; symbols after = 9 − 4 = 5."""
    import pandas as pd

    from modforms_db_spark.registry import get_registry

    pdf = pd.DataFrame(
        {
            "doc_id": [0],
            "text": ["aaaa aaa aa"],
            "lang": ["en"],
            "source": ["t"],
            "n_chars": [11],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = {
        r["round"]: r
        for r in get_registry()["q_bpe_apply"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    r1 = rows[1]
    assert r1["pair"] == "a+a"
    assert r1["pair_w"] == 6  # 3 + 2 + 1 adjacent positions
    assert r1["merged_w"] == 4  # greedy: 2 + 1 + 1 non-overlapping
    assert r1["syms_after_w"] == 5  # 9 chars - 4 merges
    # round 2: grain is aa|aa, aa|a, aa → top pair (aa,aa) w=1 from
    # 'aaaa'; (aa,a) w=1 from 'aaa' — tiebreak pair asc picks (aa,a)
    r2 = rows[2]
    assert r2["pair"] in ("aa+a", "aa+aa")
    assert r2["merged_w"] == 1


# -- planted/organic behavior contracts of the curation, pipeline and
# similarity operators, and the connected-components / k-means internals


def test_conformal_coverage_near_nominal(spark):
    df = _run(spark, "q_conformal_interval")
    for _, r in df.iterrows():
        nominal = (100 - r["alpha_pct"]) / 100.0
        # guaranteed >= nominal in expectation; allow small-sample slack
        assert r["coverage4"] > nominal - 0.05, r
        assert r["qhat_dollars2"] > 0


def test_lof_planted_outlier_separates(spark):
    df = _run(spark, "q_lof_panel")
    planted = df[df["q_id"] == -1]
    organic = df[df["q_id"] != -1]
    assert planted["outlier"].all() and planted["lof4"].iloc[0] > 2.5
    assert not organic["outlier"].any()
    assert organic["lof4"].max() < 1.3


def test_cluster_validity_contrast(spark):
    df = _run(spark, "q_cluster_validity").set_index("scope")
    assert df.loc["planted", "ch4"] > 100 * df.loc["organic", "ch4"]
    assert df.loc["planted", "db4"] < df.loc["organic", "db4"] / 10


def test_reco_coverage_bounds(spark):
    row = _run(spark, "q_reco_coverage").iloc[0]
    assert 0 < row["coverage4"] <= 1
    assert 0 <= row["exposure_gini4"] <= 1
    assert 1 <= row["mean_list_labels4"] <= 5


def test_t_closeness_planted_leak_only(spark):
    df = _run(spark, "q_t_closeness")
    leak = df[df["group_id"] == "LEAK_planted"]
    organic = df[df["group_id"] != "LEAK_planted"]
    assert leak["violates"].all() and leak["t4"].iloc[0] > 0.4
    assert not organic["violates"].any()


def test_curriculum_pool_tracks_competence(spark):
    df = _run(spark, "q_curriculum_competence").sort_values("t")
    # pool grows monotonically and ends at the full corpus
    assert df["pool_n"].is_monotonic_increasing
    assert df.iloc[-1]["pool_frac4"] == 1.0
    # pool_frac tracks c(t) = sqrt(t/5) within rounding of the rank grid
    for _, r in df.iterrows():
        assert abs(r["pool_frac4"] - (r["t"] / 5.0) ** 0.5) < 0.01
    assert df["hardest"].is_monotonic_increasing


def test_ipf_margins_converge(spark):
    import pandas as pd

    df = _run(spark, "q_ipf_raking")
    n_total = df["n"].sum()
    col_target = n_total / df["c_mktsegment"].nunique()
    col_margins = df.groupby("c_mktsegment")["w4"].sum()
    # column margins exact (to r4 accumulation) after a column step
    assert (abs(col_margins - col_target) < 0.1).all()
    row_target = n_total / df["c_nationkey"].nunique()
    row_margins = df.groupby("c_nationkey")["w4"].sum()
    # row margins approximately converged after 3 rounds
    assert (abs(row_margins - row_target) / row_target < 0.05).all()


def test_canary_audit_gate_specificity(spark):
    df = _run(spark, "q_canary_audit").set_index("family")
    clean = df.loc["clean"]
    assert (
        clean["n_injected"]
        == clean["after_dedup"]
        == clean["after_repfilter"]
        == clean["after_decontam"]
    )
    assert df.loc["duplicate", "after_dedup"] * 2 == df.loc["duplicate", "n_injected"]
    assert df.loc["repetitive", "after_repfilter"] == 0
    assert df.loc["repetitive", "after_dedup"] == df.loc["repetitive", "n_injected"]
    assert df.loc["leaked", "after_decontam"] == 0
    assert df.loc["leaked", "after_repfilter"] == df.loc["leaked", "n_injected"]


def test_fairness_flags_only_biased_group(spark):
    df = _run(spark, "q_fairness_parity")
    uniform = df[df["scope"] == "uniform_gate"]
    assert uniform["passes_80pct"].all()
    biased = df[df["scope"] == "biased_gate"].set_index("lang")
    assert not biased.loc["de", "passes_80pct"]
    others = biased.drop(index="de")
    assert others["passes_80pct"].all()
    # the biased gate also degrades de's TPR (equalized-odds view)
    assert biased.loc["de", "tpr4"] < others["tpr4"].min()


def test_pr_auc_vs_roc_relationship(spark):
    pr = _run(spark, "q_pr_auc").set_index("source")
    roc = _run(spark, "q_roc_auc").set_index("source")
    both = pr.join(roc[["auc"]], how="inner").dropna()
    # AP is bounded (0, 1]; and must beat the random baseline
    # (prevalence) wherever ROC-AUC does better than chance
    for src, r in both.iterrows():
        prev = r["n_pos"] / (r["n_pos"] + r["n_neg"])
        assert 0 < r["ap"] <= 1
        if r["auc"] > 0.55:
            assert r["ap"] > prev, (src, r["ap"], prev)


def test_brier_murphy_identity_components(spark):
    df = _run(spark, "q_brier_decomposition")
    # all three components live in their ranges; reliability small for a
    # roughly calibrated score, uncertainty = p(1-p) <= 0.25
    assert (df["reliability4"] >= 0).all()
    assert (df["resolution4"] >= 0).all()
    assert (df["uncertainty4"] <= 0.25 + 1e-9).all()
    # resolution can never exceed uncertainty (Murphy bound)
    assert (df["resolution4"] <= df["uncertainty4"] + 1e-4).all()


def test_qini_rises_then_flattens_above_baseline(spark):
    df = _run(spark, "q_uplift_qini").sort_values("decile")
    # above the random-targeting line strictly inside the curve
    mid = df[(df["decile"] >= 2) & (df["decile"] <= 9)]
    assert (mid["qini4"] > mid["random_baseline4"]).all()
    # effect concentrates in the top 3 deciles: by decile 3 the curve
    # is already near its plateau
    q3 = df[df["decile"] == 3]["qini4"].iloc[0]
    qmax = df["qini4"].max()
    assert q3 > 0.75 * qmax
    # endpoint equals the baseline endpoint by construction
    last = df[df["decile"] == 10]
    assert abs(last["qini4"].iloc[0] - last["random_baseline4"].iloc[0]) < 1e-9


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


def test_star_halve_emits_canonical_rows_without_recanonicalization(spark):
    """`_star_halve` contract: every emitted row is already (a, b) with
    a > b — m = min(Γ(u) ∪ {u}) is ≤ every emitted partner, so no
    greatest/least re-canonicalization is needed and no reversed pair
    may surface. Exercised on a graph with chains, a clique, and
    reversed input orientations."""
    from modforms_db_spark.llm.dedup import _star_halve

    edges = spark.createDataFrame(
        [(5, 1), (2, 5), (9, 2), (7, 3), (3, 8), (10, 10), (4, 6), (6, 4)],
        "d1 long, d2 long",
    ).select(
        F.greatest("d1", "d2").alias("a"), F.least("d1", "d2").alias("b")
    ).where(F.col("a") != F.col("b"))
    out = _star_halve(edges)
    assert out.where(F.col("a") <= F.col("b")).isEmpty()
