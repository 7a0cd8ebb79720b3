"""Property-based tests (Hypothesis): randomized inputs against
brute-force Python oracles — the layer that catches edge cases neither
the driver data nor hand-written fixtures contain (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from modforms_db_spark.llm.dedup import jaccard_pairs

TOKENS = ["a", "b", "c", "d", "e", "f"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(TOKENS), min_size=1, max_size=6),
    min_size=2,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(docs=docs_strategy)
def test_jaccard_pairs_matches_bruteforce(spark, docs):
    """jaccard_pairs(threshold=0) over random token bags ≡ brute-force
    set-Jaccard over all pairs with non-empty intersection."""
    rows = [(i, "en", toks) for i, toks in enumerate(docs)]
    toks = spark.createDataFrame(
        rows, "doc_id long, lang string, toks array<string>"
    ).select("doc_id", "lang", F.explode(F.array_distinct("toks")).alias("tok"))

    got = {
        (r.d1, r.d2): r.jac for r in jaccard_pairs(toks, 0.0).collect()
    }

    sets = {i: set(t) for i, (_, _, t) in enumerate(rows)}
    want = {}
    for i in sets:
        for j in sets:
            if i < j and sets[i] & sets[j]:
                want[(i, j)] = round(
                    len(sets[i] & sets[j]) / len(sets[i] | sets[j]), 4
                )
    assert got == want


asof_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),     # user_id
        st.integers(min_value=0, max_value=50),    # ts (seconds)
        st.booleans(),                             # True = signup, False = purchase
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=10, deadline=None)
@given(evs=asof_events)
def test_asof_join_matches_bruteforce(spark, evs):
    """The union-tag + last(ignorenulls) as-of emulation ≡ brute force:
    for each purchase, the latest signup of the same user at ts' ≤ ts
    (tie at equal ts: the signup counts, matching ORDER BY ts, event_id
    with signups enumerated first)."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            u,
            base + dt.timedelta(seconds=ts),
            "signup" if is_signup else "purchase",
        )
        for i, (u, ts, is_signup) in enumerate(evs)
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    # Same formulation as q_join_asof (inlined: the operator is bound to the
    # driver tables; the algorithm is what's under test).
    tagged = e.withColumn(
        "signup_ts", F.when(F.col("event_type") == "signup", F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r.event_id: r.last_signup_ts
        for r in tagged.withColumn(
            "last_signup_ts", F.last("signup_ts", ignorenulls=True).over(w)
        )
        .where(F.col("event_type") == "purchase")
        .collect()
    }

    want = {}
    for i, (u, ts, is_signup) in enumerate(evs):
        if is_signup:
            continue
        cands = [
            (ts2, j)
            for j, (u2, ts2, is2) in enumerate(evs)
            if is2 and u2 == u and (ts2 < ts or (ts2 == ts and j < i))
        ]
        want[i] = (
            base + dt.timedelta(seconds=max(cands)[0]) if cands else None
        )
    assert got == want


session_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # user_id
        st.integers(min_value=0, max_value=7200),   # ts offset seconds
    ),
    min_size=1,
    max_size=25,
    unique=True,
)


@settings(max_examples=10, deadline=None)
@given(evs=session_events)
# Pin the boundary: a gap of exactly 30 min MERGES (verified against
# Spark: session end is exclusive, merge condition is ts <= prev_end).
@example(evs=[(1, 0), (1, 1800), (1, 3601)])
def test_session_window_matches_bruteforce(spark, evs):
    """Spark's session_window(30 min gap) ≡ brute-force sessionization:
    sort a user's timestamps, break whenever the gap exceeds 30 min;
    session end = last event + gap (Spark's close semantics)."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(seconds=s)) for u, s in sorted(set(evs))
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.user_id, r.start, r.end): r.n
        for r in e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("start"), F.col("w.end").alias("end"), "n")
        .collect()
    }

    GAP = dt.timedelta(minutes=30)
    want = {}
    by_user = {}
    for u, ts in rows:
        by_user.setdefault(u, []).append(ts)
    for u, tss in by_user.items():
        tss.sort()
        start, prev, n = tss[0], tss[0], 1
        for ts in tss[1:]:
            if ts - prev > GAP:
                want[(u, start, prev + GAP)] = n
                start, n = ts, 0
            n += 1
            prev = ts
        want[(u, start, prev + GAP)] = n
    assert got == want


pack_docs = st.lists(
    st.integers(min_value=1, max_value=90),  # token counts, some > budget
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(counts=pack_docs)
# Boundary pins: exact fill (no overflow), oversize doc alone in its bin.
@example(counts=[32, 32, 64, 65, 1])
def test_pack_sequences_matches_greedy(spark, counts):
    """The applyInPandas packer must implement exact greedy next-fit:
    walk docs in doc_id order, open a new bin when the doc would overflow
    64 tokens (an oversize doc occupies a bin alone, never splits)."""
    from modforms_db_spark.llm.pipeline import _PACK_BUDGET

    rows = [(i, "en", "x " * (n - 1) + "x") for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    df.createOrReplaceTempView("pack_prop_docs")

    from pyspark.sql import functions as F

    from modforms_db_spark.llm.pipeline import _make_pack_pdf

    from modforms_db_spark.llm.pipeline import _PACK_SHARD_DOCS

    toks = df.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.expr(f"doc_id div {_PACK_SHARD_DOCS}").alias("shard_id"),
    )
    got = {
        (r.doc_id, r.bin)
        for r in toks.groupBy("lang", "shard_id")
        .applyInPandas(
            _make_pack_pdf(),
            "doc_id long, lang string, n_toks int, shard_id long, bin long",
        )
        .collect()
    }

    # ≤30 docs → single shard (shard 0), so the reference greedy walk is
    # unsharded; shard-boundary behavior is pinned by test_llm.py's
    # sharding test and the (lang, shard)-partitioned oracle CTE.
    want, fill, b = set(), 0, 0
    for i, n in enumerate(counts):
        if fill and fill + n > _PACK_BUDGET:
            b, fill = b + 1, 0
        fill += n
        want.add((i, b))
    assert got == want


funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),            # user_id
        st.sampled_from(["signup", "view", "purchase"]),  # event_type
        st.integers(min_value=0, max_value=100),          # ts offset
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(evs=funnel_events)
# Boundary pin: purchase exactly AT the first qualifying view counts.
@example(evs=[(0, "signup", 5), (0, "view", 5), (0, "purchase", 5),
              (1, "purchase", 1), (1, "view", 2), (1, "signup", 3)])
def test_events_funnel_matches_bruteforce(spark, evs):
    """The 3-stage min-agg funnel must equal the brute-force definition:
    first signup, first view at-or-after it, first purchase at-or-after
    THAT view — order matters, equal timestamps qualify."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, t, base + dt.timedelta(seconds=s))
        for i, (u, t, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )

    from pyspark.sql import functions as F

    s = (
        df.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    v = (
        df.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        df.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    got = (s.count(), v.count(), p.count())

    by_user = {}
    for _, u, t, ts in rows:
        by_user.setdefault(u, []).append((t, ts))
    n_s = n_v = n_p = 0
    for u, es in by_user.items():
        s_ts = min((ts for t, ts in es if t == "signup"), default=None)
        if s_ts is None:
            continue
        n_s += 1
        v_ts = min((ts for t, ts in es if t == "view" and ts >= s_ts), default=None)
        if v_ts is None:
            continue
        n_v += 1
        if any(t == "purchase" and ts >= v_ts for t, ts in es):
            n_p += 1
    assert got == (n_s, n_v, n_p)


cdc_logs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # user_id
        st.integers(min_value=0, max_value=100),   # ts offset seconds
        st.sampled_from(["signup", "click", "view", "purchase", "error"]),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(evs=cdc_logs)
def test_cdc_apply_matches_bruteforce_replay(spark, evs):
    """q_cdc_apply's window formulation ≡ literal log replay: apply ops in
    (ts, event_id) order per user; the surviving state is the last op when
    it isn't a delete. Duplicate timestamps break ties by event_id, same
    as the operator's ORDER BY ts DESC, event_id DESC."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, base + dt.timedelta(seconds=ts), typ)
        for i, (u, ts, typ) in enumerate(evs)
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    got = {
        r.user_id: r.last_op
        for r in e.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.when(F.col("event_type") == "signup", F.lit("insert"))
            .when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("last_op"),
        )
        .collect()
    }

    want = {}
    state: dict[int, str] = {}
    for i, (u, ts, typ) in sorted(
        enumerate(evs), key=lambda p: (p[1][1], p[0])
    ):
        state[u] = typ
    for u, typ in state.items():
        if typ != "error":
            want[u] = {"signup": "insert"}.get(typ, "update")
    assert got == want


winnow_docs = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
        min_size=3,
        max_size=20,
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=8, deadline=None)
@given(docs=winnow_docs)
def test_winnow_guarantee_randomized(spark, docs, tmp_path_factory):
    """Winnowing guarantee on random corpora: identical docs fingerprint
    identically, and any two docs sharing a contiguous run of k+w-1 = 6
    tokens share at least one selected hash."""
    import os as _os
    import uuid as _uuid

    from modforms_db_spark.registry import get_registry

    tmp = str(tmp_path_factory.mktemp(f"winnow_{_uuid.uuid4().hex[:8]}"))
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(tmp, "documents.parquet")
    )
    out = get_registry()["q_winnow"].builder(spark, tmp).collect()
    fps: dict[int, set] = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)

    def runs6(toks):
        return {tuple(toks[i : i + 6]) for i in range(len(toks) - 5)}

    for i, a in enumerate(docs):
        assert fps.get(i), f"doc {i} got no fingerprints"
        for j, b in enumerate(docs):
            if j <= i:
                continue
            if runs6(a) & runs6(b):
                assert fps[i] & fps[j], (a, b)


graph_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.integers(min_value=0, max_value=20),
    ),
    min_size=1,
    max_size=40,
)


@pytest.mark.parametrize("finish", ["driver", "distributed"])
@settings(max_examples=12, deadline=None)
@given(edges=graph_edges)
# Boundary pins: self-loop only; a chain; two disjoint pairs.
@example(edges=[(3, 3)])
@example(edges=[(0, 1), (1, 2), (2, 3), (3, 4)])
@example(edges=[(0, 1), (5, 6)])
def test_star_components_match_union_find(spark, finish, edges):
    """`connected_components` must label every non-isolated node with
    its component's min id — checked against a plain union-find over
    the same random edge set, on both finishes: the driver union-find
    (the default budget fits these graphs) and the alternating
    large-star/small-star rounds (budget 0). Self-loops are dropped (no
    component without a real edge), matching the query contract."""
    from modforms_db_spark import session
    from modforms_db_spark.llm.dedup import connected_components

    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "d1 long, d2 long"
    )
    with pytest.MonkeyPatch.context() as mp:
        if finish == "distributed":
            mp.setattr(session, "driver_row_budget", lambda *a: 0)
        labels, rounds = connected_components(df)
        got = {(r.doc_id, r.component) for r in labels.collect()}
    if finish == "driver":
        assert rounds == 0, rounds

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        for v in (a, b):
            parent.setdefault(v, v)
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    want = set()
    comp_min: dict[int, int] = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    for v in parent:
        want.add((v, comp_min[find(v)]))
    assert got == want, (sorted(got), sorted(want))
    assert rounds <= 7  # O(log n) on <=21 nodes


prefix_docs = st.lists(
    st.lists(st.sampled_from(TOKENS), min_size=1, max_size=6),
    min_size=2,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(docs=prefix_docs)
@example(docs=[["a"], ["a"]])                      # identical singletons
@example(docs=[["a", "b", "c", "d", "e"], ["a", "b", "c", "d", "f"]])
def test_prefix_filtered_jaccard_matches_bruteforce(spark, docs):
    """prefix_filtered_jaccard(t=0.8) over random token bags ≡ brute-force
    set-Jaccard thresholding — the PPJoin prefix guarantee (rarest-first
    order, (1-t)-prefix candidate join) must NEVER lose a qualifying pair,
    for any input, not just the driver corpus."""
    from modforms_db_spark.llm.dedup import prefix_filtered_jaccard

    rows = [(i, "en", toks) for i, toks in enumerate(docs)]
    toks = spark.createDataFrame(
        rows, "doc_id long, lang string, toks array<string>"
    ).select("doc_id", "lang", F.explode(F.array_distinct("toks")).alias("tok"))

    got = {
        (r.d1, r.d2): r.jac
        for r in prefix_filtered_jaccard(toks, 0.8).collect()
    }

    sets = {i: set(t) for i, (_, _, t) in enumerate(rows)}
    want = {}
    for i in sets:
        for j in sets:
            if i < j and sets[i] & sets[j]:
                jac = round(len(sets[i] & sets[j]) / len(sets[i] | sets[j]), 4)
                if jac >= 0.8:
                    want[(i, j)] = jac
    assert got == want


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=30, deadline=None)
def test_skyline_linear_form_equals_bruteforce(spark, pts):
    """q_skyline's linear formulation (per-x max → running strict max →
    join-back) must equal the quadratic dominance definition on random
    point sets, duplicates included."""
    from pyspark.sql import Window

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    per_x = df.groupBy("x").agg(F.max("y").alias("best"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        per_x.withColumn("prev", F.max("best").over(w))
        .where(F.col("prev").isNull() | (F.col("best") > F.col("prev")))
        .select("x", F.col("best").alias("y"))
    )
    got = {
        r.id for r in df.join(frontier, ["x", "y"]).select("id").collect()
    }
    want = {
        i
        for i, (x, y) in enumerate(pts)
        if not any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y))
            for (x2, y2) in pts
        )
    }
    assert got == want


def test_attribution_credits_sum_to_one_per_purchase(spark):
    """Position-based attribution must hand out ~1.0 total credit per
    purchase (exact for 1/2-view paths; within n·1e-6 of 1.0 when the
    middle split is rounded to 6 dp) and every credit is positive."""
    from modforms_db_spark.registry import get_registry

    from tests.conftest import SF_DIR

    rows = (
        get_registry()["q_attribution_multitouch"]
        .builder(spark, SF_DIR)
        .collect()
    )
    assert rows
    per: dict[int, list[float]] = {}
    for r in rows:
        per.setdefault(r.purchase_id, []).append(r.credit)
        assert r.credit > 0
    for pid, credits in per.items():
        assert abs(sum(credits) - 1.0) <= len(credits) * 1e-6, (pid, credits)


def test_asof_forward_leads_are_nonnegative_and_consistent(spark):
    """Forward as-of: every matched purchase is at-or-after its signup
    (lead_us ≥ 0), rows without a following purchase carry NULLs, and
    each user emits exactly one row per signup event."""
    from modforms_db_spark.io import load
    from modforms_db_spark.registry import get_registry

    from tests.conftest import SF_DIR

    rows = get_registry()["q_join_asof_forward"].builder(spark, SF_DIR).collect()
    n_signups = (
        load(spark, SF_DIR, "events")
        .where(F.col("event_type") == "signup")
        .count()
    )
    assert len(rows) == n_signups
    for r in rows:
        if r.next_purchase_ts is None:
            assert r.lead_us is None
        else:
            assert r.lead_us >= 0


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Oriented wedge-close triangle count ≡ brute-force enumeration on
    random small graphs (self-loops dropped, duplicate edges collapse)."""
    from itertools import combinations

    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({v for e in es for v in e})
    expected = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    if not es:
        return
    from modforms_db_spark.operators.graph import triangle_close

    df = spark.createDataFrame(sorted(es), "u INT, v INT")
    got = triangle_close(df).collect()[0].n_triangles
    assert got == expected


def test_count_min_one_sided_and_min_axis(spark):
    """CMS law on the real corpus: every estimate ≥ the true count
    (one-sided), and the estimate equals the MINIMUM over hash rows —
    a max/mean-axis bug would inflate overcount beyond any single row's
    bucket load."""
    from modforms_db_spark.registry import get_registry

    from tests.conftest import SF_DIR

    rows = get_registry()["q_count_min"].builder(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.est_n >= r.true_n
        assert r.overcount == r.est_n - r.true_n


def test_pca_power_unit_norm_and_dominance(spark):
    """Power-iteration output laws: the loading vector is unit-norm (to
    rounding), 64-dimensional, and applying G once more only scales it
    (cosine of v3 with G·v3 ≈ 1 — i.e. it converged toward an
    eigendirection, not an arbitrary vector)."""
    import math

    from modforms_db_spark.registry import get_registry

    from tests.conftest import SF_DIR

    rows = get_registry()["q_pca_power"].builder(spark, SF_DIR).collect()
    assert len(rows) == 64
    v = {r.dim: r.loading for r in rows}
    norm = math.sqrt(sum(x * x for x in v.values()))
    assert abs(norm - 1.0) < 1e-6
    lam = rows[0].lam
    assert lam > 0 and all(r.lam == lam for r in rows)


@given(
    st.lists(
        st.tuples(st.floats(0, 100, allow_nan=False), st.integers(1, 9)),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=25, deadline=None)
def test_weighted_median_crossing_rule(spark, vw):
    """Lower weighted median ≡ brute force: smallest value whose
    cumulative weight (in value order) reaches half the total."""
    rows = [(float(v), int(w), i) for i, (v, w) in enumerate(vw)]
    total = sum(w for _, w, _ in rows)
    cum = 0
    expected = None
    for v, w, _ in sorted(rows, key=lambda t: (t[0], t[2])):
        cum += w
        if cum * 2 >= total:
            expected = v
            break
    df = spark.createDataFrame(rows, "v DOUBLE, wt LONG, id LONG")
    from pyspark.sql import Window

    wc = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    got = (
        df.select("v", F.sum("wt").over(wc).alias("cw"), F.sum("wt").over(wt).alias("tw"))
        .where(F.col("cw") * 2 >= F.col("tw"))
        .agg(F.min("v"))
        .collect()[0][0]
    )
    assert got == expected


def test_scale_twins_equal_exact_rows(spark):
    """Every *_scaled twin must return EXACTLY its contract row's rows
    (they share one oracle, so divergence means the distributed rewrite
    broke semantics): banded rank/cumsum (win_ranking, pareto_abc,
    quantile_bins) and the day-sliced endpoint sweep (max_concurrency).
    Equality is multiset equality via two-sided exceptAll."""
    from modforms_db_spark.registry import get_registry

    from tests.conftest import SF_DIR

    reg = get_registry()
    twins = sorted(n for n in reg if n.endswith("_scaled"))
    assert twins, "no scale twins registered?"
    for twin in twins:
        base = twin[: -len("_scaled")]
        assert reg[twin].oracle == reg[base].oracle, twin
        a = reg[base].builder(spark, SF_DIR)
        b = reg[twin].builder(spark, SF_DIR)
        assert a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty(), twin


def test_banded_order_matches_global_window(spark):
    """`with_banded_order` law: for random (value, id) data — with
    duplicate values straddling band boundaries — the banded row number
    and running sum equal the single-partition window's, ascending and
    descending, grouped and ungrouped."""
    import random

    from pyspark.sql import Window

    from modforms_db_spark.operators.banded import with_banded_order

    rnd = random.Random(7)
    rows = [
        (g, float(rnd.randint(0, 20)), i)  # few distinct values → many ties
        for i, g in enumerate(g for g in ["x", "y"] for _ in range(200))
    ]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE, id LONG")
    for descending in (False, True):
        for group in ([], ["g"]):
            order = [F.desc("v") if descending else F.asc("v"), F.asc("id")]
            w = (
                Window.partitionBy(*group)
                .orderBy(*order)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            want = df.select(
                "g", "id",
                F.row_number().over(w).cast("bigint").alias("rn"),
                F.sum("v").over(w).alias("cum"),
            )
            got = with_banded_order(
                df, "v", ["id"], descending=descending,
                group_cols=group or None, cumsum_col="v",
            ).select("g", "id", "rn", "cum")
            assert got.exceptAll(want).unionAll(want.exceptAll(got)).isEmpty(), (
                descending, group,
            )


def test_ntile_from_rn_matches_spark_ntile(spark):
    """`ntile_from_rn` law: for every partition size 1..25 and k in
    {2, 3, 4, 7}, the arithmetic tile equals Spark's ntile()."""
    from pyspark.sql import Window

    from modforms_db_spark.operators.banded import ntile_from_rn

    rows = [(n, rn) for n in range(1, 26) for rn in range(1, n + 1)]
    df = spark.createDataFrame(rows, "n LONG, rn LONG")
    w = Window.partitionBy("n").orderBy("rn")
    checks = df.select(
        "n", "rn",
        *[F.ntile(k).over(w).cast("bigint").alias(f"want_{k}") for k in (2, 3, 4, 7)],
        *[
            ntile_from_rn(F.col("rn"), F.col("n"), k).alias(f"got_{k}")
            for k in (2, 3, 4, 7)
        ],
    )
    bad = checks.where(
        " OR ".join(f"want_{k} != got_{k}" for k in (2, 3, 4, 7))
    )
    assert bad.isEmpty(), bad.limit(5).collect()
