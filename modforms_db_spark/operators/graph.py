"""Iterative graph analytics over relational-derived edge lists —
PageRank on the customer→supplier purchase graph (who funds whom). The
third iterative-algorithm family next to Lloyd k-means
(`llm/similarity.kmeans_fit`) and large-star/small-star connected
components (`llm/dedup`): per-round keyed shuffle instead of broadcast
state, because rank state is O(|V|) and lives distributed.

Determinism discipline (same rule as the repo's other fp reductions):
every per-node contribution sum and the dangling-mass total are rounded
to 10 dp at each iteration on BOTH engines, so partition-order ulps
(~1e-16) can never accumulate across rounds or flip a comparison; the
oracle unrolls the fixed iteration count as chained CTEs (aggregation is
not allowed in a standard recursive CTE member).

Scale: edges build with ONE shuffle on (src, dst); out-weights reuse the
src partitioning; each round is edges⋈ranks on src (co-partitioned after
the first round) + a groupBy dst — the canonical Pregel-style rank
exchange. Rank state is never collected to the driver; N and the
dangling mass ride 1-row broadcast aggregates. localCheckpoint
truncates per-round lineage exactly as kmeans_fit does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R4
from modforms_db_spark.parity import d38, r4
from modforms_db_spark.registry import register

_D = 0.85  # damping
_ITERS = 3


def _oracle_iteration(prev: str, k: int) -> str:
    """One unrolled PageRank round as two chained CTEs (dangling mass,
    then the rank update) reading the previous round's rank CTE."""
    return f"""
    dang{k} AS (
      SELECT {R(f"COALESCE(SUM(r.rank), 0)", 10)} AS mass
      FROM {prev} r LEFT JOIN outw o ON r.node = o.src
      WHERE o.src IS NULL
    ),
    rank{k} AS (
      SELECT n.node,
             {R(
                 f"(1 - {_D}) / nn.n + {_D} * COALESCE(c.contrib, 0) "
                 f"+ {_D} * d.mass / nn.n",
                 10,
             )} AS rank
      FROM nodes n
      CROSS JOIN nn CROSS JOIN dang{k} d
      LEFT JOIN (
        SELECT e.dst AS node,
               {R(f"SUM(r.rank * e.w / o.ws)", 10)} AS contrib
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN outw o ON e.src = o.src
        GROUP BY e.dst
      ) c ON n.node = c.node
    )"""


_PAGERANK_ORACLE = (
    f"""
    WITH edges AS (
      SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
             's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
             COUNT(*) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst AS node FROM edges
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outw AS (SELECT src, SUM(w) AS ws FROM edges GROUP BY src),
    rank0 AS (
      SELECT node, {R('1.0 / nn.n', 10)} AS rank FROM nodes CROSS JOIN nn
    ),"""
    + ",".join(_oracle_iteration(f"rank{k - 1}" if k > 1 else "rank0", k) for k in range(1, _ITERS + 1))
    + f"""
    SELECT node, rank FROM rank{_ITERS}
    """
)


@register(
    "q_pagerank",
    oracle=_PAGERANK_ORACLE,
    priority="P2",
    tags=("graph", "iterative", "pagerank"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 3 rounds, uniform init, dangling mass
    redistributed uniformly — suppliers have no out-edges, so Σrank
    stays exactly 1 up to rounding; test-pinned) over the directed
    customer→supplier graph weighted by purchase-line counts.

    Per round: ranks join edges on src → per-dst contribution agg →
    blend with teleport + dangling terms. All sums r10-rounded per
    round on both engines (module docstring)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    ).localCheckpoint(eager=False)  # reused every round (join + degree + nodes)
    outw = edges.groupBy("src").agg(F.sum("w").alias("ws"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    ).localCheckpoint(eager=False)
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.round(F.lit(1.0) / F.col("n"), 10).alias("rank"))
    ).localCheckpoint(eager=False)
    frac = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("ws")).alias("f")
    )
    for _ in range(_ITERS):
        dang = (
            ranks.join(outw, ranks.node == outw.src, "left_anti")
            .agg(F.round(F.coalesce(F.sum("rank"), F.lit(0.0)), 10).alias("mass"))
        )
        contribs = (
            frac.join(ranks, frac.src == ranks.node)
            .groupBy("dst")
            .agg(F.round(F.sum(F.col("rank") * F.col("f")), 10).alias("contrib"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dang))
            .join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.round(
                    (1 - _D) / F.col("n")
                    + _D * F.coalesce(F.col("contrib"), F.lit(0.0))
                    + _D * F.col("mass") / F.col("n"),
                    10,
                ).alias("rank"),
            )
        ).localCheckpoint(eager=False)
    return ranks


@register(
    "q_degree_dist",
    oracle="""
    WITH edges AS (
      SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
             's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), degs AS (
      SELECT src AS node, 'out' AS direction, COUNT(*) AS degree
      FROM edges GROUP BY src
      UNION ALL
      SELECT dst AS node, 'in' AS direction, COUNT(*) AS degree
      FROM edges GROUP BY dst
    )
    SELECT direction, CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM degs GROUP BY direction, degree
    """,
    priority="P2",
    tags=("graph", "degree"),
)
def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the purchase graph (same edge derivation
    as `q_pagerank`): per direction, how many nodes have each
    in-/out-degree — the skew diagnostic you run BEFORE an iterative
    graph algorithm to know whether its per-key shuffles need salting
    (a power-law in-degree tail is exactly the hot-key case SCALE.md §3
    mitigates).

    Scale: distinct-edge build shuffles once on (src, dst); each degree
    count reuses a side of that key; the histogram agg is bounded by
    the distinct-degree count. Nothing is ever collected per-node."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).select(F.lit("out").alias("direction"), "degree")
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).select(F.lit("in").alias("direction"), "degree")
    return (
        out_d.unionAll(in_d)
        .groupBy("direction", "degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# The ONE pair derivation every graph operator builds on (Spark twin:
# cosupply_pair_counts) — factored so the edge definition can't drift
# between operators: unweighted edges project it DISTINCT-style
# (_COSUPPLY_EDGES_SQL), the strong-edge cut (q_link_prediction)
# thresholds its counts.
_COSUPPLY_PAIRS_SQL = """
    os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
    pair_counts AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS cnt
      FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s
      GROUP BY a.s, b.s
    )"""

_COSUPPLY_EDGES_SQL = f"""
    {_COSUPPLY_PAIRS_SQL},
    edges AS (
      SELECT u, v FROM pair_counts
    )"""


def cosupply_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (u < v) co-supply pairs with their shared-order COUNT —
    the Spark twin of ``_COSUPPLY_PAIRS_SQL`` and the single source of
    the pair derivation for every graph operator (the count is free:
    the same shuffle that deduped the pairs produces it)."""
    os_ = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    b = os_.withColumnRenamed("s", "s2")
    return (
        os_.join(b, "ok")
        .where(F.col("s") < F.col("s2"))
        .groupBy(F.col("s").alias("u"), F.col("s2").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (u < v) distinct co-supply edges: suppliers adjacent iff
    they ship lines of the same order — ``cosupply_pair_counts`` minus
    the weight column; shared by the graph operators so the edge
    definition can't drift between them."""
    return cosupply_pair_counts(spark, sf_dir).select("u", "v")


def triangle_close(edges: DataFrame) -> DataFrame:
    """Wedge-close triangle count over an oriented (u < v) edge DF —
    1-row DataFrame with n_triangles. Factored out so the Hypothesis
    property test drives the SAME join pipeline the operator ships.

    DEGREE orientation (round 6, VERDICT item 6 — previously documented
    in-code, now the shipped plan): every undirected edge is re-oriented
    from its lower-(degree, id) endpoint to the higher, so each wedge
    pivots on its LOWEST-degree vertex and total wedge work is bounded
    by O(m^1.5) (arboricity bound) instead of Σdeg² on hubs — the
    difference between a hub of degree d contributing d²/2 wedges and
    contributing none. The count is invariant: (degree, id) is a strict
    total order (ids distinct), each triangle {x≺y≺z} is produced
    exactly once as the wedge (x→y, x→z) closed by x's check of y→z —
    the same oracle verifies both orientations."""
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    oriented = (
        edges.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    l2 = oriented.select(
        "a", F.col("b").alias("c"), F.col("db").alias("dc")
    )
    wedges = (
        oriented.join(l2, "a")
        .where(F.struct("db", "b") < F.struct("dc", "c"))
        .select("b", "c")
    )
    return wedges.join(
        oriented.select(F.col("a").alias("b"), F.col("b").alias("c")),
        ["b", "c"],
        "inner",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))



@register(
    "q_triangle_count",
    oracle=f"""
    WITH {_COSUPPLY_EDGES_SQL},
    nodes AS (SELECT u AS s FROM edges UNION SELECT v FROM edges),
    tri AS (
      SELECT COUNT(*) AS t
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           t AS n_triangles
    FROM tri
    """,
    priority="P2",
    tags=("graph", "triangle"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the undirected co-supply graph (suppliers
    adjacent iff they ship lines of the same order), via the oriented
    wedge-close join: every edge stored once as u<v, re-oriented by
    (degree, id) inside :func:`triangle_close`, wedges from the pivot's
    out-edges, closed by a third edge lookup. Exact — each triangle is
    counted exactly once by its ≺-sorted orientation.

    Scale: degree-orientation (shipped round 6) pivots every wedge on
    its LOWEST-degree vertex, bounding work by O(m^1.5) (arboricity
    bound) instead of Σdeg² on hubs — the count is orientation-
    invariant, so the id-ordered oracle still verifies it. Both wedge
    build and close are plain equi-joins — Catalyst shuffles on the
    pivot key; no per-node adjacency materialization."""
    edges = cosupply_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )  # reused 3× (wedge legs + close probe)
    nodes = edges.select(F.col("u").alias("s")).union(edges.select("v")).distinct()
    tri = triangle_close(edges)
    return (
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
    )


@register(
    "q_khop_reach",
    oracle=f"""
    WITH {_COSUPPLY_EDGES_SQL},
    sym AS (
      SELECT u, v FROM edges UNION SELECT v, u FROM edges
    ),
    hop2 AS (
      SELECT a.u, b.v FROM sym a JOIN sym b ON a.v = b.u AND a.u <> b.v
      UNION
      SELECT u, v FROM sym
    )
    SELECT u AS node, COUNT(*) AS reach2
    FROM hop2 GROUP BY u
    """,
    priority="P2",
    tags=("graph", "bfs", "reachability"),
)
def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node 2-hop reachability cardinality (|{w : dist(v,w) ≤ 2,
    w ≠ v}|) on the symmetrized co-supply graph — the neighborhood-size
    profile behind friend-of-friend features and graph sampling plans.

    Scale: the frontier expansion is one equi-join on the hop pivot +
    a UNION-distinct with the 1-hop set — per BFS round that is the
    standard distributed frontier shape (shuffle on pivot, distinct
    collapses multipaths EACH round so the frontier never carries
    duplicate paths, which is what makes k rounds O(k·m) not O(deg^k));
    deeper k just iterates the same two ops."""
    half = cosupply_edges(spark, sf_dir)
    sym = half.union(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=False)  # both hop legs read it
    two = (
        sym.join(sym.select(F.col("u").alias("v"), F.col("v").alias("w")), "v")
        .where(F.col("u") != F.col("w"))
        .select("u", F.col("w").alias("v"))
    )
    return (
        two.union(sym)
        .distinct()
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("reach2"))
    )


_SP_ROUNDS = 3


def _sp_oracle() -> str:
    """Unrolled min-plus Bellman-Ford rounds (chained CTEs, same
    discipline as the PageRank/PCA oracles)."""
    head = f"""
    WITH {_COSUPPLY_EDGES_SQL},
    w AS (
      SELECT a.s AS u, b.s AS v, CAST(1000 - COUNT(*) AS BIGINT) AS cost
      FROM (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem) b
        ON a.ok = b.ok AND a.s <> b.s
      GROUP BY a.s, b.s
    ),
    src AS (SELECT MIN(u) AS s0 FROM edges),
    d0 AS (
      SELECT u AS node, CAST(0 AS BIGINT) AS dist
      FROM (SELECT DISTINCT u FROM w), src WHERE u = s0
    )"""
    its = []
    for k in range(1, _SP_ROUNDS + 1):
        its.append(f""",
    d{k} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{k - 1}
        UNION ALL
        SELECT w.v AS node, d.dist + w.cost AS dist
        FROM d{k - 1} d JOIN w ON w.u = d.node
      ) GROUP BY node
    )""")
    return (
        head
        + "".join(its)
        + f"""
    SELECT node, dist FROM d{_SP_ROUNDS}
    """
    )


@register(
    "q_shortest_path",
    oracle=_sp_oracle(),
    priority="P2",
    tags=("graph", "shortest-path", "iterative"),
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths by {_SP_ROUNDS} min-plus
    Bellman-Ford rounds on the co-supply graph (edge cost 1000 −
    co-order count, so stronger ties are shorter; source = smallest
    supplier node): each round relaxes every edge once —
    dist' = min(dist, min over in-edges of dist(u) + cost) — the
    third iterative-graph family next to PageRank (sum-product) and
    frontier BFS (reachability). ALL-INTEGER costs ⇒ engine-exact,
    no rounding discipline needed. Nodes not reached within
    {_SP_ROUNDS} hops are absent (correct partial-BF semantics).

    Scale: one relaxation round = edges ⋈ frontier on the source key +
    a min-combine per node — the same keyed-shuffle shape as every
    Pregel-style step; distance state stays distributed,
    localCheckpoint truncates per-round lineage. Full convergence runs
    diameter rounds or switches to delta-stepping; the fixed-round
    form here is the oracle-checkable contract."""
    os_ = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    b = os_.select(F.col("ok"), F.col("s").alias("s2"))
    w = (
        os_.join(b, "ok")
        .where(F.col("s") != F.col("s2"))
        .groupBy(F.col("s").alias("u"), F.col("s2").alias("v"))
        .agg((F.lit(1000) - F.count(F.lit(1))).cast("bigint").alias("cost"))
        .localCheckpoint(eager=False)  # reused every relaxation round
    )
    src = w.agg(F.min("u").alias("s0"))
    d = (
        w.select("u").distinct()
        .join(F.broadcast(src), F.col("u") == F.col("s0"))
        .select(F.col("u").alias("node"), F.lit(0).cast("bigint").alias("dist"))
    )
    for _ in range(_SP_ROUNDS):
        relaxed = d.join(w, d.node == w.u).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("cost")).alias("dist")
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return d


@register(
    "q_link_prediction",
    oracle=f"""
    WITH {_COSUPPLY_PAIRS_SQL},
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS ti, CAST(COUNT(*) AS BIGINT) AS np
      FROM pair_counts
    ), edges AS (
      SELECT u, v FROM pair_counts CROSS JOIN tot WHERE cnt * np > ti
    ),
    sym AS (
      SELECT u, v FROM edges UNION SELECT v, u FROM edges
    ), deg AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
    ), common AS (
      SELECT a.u AS x, b.u AS y, COUNT(*) AS cn
      FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
      GROUP BY a.u, b.u
    ), nonedge AS (
      SELECT c.x, c.y, c.cn, da.d AS dx, db.d AS dy
      FROM common c
      JOIN deg da ON c.x = da.u
      JOIN deg db ON c.y = db.u
      LEFT JOIN edges e ON e.u = c.x AND e.v = c.y
      WHERE e.u IS NULL
    )
    SELECT x, y, cn,
           {R4('CAST(cn AS DOUBLE) / (dx + dy - cn)')} AS jaccard, rk
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY {R4('CAST(cn AS DOUBLE) / (dx + dy - cn)')} DESC, x, y
      ) AS rk
      FROM nonedge
    ) WHERE rk <= 20
    """,
    priority="P2",
    tags=("graph", "link-prediction", "jaccard"),
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the STRONG co-supply graph: top-20
    non-adjacent supplier pairs by neighbor-set Jaccard
    (|Γx∩Γy| / |Γx∪Γy|) — the classic "who should be connected" score.
    Strong edges are pairs whose co-supply count is strictly above the
    mean count (compared as cnt·n_pairs > total — exact integers, no
    division): the round-5 vacuity audit showed the UNWEIGHTED
    co-supply graph is COMPLETE below sf0.1, so there were no
    non-edges to predict and the query returned nothing at the test
    and driver SFs; the above-mean cut is scale-free (keeps a strict
    subset at every SF: 21/45, 2573/4950, 214k/454k edges measured)
    and asks the sensible question — which strong partnerships are
    missing. Common neighbors come from a wedge join (pairs sharing a
    neighbor), the union size from degrees (|Γx|+|Γy|−cn, no second
    set materialization), and existing strong edges are anti-joined
    out. Ranking on the ROUNDED score with pair tiebreak keeps top-20
    engine-exact.

    Scale: identical envelope to `q_triangle_count`'s wedges — work is
    Σ_v deg(v)², bounded by orienting on the low-degree endpoint at
    power-law scale; degrees and the anti-join are key-partitioned
    aggregates. Top-20 via TakeOrdered."""
    counts = cosupply_pair_counts(spark, sf_dir)
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("ti"),
        F.count(F.lit(1)).alias("np"),
    )
    half = (
        counts.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * F.col("np") > F.col("ti"))
        .select("u", "v")
        .localCheckpoint(eager=False)
    )  # sym, degrees, and the anti-join probe all read it
    sym = half.union(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    b = sym.select(F.col("u").alias("y"), F.col("v").alias("w2"))
    common = (
        sym.select(F.col("u").alias("x"), F.col("v").alias("w2"))
        .join(b, "w2")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    da = deg.select(F.col("u").alias("x"), F.col("d").alias("dx"))
    db = deg.select(F.col("u").alias("y"), F.col("d").alias("dy"))
    nonedge = (
        common.join(half.withColumnsRenamed({"u": "x", "v": "y"}), ["x", "y"], "left_anti")
        .join(da, "x")
        .join(db, "y")
    )
    jac = r4(F.col("cn").cast("double") / (F.col("dx") + F.col("dy") - F.col("cn")))
    scored = nonedge.select("x", "y", "cn", jac.alias("jaccard"))
    top = scored.orderBy(F.desc("jaccard"), "x", "y").limit(20)
    return top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("jaccard"), "x", "y"))
    )


_HITS_ITERS = 3
_HITS_TOP = 20


def _hits_oracle_iteration(prev_hub: str, k: int) -> str:
    """One unrolled HITS round: authority update from the previous hub
    vector, L1 normalization, then the hub update from the new
    authorities — every sum and quotient rounded at 10 dp (module
    determinism rule)."""
    return f"""
    authraw{k} AS (
      SELECT e.dst AS node, {R("SUM(h.score * e.w)", 10)} AS raw
      FROM edges e JOIN {prev_hub} h ON e.src = h.node
      GROUP BY e.dst
    ),
    authsum{k} AS (SELECT {R("SUM(raw)", 10)} AS s FROM authraw{k}),
    auth{k} AS (
      SELECT node, {R("raw / s", 10)} AS score
      FROM authraw{k} CROSS JOIN authsum{k}
    ),
    hubraw{k} AS (
      SELECT e.src AS node, {R("SUM(a.score * e.w)", 10)} AS raw
      FROM edges e JOIN auth{k} a ON e.dst = a.node
      GROUP BY e.src
    ),
    hubsum{k} AS (SELECT {R("SUM(raw)", 10)} AS s FROM hubraw{k}),
    hub{k} AS (
      SELECT node, {R("raw / s", 10)} AS score
      FROM hubraw{k} CROSS JOIN hubsum{k}
    )"""


_HITS_ORACLE = (
    """
    WITH edges AS (
      SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
             's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
             COUNT(*) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    hub0 AS (SELECT DISTINCT src AS node, 1.0 AS score FROM edges),"""
    + ",".join(
        _hits_oracle_iteration(f"hub{k - 1}" if k > 1 else "hub0", k)
        for k in range(1, _HITS_ITERS + 1)
    )
    + f"""
    SELECT role, node, score, rn FROM (
      SELECT 'hub' AS role, node, score,
             row_number() OVER (ORDER BY score DESC, node) AS rn
      FROM hub{_HITS_ITERS}
    ) WHERE rn <= {_HITS_TOP}
    UNION ALL
    SELECT role, node, score, rn FROM (
      SELECT 'authority' AS role, node, score,
             row_number() OVER (ORDER BY score DESC, node) AS rn
      FROM auth{_HITS_ITERS}
    ) WHERE rn <= {_HITS_TOP}
    """
)


@register(
    "q_hits_scores",
    oracle=_HITS_ORACLE,
    priority="P2",
    tags=("graph", "iterative", "hits"),
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the customer→supplier purchase graph:
    {_HITS_ITERS} rounds of the mutual hub/authority reinforcement —
    auth(d) = Σ hub(src)·w then hub(s) = Σ auth(dst)·w, each vector
    L1-normalized per half-round — returning the top-{_HITS_TOP} hubs
    (customers whose purchases concentrate on authoritative suppliers)
    and authorities (suppliers drawing the heaviest hub flow). The
    second eigen-flavored ranking next to `q_pagerank` on the same
    edge list: PageRank mixes a teleport term, HITS is the pure
    bipartite power iteration, so the two orderings disagree exactly
    where purchase concentration and breadth diverge.

    Determinism: every sum and quotient r10-rounded per half-round on
    both engines (module rule); the oracle unrolls the iterations as
    chained CTEs.

    Scale: the edge build is ONE shuffle (same checkpointed frame
    pattern as `q_pagerank`); each half-round is an edges⋈scores join
    on one side's key + a groupBy on the other — the Pregel exchange —
    with 1-row broadcast normalizers; score state stays distributed,
    lineage cut per round. Top lists are two `orderBy().limit()`
    TakeOrdered legs, never a data-sized window.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    ).localCheckpoint(eager=False)  # reused every half-round
    hub = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(1.0).alias("score"))
    ).localCheckpoint(eager=False)
    auth = None
    for _ in range(_HITS_ITERS):
        authraw = (
            edges.join(hub, edges.src == hub.node)
            .groupBy(F.col("dst").alias("anode"))
            .agg(F.round(F.sum(F.col("score") * F.col("w")), 10).alias("raw"))
        )
        asum = authraw.agg(F.round(F.sum("raw"), 10).alias("s"))
        auth = authraw.crossJoin(F.broadcast(asum)).select(
            F.col("anode").alias("node"),
            F.round(F.col("raw") / F.col("s"), 10).alias("score"),
        ).localCheckpoint(eager=False)
        hubraw = (
            edges.join(auth, edges.dst == auth.node)
            .groupBy(F.col("src").alias("hnode"))
            .agg(F.round(F.sum(F.col("score") * F.col("w")), 10).alias("raw"))
        )
        hsum = hubraw.agg(F.round(F.sum("raw"), 10).alias("s"))
        hub = hubraw.crossJoin(F.broadcast(hsum)).select(
            F.col("hnode").alias("node"),
            F.round(F.col("raw") / F.col("s"), 10).alias("score"),
        ).localCheckpoint(eager=False)
    def topleg(df: DataFrame, role: str) -> DataFrame:
        w = Window.orderBy(F.desc("score"), F.asc("node"))
        return (
            df.orderBy(F.desc("score"), F.asc("node"))
            .limit(_HITS_TOP)
            .withColumn("rn", F.row_number().over(w))
            .select(F.lit(role).alias("role"), "node", "score", "rn")
        )
    return topleg(hub, "hub").unionByName(topleg(auth, "authority"))


@register(
    "q_graph_assortativity",
    oracle=f"""
    WITH edges AS (
      SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
             's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), od AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS xd FROM edges GROUP BY src
    ), idg AS (
      SELECT dst, CAST(COUNT(*) AS BIGINT) AS yd FROM edges GROUP BY dst
    ), ed AS (
      SELECT od.xd AS x, idg.yd AS y
      FROM edges JOIN od USING (src) JOIN idg USING (dst)
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM ed
    )
    SELECT n AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM od) AS n_srcs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM idg) AS n_dsts,
           {R4('sx * 1.0 / n')} AS mean_out_deg,
           {R4('sy * 1.0 / n')} AS mean_in_deg,
           CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                THEN NULL
                ELSE {R4('(n * sxy - sx * sy) / '
                         '(SQRT((n * sxx - sx * sx) * 1.0)'
                         ' * SQRT((n * syy - sy * sy) * 1.0))')}
           END AS assortativity
    FROM s
    """,
    priority="P2",
    tags=("graph", "statistics", "audit"),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the purchase graph (Newman 2002): the
    Pearson correlation, over EDGES, between the source's out-degree
    and the destination's in-degree — positive means high-degree
    customers concentrate on high-degree suppliers (rich-club mixing),
    negative means hub customers spread across niche suppliers. The
    one-number structural audit read before trusting degree-based
    sampling or hub-pruning heuristics on the graph.

    All six moments are EXACT BIGINT sums over the edge list; the
    correlation is one double formula over those scalars (identical on
    both engines), r4-rounded, with zero-variance degenerate graphs
    null-guarded.

    Scale: degree tables are map-side-combined aggregates of the edge
    list; the moment pass is one re-join of edges to two narrow degree
    frames + a single 1-row combine — no window, no all-pairs. The
    edge frame is checkpointed once and feeds both degree legs and
    the moment join.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    ).localCheckpoint(eager=False)  # degree legs + moment join
    od = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("xd")
    )
    idg = edges.groupBy("dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("yd")
    )
    ed = (
        edges.join(od, "src")
        .join(idg, "dst")
        .select(F.col("xd").alias("x"), F.col("yd").alias("y"))
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("y")).alias("sy"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
        F.sum(d38("y") * F.col("y")).alias("syy"),
    )
    nsrc = od.agg(F.count(F.lit(1)).cast("bigint").alias("n_srcs"))
    ndst = idg.agg(F.count(F.lit(1)).cast("bigint").alias("n_dsts"))
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(varx * 1.0) * F.sqrt(vary * 1.0)
    )
    return (
        s.crossJoin(F.broadcast(nsrc))
        .crossJoin(F.broadcast(ndst))
        .select(
            F.col("n").alias("n_edges"),
            "n_srcs",
            "n_dsts",
            r4(F.col("sx") * 1.0 / F.col("n")).alias("mean_out_deg"),
            r4(F.col("sy") * 1.0 / F.col("n")).alias("mean_in_deg"),
            F.when((varx == 0) | (vary == 0), F.lit(None).cast("double"))
            .otherwise(r4(corr))
            .alias("assortativity"),
        )
    )


_COPURCHASE_EDGES_SQL = """
    op AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), pedges AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
    )"""


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (u < v) distinct part co-purchase edges: parts adjacent
    iff some order contains both — the SPARSE graph of the family
    (0.6% dense at sf0.1 vs the co-supply graph's ~100%), which is
    what makes clustering coefficients and modularity non-vacuous.
    Spark twin of ``_COPURCHASE_EDGES_SQL``."""
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = op.withColumnRenamed("p", "p2")
    return (
        op.join(b, "ok")
        .where(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("u"), F.col("p2").alias("v"))
        .distinct()
    )


@register(
    "q_graph_clustering_coeff",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_SQL},
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pedges e1
      JOIN pedges e2 ON e1.u = e2.u AND e1.v < e2.v
      JOIN pedges e3 ON e3.u = e1.v AND e3.v = e2.v
    ), tv AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t
      FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY 1
    ), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (
        SELECT u AS node FROM pedges UNION ALL SELECT v FROM pedges
      ) GROUP BY 1
    ), coeff AS (
      SELECT deg.node,
             CAST(ROUND({R4('2.0 * COALESCE(tv.t, 0) / (deg.d * (deg.d - 1))')}
                  * 10000) AS BIGINT) AS c_q
      FROM deg LEFT JOIN tv ON tv.node = deg.node
      WHERE deg.d >= 2
    ), bucketed AS (
      SELECT CAST(LEAST(c_q // 1000, 9) AS BIGINT) AS bucket, c_q
      FROM coeff
    ), spine AS (
      SELECT UNNEST(generate_series(0, 9)) AS bucket
    )
    SELECT s.bucket,
           CAST(COALESCE(COUNT(b.c_q), 0) AS BIGINT) AS n_nodes,
           CASE WHEN COUNT(b.c_q) > 0 THEN
             {R4('CAST(SUM(b.c_q) AS DOUBLE) / (COUNT(b.c_q) * 10000.0)')}
           END AS avg_coeff
    FROM spine s LEFT JOIN bucketed b ON b.bucket = s.bucket
    GROUP BY 1
    """,
    priority="P2",
    tags=("graph", "triangle", "clustering"),
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering-coefficient distribution over the part
    co-purchase graph: per node, c_v = 2*t_v / (deg_v*(deg_v-1))
    (share of a node's neighbor pairs that are themselves connected),
    reported as a 10-bucket histogram on the dense spine — the
    community-structure read beside `q_triangle_count`'s single global
    count (a high-triangle graph can still have all its triangles in
    one corner; the coefficient distribution shows WHERE transitivity
    lives). Runs on the sparse co-purchase graph, not the ~complete
    co-supply graph where every coefficient would be 1 by construction.

    Per-node triangle counts come from the oriented (a<b<c) wedge
    close — each triangle found exactly once, credited to all three
    corners via one unpivot; coefficients r4 before bucketing.

    Scale: wedge work is bounded by sum of oriented out-degrees
    squared (the id orientation is near-uniform here; the
    (degree, id) orientation of `triangle_close` is the swap-in if
    the degree tail ever grows hubs); the histogram is 10 rows.
    """
    e = copurchase_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )  # three wedge legs + degrees
    e2 = e.select(F.col("u").alias("u2"), F.col("v").alias("c"))
    tri = (
        e.join(e2, (F.col("u") == F.col("u2")) & (F.col("v") < F.col("c")))
        .select(F.col("u").alias("a"), F.col("v").alias("b"), "c")
        .join(
            e.select(F.col("u").alias("b"), F.col("v").alias("c")),
            ["b", "c"],
        )
    )
    tv = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    coeff = (
        deg.where(F.col("d") >= 2)
        .join(tv, "node", "left")
        .select(
            F.round(
                r4(
                    2.0
                    * F.coalesce("t", F.lit(0))
                    / (F.col("d") * (F.col("d") - 1))
                )
                * 10000,
                0,
            )
            .cast("bigint")
            .alias("c_q")  # integer ten-thousandths: bucket sums stay exact
        )
    )
    bucketed = coeff.select(
        F.least(F.expr("c_q div 1000"), F.lit(9))
        .cast("bigint")
        .alias("bucket"),
        "c_q",
    )
    spine = spark.range(10).select(F.col("id").alias("bucket"))
    n = F.count("c_q")
    return (
        spine.join(bucketed, "bucket", "left")
        .groupBy("bucket")
        .agg(
            n.cast("bigint").alias("n_nodes"),
            F.when(
                n > 0,
                r4(F.sum("c_q").cast("double") / (n * 10000.0)),
            ).alias("avg_coeff"),
        )
    )


@register(
    "q_graph_modularity",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_SQL},
    comm AS (
      SELECT p_partkey AS node, p_brand AS c FROM part
    ), labeled AS (
      SELECT v.variant, e.u, e.v, cu.c AS cu, cv.c AS cv
      FROM pedges e
      JOIN comm cu ON cu.node = e.u
      JOIN comm cv ON cv.node = e.v
      CROSS JOIN (VALUES ('organic'), ('planted')) v(variant)
      WHERE v.variant = 'organic' OR cu.c = cv.c
    ), m AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS BIGINT)
               AS intra
      FROM labeled GROUP BY 1
    ), degc AS (
      SELECT variant, c, CAST(COUNT(*) AS BIGINT) AS dc
      FROM (
        SELECT variant, cu AS c FROM labeled
        UNION ALL SELECT variant, cv FROM labeled
      ) GROUP BY 1, 2
    ), s AS (
      SELECT variant, CAST(SUM(dc * dc) AS BIGINT) AS sumd2,
             CAST(COUNT(*) AS BIGINT) AS n_comms
      FROM degc GROUP BY 1
    )
    SELECT m.variant, m.m AS n_edges, m.intra AS intra_edges, s.n_comms,
           {R4('''CAST(m.intra AS DOUBLE) / m.m
                 - CAST(s.sumd2 AS DOUBLE) / (4.0 * m.m * m.m)''')}
             AS q_modularity
    FROM m JOIN s ON s.variant = m.variant
    """,
    priority="P2",
    tags=("graph", "community", "modularity"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition on the part
    co-purchase graph: Q = intra/m - sum_c (d_c/2m)^2 — do parts of
    the same brand co-occur in orders more than a degree-preserving
    random graph predicts? The organic variant measures the real
    fixture (orders pick parts blind to brand, so Q ~ 0 — a true
    no-assortativity read); the planted variant restricts edges to
    intra-brand pairs, where the same partition scores Q ~ 1 - 1/25,
    keeping the high-modularity regime live at every SF (house
    planted-ground-truth rule).

    Q reduces to TWO exact BIGINT masses (intra count and the sum of
    squared community degrees) — no per-community double sum, so
    partial-sum order can't move it; one r4 formula at output.

    Scale: edges join the broadcast-sized part dim for labels; both
    masses are partial+final aggregates; output is 2 rows.
    """
    e = copurchase_edges(spark, sf_dir)
    comm = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("c")
    )
    variants = spark.createDataFrame(
        [("organic",), ("planted",)], "variant string"
    )
    labeled = (
        e.join(
            F.broadcast(comm.select(F.col("node").alias("u"), F.col("c").alias("cu"))),
            "u",
        )
        .join(
            F.broadcast(comm.select(F.col("node").alias("v"), F.col("c").alias("cv"))),
            "v",
        )
        .crossJoin(F.broadcast(variants))
        .where((F.col("variant") == "organic") | (F.col("cu") == F.col("cv")))
        .localCheckpoint(eager=False)  # masses + community degrees
    )
    m = labeled.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.when(F.col("cu") == F.col("cv"), 1).otherwise(0))
        .cast("bigint")
        .alias("intra"),
    )
    degc = (
        labeled.select("variant", F.col("cu").alias("c"))
        .unionAll(labeled.select("variant", F.col("cv").alias("c")))
        .groupBy("variant", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dc"))
    )
    s = degc.groupBy("variant").agg(
        F.sum(d38("dc") * F.col("dc")).alias("sumd2"),
        F.count(F.lit(1)).cast("bigint").alias("n_comms"),
    )
    q = F.col("intra").cast("double") / F.col("m") - F.col(
        "sumd2"
    ).cast("double") / (4.0 * F.col("m") * F.col("m"))
    return (
        m.join(s, "variant")
        .select(
            "variant",
            F.col("m").alias("n_edges"),
            F.col("intra").alias("intra_edges"),
            "n_comms",
            r4(q).alias("q_modularity"),
        )
    )


_KCORE_ROUNDS = 5


def _kcore_oracle() -> str:
    """Unrolled 5-round 2-core peel oracle (generated once at import;
    DuckDB has no aggregate-in-recursion, so bounded unrolling IS the
    oracle — the `q_pagerank` unrolled-CTE precedent)."""
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""d{p} AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT u AS n FROM e{p} UNION ALL SELECT v FROM e{p})
      GROUP BY 1
    ), k{p} AS MATERIALIZED (SELECT n FROM d{p} WHERE c >= 2),
    e{i} AS MATERIALIZED (
      SELECT e{p}.u, e{p}.v FROM e{p}
      JOIN k{p} a ON a.n = e{p}.u JOIN k{p} b ON b.n = e{p}.v
    )""")
    stats = [
        "SELECT 0 AS round, (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) "
        "FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)) AS "
        "n_nodes, (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges"
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        stats.append(
            f"SELECT {i}, (SELECT CAST(COUNT(*) AS BIGINT) FROM k{i - 1}),"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i})"
        )
    body = ",\n    ".join(rounds)
    stats_sql = "\n      UNION ALL ".join(stats)
    return f"""
    WITH {_COPURCHASE_EDGES_SQL},
    seeds AS (
      SELECT DISTINCT p FROM op WHERE p % 101 = 0
    ), planted AS (
      SELECT p AS u, 10000000 + p AS v FROM seeds
      UNION ALL SELECT 20000000 + p, 21000000 + p FROM seeds
      UNION ALL SELECT 21000000 + p, 22000000 + p FROM seeds
    ), e0 AS MATERIALIZED (
      SELECT u, v FROM pedges UNION ALL SELECT u, v FROM planted
    ),
    {body},
    stats AS (
      {stats_sql}
    )
    SELECT round, n_nodes, n_edges,
           COALESCE(n_edges = LAG(n_edges) OVER (ORDER BY round)
                    AND n_nodes = LAG(n_nodes) OVER (ORDER BY round),
                    FALSE) AS converged
    FROM stats
    """


@register(
    "q_graph_kcore",
    oracle=_kcore_oracle(),
    priority="P2",
    tags=("graph", "kcore", "iterative"),
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 2-core peeling (Seidman 1983 k-core, k = 2, 5 rounds)
    over the part co-purchase graph: each round drops nodes of
    degree < 2 and the edges they carry, and the round trace
    (nodes passing, edges surviving, converged flag) IS the output —
    the graph-shrinkage read behind coreness-based sampling and the
    iterate-to-fixpoint pattern `q_pagerank`/`q_label_propagation`
    exercise with value updates, here with STRUCTURAL updates. The
    organic graph's minimum degree is ≥ 42 at every shipped SF (no
    organic peel), so planted fodder keeps the cascade live: pendant
    spurs (peel in round 1) and 3-node chains whose ends peel in
    round 1 and stranded middles in round 2 — convergence by round 3,
    pinned by the law test.

    Exact integer counts throughout; the oracle unrolls the 5 rounds
    as CTEs (aggregate-in-recursion is off the table in both
    engines — the `q_pagerank` precedent).

    Scale: each round is one degree aggregate + one semi-join-shaped
    edge filter on the CURRENT edge set (monotonically shrinking),
    localCheckpointed per round to cut lineage — the
    large-star/small-star discipline from `q_dedup_components`;
    O(rounds) passes, never quadratic.
    """
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)  # edges + planted seeds, one scan
    )
    seeds = op.select("p").where(F.col("p") % 101 == 0).distinct()
    planted = (
        seeds.select(F.col("p").alias("u"), (F.lit(10000000) + F.col("p")).alias("v"))
        .unionByName(
            seeds.select(
                (F.lit(20000000) + F.col("p")).alias("u"),
                (F.lit(21000000) + F.col("p")).alias("v"),
            )
        )
        .unionByName(
            seeds.select(
                (F.lit(21000000) + F.col("p")).alias("u"),
                (F.lit(22000000) + F.col("p")).alias("v"),
            )
        )
    )
    b = op.withColumnRenamed("p", "p2")
    organic = (
        op.join(b, "ok")
        .where(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("u"), F.col("p2").alias("v"))
        .distinct()
    )  # copurchase_edges semantics off the shared checkpointed op grain
    e = organic.unionByName(planted).localCheckpoint(eager=False)
    # per-round trace; round 0 counts distinct endpoints of e0
    nodes0 = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .agg(F.countDistinct("n").cast("bigint").alias("n_nodes"))
    )
    stats = [
        nodes0.crossJoin(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))).select(
            F.lit(0).cast("bigint").alias("round"), "n_nodes", "n_edges"
        )
    ]
    cur = e
    for i in range(1, _KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionByName(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        keep = deg.where(F.col("c") >= 2).select("n").localCheckpoint(
            eager=False
        )
        nxt = (
            cur.join(keep.withColumnRenamed("n", "u"), "u")
            .join(keep.withColumnRenamed("n", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)  # next round + its stats row
        )
        stats.append(
            keep.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .crossJoin(
                nxt.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            )
            .select(
                F.lit(i).cast("bigint").alias("round"), "n_nodes", "n_edges"
            )
        )
        cur = nxt
    trace = stats[0]
    for s in stats[1:]:
        trace = trace.unionByName(s)
    w = Window.orderBy("round")
    return trace.select(
        "round",
        "n_nodes",
        "n_edges",
        F.coalesce(
            (F.col("n_edges") == F.lag("n_edges").over(w))
            & (F.col("n_nodes") == F.lag("n_nodes").over(w)),
            F.lit(False),
        ).alias("converged"),
    )


@register(
    "q_graph_reciprocity",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT n1.n_name AS sn, n2.n_name AS cn
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name != n2.n_name
    ), marked AS (
      SELECT e.sn, e.cn,
             CASE WHEN r.sn IS NOT NULL THEN 1 ELSE 0 END AS recip
      FROM edges e
      LEFT JOIN edges r ON e.sn = r.cn AND e.cn = r.sn
    )
    SELECT sn AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(SUM(recip) AS BIGINT) AS n_recip,
           {R4('SUM(recip) * 1.0 / COUNT(*)')} AS recip4
    FROM marked GROUP BY sn
    """,
    priority="P2",
    tags=("graph", "reciprocity"),
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-edge reciprocity of the nation-level trade graph
    (supplier-nation → customer-nation, an edge per observed trade
    direction, self-loops excluded): per nation, what fraction of its
    outbound trade links are reciprocated — the standard
    directed-graph balance diagnostic (mutual links dominate organic
    social/trade graphs; their absence flags hub-and-spoke or
    pipeline-shaped flow).

    Scale: the edge list collapses to DISTINCT nation pairs at the
    first aggregate (≤ nations², broadcast-sized by definition — same
    argument as the dim-join family), so the reciprocity self-join
    runs on a constant frame regardless of fact size; the only
    data-sized work is the dim-broadcast join chain + one distinct."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("snk"),
                F.col("n_name").alias("sn"),
            )),
            F.col("s_nationkey") == F.col("snk"),
        )
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("cnk"),
                F.col("n_name").alias("cn"),
            )),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .where(F.col("sn") != F.col("cn"))
        .select("sn", "cn")
        .distinct()
        .localCheckpoint(eager=False)  # forward leg + reversed self-join leg
    )
    rev = edges.select(
        F.col("cn").alias("r_sn"), F.col("sn").alias("r_cn")
    )
    marked = edges.join(
        F.broadcast(rev),
        (F.col("sn") == F.col("r_sn")) & (F.col("cn") == F.col("r_cn")),
        "left",
    ).select(
        "sn",
        F.when(F.col("r_sn").isNotNull(), 1).otherwise(0).alias("recip"),
    )
    return marked.groupBy(F.col("sn").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_out"),
        F.sum("recip").cast("bigint").alias("n_recip"),
        r4(F.sum("recip") * 1.0 / F.count(F.lit(1))).alias("recip4"),
    )
