"""Joins — SURVEY.md §2.3.

Reference capabilities [R]: character-table lookup joins (broadcast),
space ⋈ factors by (N,k,i) (the big equi-join), completeness scans
("which spaces still need computation" — anti join, the reference's
signature query), files-store vs Mongo-store reconciliation (full outer),
parameter-grid generation (cross join), and version-chained lookups
(as-of join).

Scale notes (100 TB): the dimension sides (region/nation ↔ character
tables) are broadcast — no shuffle. The fact-fact joins shuffle on their
equi-keys and AQE handles skew; the as-of join is a single shuffle on
user_id followed by one window pass (no self-join blowup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.parity import r4
from modforms_db_spark.registry import register


@register(
    "q_join_broadcast",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    priority="P0",
    tags=("join", "broadcast"),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiny-dim inner join with an explicit broadcast hint."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner"
    ).select("n_nationkey", "n_name", "r_name")


@register(
    "q_join_sortmerge",
    oracle=f"""
    SELECT o_orderkey, o_orderdate, l_linenumber,
           {R2('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'O'
    """,
    priority="P0",
    tags=("join",),
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large fact-fact equi-join (space ⋈ factors analogue), merge hint."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    li = load(spark, sf_dir, "lineitem")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey, "inner")
        .select(
            "o_orderkey",
            "o_orderdate",
            "l_linenumber",
            F.round(li.l_extendedprice * (1 - li.l_discount), 2).alias("revenue"),
        )
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    priority="P1",
    tags=("join",),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer — spaces with/without computed factors [R]."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_right",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name
    FROM customer RIGHT JOIN orders ON c_custkey = o_custkey
    """,
    priority="P2",
    tags=("join",),
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "right").select(
        "o_orderkey", "o_custkey", "c_name"
    )


@register(
    "q_join_full",
    oracle="""
    SELECT c_custkey, s_suppkey,
           COALESCE(c_nationkey, s_nationkey) AS nationkey
    FROM (SELECT * FROM customer WHERE c_nationkey < 12) c
    FULL JOIN (SELECT * FROM supplier WHERE s_nationkey >= 8) s
      ON c_nationkey = s_nationkey
    """,
    priority="P1",
    tags=("join",),
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer — reconcile files-store vs Mongo-store record sets [R]."""
    c = load(spark, sf_dir, "customer").where(F.col("c_nationkey") < 12)
    s = load(spark, sf_dir, "supplier").where(F.col("s_nationkey") >= 8)
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        "c_custkey",
        "s_suppkey",
        F.coalesce(c.c_nationkey, s.s_nationkey).alias("nationkey"),
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    priority="P1",
    tags=("join", "semi"),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi — "which spaces already have aps?" [R]."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    """,
    priority="P0",
    tags=("join", "anti"),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti — the reference's signature completeness scan [R]:
    customers with no orders in the CURRENT epoch (since 2000), i.e.
    records that still need computation this cycle.

    De-vacuated round 5: the unfiltered form was empty at sf0.001 and
    sf0.01 (the generator gives ~every customer an order), so its
    round-1 driver hash-pass was empty == empty. Anti-joining against
    the date-filtered order set keeps the anti-join load-bearing at
    every shipped SF (14 / 135 / 1355 rows measured) — and the filter
    pushes to the orders scan, the realistic shape anyway."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    priority="P2",
    tags=("join", "cross"),
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join — parameter-grid generation (all (N,k) pairs) [R]."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "q_join_theta",
    oracle="""
    SELECT o_orderkey, l_linenumber, o_orderdate, l_shipdate
    FROM orders JOIN lineitem
      ON o_orderkey = l_orderkey
     AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    """,
    priority="P1",
    tags=("join", "theta"),
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range predicate join — ap-coverage vs required-precision [R]."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "inner",
    ).select("o_orderkey", "l_linenumber", "o_orderdate", "l_shipdate")


# Shared by the window-emulation and native merge_asof forms: the two
# formulations must agree (and do at every SF — verified: no user has a
# signup and a purchase at the identical timestamp, so the emulation's
# event_id tiebreak within equal ts never diverges from merge_asof's
# ts-only matching).
_ASOF_ORACLE = """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'signup' THEN ts END AS signup_ts
      FROM events
      WHERE event_type IN ('signup', 'purchase')
    ), w AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(signup_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_signup_ts
      FROM tagged
    )
    SELECT user_id, event_id, ts AS purchase_ts, last_signup_ts
    FROM w WHERE event_type = 'purchase'
"""


@register(
    "q_join_asof",
    oracle=_ASOF_ORACLE,
    priority="P2",
    tags=("join", "asof"),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via window emulation (no native DF primitive): for each
    purchase, the latest prior-or-equal signup of the same user. One shuffle
    on user_id + one window pass — no self-join blowup, which is what makes
    this the 100 TB-safe formulation. Version-chained record lookup [R]."""
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
    )
    tagged = e.withColumn(
        "signup_ts",
        F.when(F.col("event_type") == "signup", F.col("ts")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "last_signup_ts", F.last("signup_ts", ignorenulls=True).over(w)
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("purchase_ts"),
            "last_signup_ts",
        )
    )


@register(
    "q_join_asof_native",
    oracle=_ASOF_ORACLE,
    priority="P2",
    tags=("join", "asof", "native"),
)
def q_join_asof_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native as-of join API form: the SAME semantics as `q_join_asof`
    (latest prior-or-equal signup per purchase, same oracle) expressed
    through pandas-on-Spark ``merge_asof`` — the usability gap VERDICT
    r2 noted vs engines with first-class ASOF. The window emulation
    stays the contract's canonical form (one shuffle + one window pass,
    plan fully visible); this row proves the drop-in API exists and
    hash-matches it. SCALE WARNING (measured): pandas-on-Spark compiles
    merge_asof to a BroadcastNestedLoopJoin — quadratic in the by-group
    sizes (seconds at sf0.01, minutes at sf0.1) — so the NATIVE form is
    API sugar for small frames only; `q_join_asof` (linear window pass)
    is the 100 TB path. Tie caveat: ``merge_asof`` matches on ts only,
    while the emulation breaks equal-ts ties by event_id — identical
    here because no user has a signup and purchase at the same ts
    (verified at every SF; see _ASOF_ORACLE comment)."""
    import pyspark.pandas as pps

    e = load(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    signups = e.where(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("ts").alias("last_signup_ts")
    )
    merged = pps.merge_asof(
        purchases.pandas_api(),
        signups.pandas_api(),
        on="ts",
        by="user_id",
        direction="backward",
        allow_exact_matches=True,
    )
    return merged.to_spark().select(
        "user_id",
        "event_id",
        F.col("ts").alias("purchase_ts"),
        "last_signup_ts",
    )


@register(
    "q_join_interval",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           v.ts AS view_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 5 MINUTE
    """,
    priority="P2",
    tags=("join", "interval"),
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution: view→purchase pairs of the same user within 5 minutes."""
    e = load(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return v.join(
        p,
        (v.user_id == p.p_user_id)
        & (p.purchase_ts >= v.view_ts)
        & (p.purchase_ts <= v.view_ts + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")


@register(
    "q_join_skew_salted",
    oracle=f"""
    SELECT o_orderpriority,
           {R2('SUM(l_extendedprice * (1 - l_discount))')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("join", "skew", "scale"),
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join via explicit key salting.

    The 100 TB problem: a hot join key (one orderkey with millions of
    lineitems, one stop-token, one power-law user) lands an entire key's
    rows on ONE reducer and the stage runs at the speed of that straggler.
    AQE's skew-join split handles sort-merge skew automatically, but
    salting is the portable fix that also works for aggregations and for
    engines/paths AQE can't re-plan (and it's what SCALE.md §3 promises).

    Mechanics — result provably identical to the plain join:
    - Fact (big, skewed) side: add ``salt = pmod(hash(tiebreak cols), S)``
      — a DETERMINISTIC spread of each hot key's rows over S sub-keys
      (no rand(): re-runs and retried tasks must salt identically).
    - Dim side: replicate each row S times (explode over 0..S-1).
    - Join on (key, salt): each hot key now occupies S reducers; the
      replicated dim side costs S× a BROADCAST-sized table, not S× the
      fact table.
    The oracle is the UNSALTED join+agg — salting must not change results.
    """
    S = 8
    l = load(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(S))
    )
    o = load(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(S)]))
    )
    j = l.join(
        o,
        (l.l_orderkey == o.o_orderkey) & (l.salt == o.salt),
        "inner",
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q_build_wide_records",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {R2('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority,
           c_name AS customer, n_name AS nation, r_name AS region
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    """,
    priority="P1",
    tags=("join", "etl", "denormalize"),
)
def q_build_wide_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-record ETL — the reference's "web object" build [R]: the
    full star join (fact → parent fact → dim chain) denormalized into one
    wide record per line item, filtered to the recent slice.

    Scale shape: ONE fact-fact shuffle (lineitem ⋈ orders on orderkey);
    the dim chain (customer, nation, region) is broadcast. At test SF all
    three are broadcast-sized; at 100 TB customer graduates to a second
    key shuffle (or a bucketed layout) while nation/region stay broadcast
    — the decision is size-driven per dim, which is why the broadcast
    hints sit on the dims and not on a config. The wide result is written
    partitioned by the serving key, never collected.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


@register(
    "q_join_bloom_prefilter",
    oracle=f"""
    SELECT l_returnflag,
           {R2('SUM(l_extendedprice * (1 - l_discount))')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
    )
    GROUP BY l_returnflag
    """,
    priority="P2",
    tags=("join", "bloom", "scale"),
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join: fact rows are discarded BEFORE the join
    shuffle by probing a broadcast Bloom filter built from the (small)
    key side — the pattern behind Spark's runtime row-level bloom join
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``), built here
    explicitly so the mechanism is testable and portable.

    The 100 TB problem: a selective dim-side predicate (high-value
    orders) means most fact rows will NOT survive the join — but a plain
    shuffle join still shuffles all of them. A Bloom filter of the
    surviving keys is kilobytes; broadcasting it and filtering the fact
    side first means the shuffle carries only (near-)matching rows.

    Mechanics — result provably identical to the exact semi-join:
    - m = 65 536 bits as 1 024 longs, k = 2 hashes (``xxhash64(seed, key)``).
    - Build: explode each key's k (word, mask) pairs → ``bit_or`` per word
      → a ≤1 024-row bitmap table, broadcast to every task.
    - Probe: the fact side joins the bitmap on each hash's word index and
      keeps rows with all k bits set. A missing word ⇒ no bits set ⇒ the
      inner join's drop is the correct "definitely absent" verdict.
    - False positives are removed by the exact semi-join that follows, so
      the Bloom stage can ONLY shrink the shuffle, never change results —
      which is what the plain-semi-join oracle pins.
    """
    m_words = 1024
    m_bits = m_words * 64
    k = 2

    keys = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
        .distinct()
    )

    def word_mask(key_col: str, seed: int, prefix: str):
        # One hash per seed: word index AND bit mask both derive from the
        # SAME bitpos expression — identical seed type, identical hash
        # function (ADVICE r1: the previous form mixed an IntegerType and
        # a LongType seed, which xxhash64 hashes differently, so word and
        # bit silently came from two unrelated hash functions). bitpos is
        # non-negative (pmod), so div/% are exact word/bit splits.
        bitpos = f"pmod(xxhash64(CAST({seed} AS BIGINT), {key_col}), {m_bits})"
        return [
            F.expr(f"CAST({bitpos} div 64 AS INT)").alias(f"{prefix}w"),
            F.expr(f"shiftleft(1L, CAST({bitpos} % 64 AS INT))").alias(
                f"{prefix}m"
            ),
        ]

    bloom = (
        keys.select(
            F.explode(
                F.array(
                    *[F.struct(*word_mask("o_orderkey", i, "")) for i in range(k)]
                )
            ).alias("wm")
        )
        .groupBy(F.col("wm.w").alias("w"))
        .agg(F.bit_or("wm.m").alias("bits"))
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    for i in range(k):
        probe = li.select(
            *li.columns, *word_mask("l_orderkey", i, f"h{i}_")
        )
        b = F.broadcast(
            bloom.select(F.col("w").alias(f"b{i}_w"), F.col("bits").alias(f"b{i}_bits"))
        )
        li = (
            probe.join(b, F.col(f"h{i}_w") == F.col(f"b{i}_w"), "inner")
            .where(F.col(f"b{i}_bits").bitwiseAND(F.col(f"h{i}_m")) != 0)
            .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
        )

    survived = li.join(keys, li.l_orderkey == keys.o_orderkey, "left_semi")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return survived.groupBy("l_returnflag").agg(
        F.round(F.sum(revenue), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q_join_asof_forward",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'purchase' THEN ts END AS purchase_ts
      FROM events
      WHERE event_type IN ('signup', 'purchase')
    ), w AS (
      SELECT user_id, ts, event_id, event_type,
             first_value(purchase_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS next_purchase_ts
      FROM tagged
    )
    SELECT user_id, event_id, ts AS signup_ts, next_purchase_ts,
           CASE WHEN next_purchase_ts IS NOT NULL
                THEN epoch_us(next_purchase_ts) - epoch_us(ts) END AS lead_us
    FROM w WHERE event_type = 'signup'
    """,
    priority="P2",
    tags=("join", "asof"),
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (direction twin of `q_join_asof`): for each
    signup, the user's EARLIEST following-or-equal purchase plus the
    exact µs conversion lead time — "time to convert", the canonical
    forward-looking as-of. Same window-emulation shape, mirrored: a
    first_value-ignore-nulls over CURRENT ROW → UNBOUNDED FOLLOWING.

    Scale: identical to the backward form — one shuffle on user_id, one
    window pass, no self-join blowup; forward direction costs nothing
    extra because the frame mirror is frame metadata, not a second
    sort."""
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
    )
    tagged = e.withColumn(
        "purchase_ts",
        F.when(F.col("event_type") == "purchase", F.col("ts")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return (
        tagged.withColumn(
            "next_purchase_ts", F.first("purchase_ts", ignorenulls=True).over(w)
        )
        .where(F.col("event_type") == "signup")
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("signup_ts"),
            "next_purchase_ts",
            F.when(
                F.col("next_purchase_ts").isNotNull(),
                t_us("next_purchase_ts") - t_us("ts"),
            ).alias("lead_us"),
        )
    )


@register(
    "q_join_nullsafe",
    oracle="""
    WITH l AS (
      SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS prio_k, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ), r AS (
      SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS prio_k,
             COUNT(DISTINCT o_custkey) AS n_custs
      FROM orders GROUP BY 1
    )
    SELECT l.prio_k, l.n_orders, r.n_custs
    FROM l JOIN r ON l.prio_k IS NOT DISTINCT FROM r.prio_k
    """,
    priority="P2",
    tags=("join", "nullsafe"),
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): two per-key
    aggregates over orders whose join key is NULLified for one priority
    class, joined so the NULL group MATCHES (a plain `=` join silently
    drops it — the classic lossage this operator exists to avoid).

    Scale: `eqNullSafe` stays a hash-join key (NULL hashes to a single
    ordinary bucket), so the plan is the same shuffled hash/SMJ as `=`;
    the one caveat at 100 TB is that ALL nulls land in one partition —
    if the null class is a heavy hitter, pre-split it like any other
    skewed key (q_join_skew_salted)."""
    o = load(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("prio_k")
    left = o.groupBy(k).agg(F.count(F.lit(1)).alias("n_orders"))
    right = o.groupBy(k).agg(F.count_distinct("o_custkey").alias("n_custs"))
    return left.join(
        right, left["prio_k"].eqNullSafe(right["prio_k"])
    ).select(left["prio_k"], "n_orders", "n_custs")


@register(
    "q_copurchase_pairs",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS n_orders
      FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
      GROUP BY a.p, b.p
    )
    SELECT p1, p2, n_orders, rk FROM (
      SELECT *, row_number() OVER (ORDER BY n_orders DESC, p1, p2) AS rk
      FROM pairs
    ) WHERE rk <= 20
    """,
    priority="P2",
    tags=("join", "market-basket", "copurchase"),
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top-20 part pairs by number of
    orders containing both (a.p < b.p orientation counts each pair
    once) — the association-rule support table every
    frequently-bought-together feature starts from.

    Scale: the self-join is keyed on the ORDER, so work is Σ_orders
    w(w−1)/2 with w = distinct parts per order — bounded by basket
    width, never |parts|²; the pair aggregate is a partial-agg shuffle
    and the top-20 is a TakeOrdered, no global sort. Pathological
    mega-baskets (w in the thousands) get capped or minhashed upstream
    — the width bound is the thing to monitor at 100 TB."""
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    b = op.select(F.col("ok"), F.col("p").alias("p2"))
    pairs = (
        op.join(b, "ok")
        .where(F.col("p") < F.col("p2"))
        .groupBy(F.col("p").alias("p1"), "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    # orderBy+limit compiles to TakeOrdered (per-partition top-20 +
    # driver merge); the rank column is then a window over 20 rows, not
    # a single-partition sort of all pairs.
    top = pairs.orderBy(F.desc("n_orders"), "p1", "p2").limit(20)
    w = Window.orderBy(F.desc("n_orders"), "p1", "p2")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "p1", "p2", "n_orders", "rk"
    )


# Deterministic "dirty registry" for record linkage: two source systems
# derived from supplier names by injected typos.  The shipped data has no
# naturally fuzzy-matchable table pair (supplier names are 'Supplier#N',
# customer names 'Customer#N' — no cross-table edit-distance-2 pair can
# exist), so the dirty side is SYNTHESIZED in-query by deterministic
# perturbation — the same discipline q_table_diff / q_impute_mean use —
# which makes the blocking + residual-distance machinery actually
# exercise on real candidate pairs instead of passing vacuously on an
# empty join (round-3 ADVICE item 1).
#
#   crm (all suppliers):        k%3==0 name unchanged        (dist 0)
#                               k%3==1 one 'p' deleted       (dist 1)
#                               k%3==2 '#' -> ' '            (dist 1)
#   erp (suppliers, k%5 != 0):  k%2==0 'l' -> '1'            (dist 1)
#                               k%2==1 '.' prepended         (dist 1)
#
# All edits hit the name's PREFIX, never its digit tail — so the last-4-
# chars blocking key below is robust to them by construction (the point
# of choosing a stable blocking key in real linkage: block on the field
# fragment your noise model does not touch).
_DIRTY_CRM_SQL = """
      SELECT k, 'crm' AS src,
             CASE k % 3
               WHEN 0 THEN nm
               WHEN 1 THEN substring(nm, 1, 3) || substring(nm, 5)
               ELSE replace(nm, '#', ' ')
             END AS nm
      FROM m
"""
_DIRTY_ERP_SQL = """
      SELECT k, 'erp' AS src,
             CASE k % 2
               WHEN 0 THEN substring(nm, 1, 4) || '1' || substring(nm, 6)
               ELSE '.' || nm
             END AS nm
      FROM m WHERE k % 5 <> 0
"""
_FUZZY_PAIRS_SQL = f"""
    m AS (
      SELECT s_suppkey AS k, lower(s_name) AS nm FROM supplier
    ), dirty AS (
      {_DIRTY_CRM_SQL}
      UNION ALL
      {_DIRTY_ERP_SQL}
    ), pairs AS (
      SELECT m.k AS s_suppkey, d.src, d.k AS rec_key,
             CAST(levenshtein(m.nm, d.nm) AS BIGINT) AS dist
      FROM m JOIN dirty d
        ON right(m.nm, 4) = right(d.nm, 4)
       AND ABS(length(m.nm) - length(d.nm)) <= 2
      WHERE levenshtein(m.nm, d.nm) <= 2
    )
"""


def _fuzzy_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(master, dirty) sides of the linkage, Spark mirror of
    ``_FUZZY_PAIRS_SQL``'s ``m`` / ``dirty`` CTEs."""
    m = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"), F.lower("s_name").alias("nm")
    )
    crm = m.select(
        "k",
        F.lit("crm").alias("src"),
        F.when(F.col("k") % 3 == 0, F.col("nm"))
        .when(
            F.col("k") % 3 == 1,
            F.concat(F.substring("nm", 1, 3), F.expr("substring(nm, 5)")),
        )
        .otherwise(F.replace(F.col("nm"), F.lit("#"), F.lit(" ")))
        .alias("nm"),
    )
    erp = m.where(F.col("k") % 5 != 0).select(
        "k",
        F.lit("erp").alias("src"),
        F.when(
            F.col("k") % 2 == 0,
            F.concat(F.substring("nm", 1, 4), F.lit("1"), F.expr("substring(nm, 6)")),
        )
        .otherwise(F.concat(F.lit("."), F.col("nm")))
        .alias("nm"),
    )
    return m, crm.unionAll(erp)


def _fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, dirty = _fuzzy_sides(spark, sf_dir)
    a = m.select("k", F.col("nm").alias("nm_a"), F.length("nm").alias("ln_a"))
    b = dirty.select(
        F.col("k").alias("rec_key"),
        "src",
        F.col("nm").alias("nm_b"),
        F.length("nm").alias("ln_b"),
    )
    # Join ONLY on the hashable blocking keys; compute the distance once
    # in the projection (bounded 3-arg form: banded O(n·k) DP, returns -1
    # past the threshold) and filter on it — Catalyst does not CSE between
    # a join residual and a post-join projection, so putting levenshtein
    # in both would run the DP twice per candidate pair.
    joined = a.join(
        b,
        (F.expr("right(nm_a, 4)") == F.expr("right(nm_b, 4)"))
        & (F.abs(F.col("ln_a") - F.col("ln_b")) <= 2),
    ).withColumn("dist", F.levenshtein("nm_a", "nm_b", 2).cast("bigint"))
    # dist >= 0 is the whole condition: the bounded form returns -1 past
    # the threshold and never a value above it
    return joined.where(F.col("dist") >= 0).select(
        F.col("k").alias("s_suppkey"), "src", "rec_key", "dist"
    )


@register(
    "q_fuzzy_name_join",
    oracle=f"""
    WITH {_FUZZY_PAIRS_SQL}
    SELECT s_suppkey, src, rec_key, dist FROM pairs
    """,
    priority="P2",
    tags=("join", "fuzzy", "blocking"),
)
def q_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution join (edit distance ≤ 2) between the
    supplier master registry and a two-source dirty registry
    (deterministic typo injection — see ``_DIRTY_*_SQL``), with
    BLOCKING: candidates must share the name's last 4 characters and
    have lengths within 2 before Levenshtein runs — the record-linkage
    discipline that turns an O(|A|·|B|) distance matrix into equi-join
    buckets plus a cheap residual. Both blocking predicates are JOIN
    KEYS Catalyst hashes on; only the distance is a residual filter,
    and the blocking key (the digit tail) is chosen to be invariant
    under the noise model (prefix typos) — the key-design step that
    decides recall in real linkage.

    Scale: cost = Σ_blocks |a_block|·|b_block| — governed by the
    blocking key's selectivity, the knob you tune (longer suffix,
    phonetic key, or q-gram LSH) as data grows. Levenshtein's ≤2 bound
    also admits the banded O(n·k) DP rather than full O(n²) per pair
    (Spark's builtin takes the threshold argument for exactly this)."""
    return _fuzzy_pairs(spark, sf_dir)


@register(
    "q_entity_clusters",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    edges AS (
      SELECT s_suppkey * 4 AS d1,
             CASE WHEN src = 'crm' THEN rec_key * 4 + 1
                  ELSE rec_key * 4 + 3 END AS d2
      FROM pairs
    ), sym AS (
      SELECT d1 AS v, d2 AS nbr FROM edges UNION SELECT d2, d1 FROM edges
    ), lp AS (
      SELECT v, v AS lbl FROM (SELECT DISTINCT v FROM sym)
      UNION
      SELECT s.nbr AS v, lp.lbl
      FROM lp JOIN sym s ON lp.v = s.v
      WHERE lp.lbl < s.nbr
    ), labels AS (
      SELECT v, MIN(lbl) AS component FROM lp GROUP BY v
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(CASE WHEN v % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_master,
           CAST(SUM(CASE WHEN v % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty
    FROM labels GROUP BY component
    HAVING COUNT(*) > 1
    """,
    priority="P2",
    tags=("join", "entity-resolution", "components"),
)
def q_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution CLUSTERS: the blocked fuzzy name join
    (`q_fuzzy_name_join`'s exact blocking + distance over the
    synthesized two-source dirty registry) feeds the
    large-star/small-star connected-components engine
    (`llm.dedup.connected_components` — the same component core the
    fuzzy-dedup pipeline uses), giving multi-record identity groups
    across master + both dirty sources (ids disambiguated mod 4: master
    4k, crm 4k+1, erp 4k+3) with per-side member counts — the full
    record-linkage pipeline (block → match → cluster) composed from
    two registered primitives. Oracle walks the same clusters with a
    recursive min-label propagation whose recursive term uses UNION
    (not UNION ALL): the recursive working table is deduped against
    prior rows, which is what guarantees termination on cyclic match
    graphs — with UNION ALL, a dirty record matching two masters forms
    a 4-cycle that re-emits the same (node, label) rows forever
    (round-3 ADVICE item 2; termination pinned by a test).

    Scale: pair generation is the blocked join (block-selectivity
    bound); clustering runs over the PAIR graph — orders of magnitude
    smaller than either table — as one collect and a driver union-find
    when it fits the driver, else O(log n) star rounds. The compose-don't-
    materialize shape is the point: no intermediate table lands
    between match and cluster."""
    from modforms_db_spark.llm.dedup import connected_components

    edges = _fuzzy_pairs(spark, sf_dir).select(
        (F.col("s_suppkey") * 4).alias("d1"),
        F.when(F.col("src") == "crm", F.col("rec_key") * 4 + 1)
        .otherwise(F.col("rec_key") * 4 + 3)
        .alias("d2"),
    )
    labels, _rounds = connected_components(edges)
    return (
        labels.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.sum((F.col("doc_id") % 4 == 0).cast("long")).alias("n_master"),
            F.sum((F.col("doc_id") % 4 != 0).cast("long")).alias("n_dirty"),
        )
        .where(F.col("n_entities") > 1)
    )


@register(
    "q_basket_lift",
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), nord AS (
      SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM op
    ), marg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS n_p FROM op GROUP BY p
    ), pairs AS (
      SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
      GROUP BY a.p, b.p
    ), top AS (
      SELECT p1, p2, n_orders, rk FROM (
        SELECT *, row_number() OVER (ORDER BY n_orders DESC, p1, p2) AS rk
        FROM pairs
      ) WHERE rk <= 20
    )
    SELECT t.p1, t.p2, t.n_orders, t.rk,
           {R4('t.n_orders * 1.0 * nord.n / (m1.n_p * m2.n_p)')} AS lift,
           {R4('t.n_orders * 1.0 / m1.n_p')} AS conf_1_to_2,
           {R4('t.n_orders * 1.0 / m2.n_p')} AS conf_2_to_1
    FROM top t
    JOIN marg m1 ON t.p1 = m1.p
    JOIN marg m2 ON t.p2 = m2.p
    CROSS JOIN nord
    """,
    priority="P2",
    tags=("join", "market-basket", "association-rules"),
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over the top-20 co-purchase pairs
    (`q_copurchase_pairs`' exact support ranking): LIFT
    (P(a,b)/(P(a)·P(b)) — >1 means genuinely associated, not just both
    popular) and both directed CONFIDENCEs (P(b|a), P(a|b)) — the
    metrics that turn raw pair supports into a recommendation rule.

    Scale: pair supports are the basket-width-bounded self-join (see
    `q_copurchase_pairs`); the part marginals are one partial-agg pass
    over the SAME distinct (order, part) grain; the order total is a
    broadcast scalar. Marginals join onto the 20-row top list — the
    20-row side broadcasts, so the metric join costs nothing at any
    scale. The distinct grain is checkpointed: supports, marginals and
    the total all derive from it in one scan of the fact table."""
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nord = op.agg(F.countDistinct("ok").cast("bigint").alias("n"))
    marg = op.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("n_p"))
    b = op.select(F.col("ok"), F.col("p").alias("p2"))
    pairs = (
        op.join(b, "ok")
        .where(F.col("p") < F.col("p2"))
        .groupBy(F.col("p").alias("p1"), "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    top = pairs.orderBy(F.desc("n_orders"), "p1", "p2").limit(20)
    w = Window.orderBy(F.desc("n_orders"), "p1", "p2")
    top = top.withColumn("rk", F.row_number().over(w))
    m1 = marg.select(F.col("p").alias("p1"), F.col("n_p").alias("n_p1"))
    m2 = marg.select(F.col("p").alias("p2"), F.col("n_p").alias("n_p2"))
    # BOTH marginal joins must be broadcast (docstring contract): the
    # first builds on the 20-row top list; its ≤20-row OUTPUT is then
    # hinted explicitly for the second join — without the hint the
    # small intermediate is unhinted against the full part-grain
    # marginal and a non-AQE plan can shuffle the large side
    # (round-4 advisory).
    return (
        F.broadcast(m1.join(F.broadcast(top), "p1"))
        .join(m2, "p2")
        .crossJoin(F.broadcast(nord))
        .select(
            "p1",
            "p2",
            "n_orders",
            "rk",
            F.round(
                F.col("n_orders") * 1.0 * F.col("n")
                / (F.col("n_p1") * F.col("n_p2")),
                4,
            ).alias("lift"),
            F.round(F.col("n_orders") * 1.0 / F.col("n_p1"), 4).alias(
                "conf_1_to_2"
            ),
            F.round(F.col("n_orders") * 1.0 / F.col("n_p2"), 4).alias(
                "conf_2_to_1"
            ),
        )
    )


@register(
    "q_join_asof_nearest",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'purchase' THEN ts END AS purchase_ts
      FROM events
      WHERE event_type IN ('signup', 'purchase')
    ), w AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(purchase_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS prev_ts,
             first_value(purchase_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS next_ts
      FROM tagged
    )
    SELECT user_id, event_id, ts AS signup_ts,
           CASE
             WHEN prev_ts IS NULL THEN next_ts
             WHEN next_ts IS NULL THEN prev_ts
             WHEN epoch_us(ts) - epoch_us(prev_ts)
                  <= epoch_us(next_ts) - epoch_us(ts) THEN prev_ts
             ELSE next_ts
           END AS nearest_purchase_ts,
           CASE
             WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
             WHEN prev_ts IS NULL THEN epoch_us(next_ts) - epoch_us(ts)
             WHEN next_ts IS NULL THEN epoch_us(prev_ts) - epoch_us(ts)
             WHEN epoch_us(ts) - epoch_us(prev_ts)
                  <= epoch_us(next_ts) - epoch_us(ts)
               THEN epoch_us(prev_ts) - epoch_us(ts)
             ELSE epoch_us(next_ts) - epoch_us(ts)
           END AS gap_us
    FROM w WHERE event_type = 'signup'
    """,
    priority="P2",
    tags=("join", "asof", "nearest"),
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — the third direction next to backward
    (`q_join_asof`) and forward (`q_join_asof_forward`): for each
    signup, the user's closest purchase in EITHER direction, signed gap
    in exact µs (negative = purchase preceded signup), ties broken
    toward the earlier (backward) match — pandas' merge_asof
    direction='nearest' semantics, pinned identically in both engines
    via integer µs comparison (never float seconds, so the tiebreak
    can't flip).

    Scale: both direction scans come from the SAME (user_id)-partitioned
    (ts, event_id)-ordered window — Catalyst plans one Exchange + one
    Sort with two frames over it, so nearest costs the same single
    shuffle as either one-direction form."""
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
    )
    tagged = e.withColumn(
        "purchase_ts",
        F.when(F.col("event_type") == "purchase", F.col("ts")),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    d = (
        tagged.withColumn("prev_ts", F.last("purchase_ts", ignorenulls=True).over(wb))
        .withColumn("next_ts", F.first("purchase_ts", ignorenulls=True).over(wf))
        .where(F.col("event_type") == "signup")
    )
    prev_closer = (t_us("ts") - t_us("prev_ts")) <= (t_us("next_ts") - t_us("ts"))
    nearest = (
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(prev_closer, F.col("prev_ts"))
        .otherwise(F.col("next_ts"))
    )
    gap = (
        F.when(F.col("prev_ts").isNull() & F.col("next_ts").isNull(), F.lit(None))
        .when(F.col("prev_ts").isNull(), t_us("next_ts") - t_us("ts"))
        .when(F.col("next_ts").isNull(), t_us("prev_ts") - t_us("ts"))
        .when(prev_closer, t_us("prev_ts") - t_us("ts"))
        .otherwise(t_us("next_ts") - t_us("ts"))
    )
    return d.select(
        "user_id",
        "event_id",
        F.col("ts").alias("signup_ts"),
        nearest.alias("nearest_purchase_ts"),
        gap.alias("gap_us"),
    )


# Fellegi-Sunter m-probabilities: P(field agrees | records match).
# Documented priors (a production linker EM-fits these); u-probabilities
# are estimated from the candidate pairs themselves — blocked random
# pairs are almost all non-matches, the standard u-estimation shortcut.
_FS_M = (0.95, 0.90, 0.98)
_FS_TAU = 2.0  # classify as match above this total log2 weight


@register(
    "q_fellegi_sunter",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ), pairs AS (
      SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment
                  THEN 1 ELSE 0 END AS g1,
             CASE WHEN ABS(a.cents - b.cents) < 10000
                  THEN 1 ELSE 0 END AS g2,
             CASE WHEN (a.cents >= 0) = (b.cents >= 0)
                  THEN 1 ELSE 0 END AS g3
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ), u AS (
      SELECT {R4('AVG(g1 * 1.0)')} AS u1,
             {R4('AVG(g2 * 1.0)')} AS u2,
             {R4('AVG(g3 * 1.0)')} AS u3
      FROM pairs
    ), scored AS (
      SELECT CASE WHEN g1 = 1 THEN LOG2({_FS_M[0]!r} / u1)
                  ELSE LOG2({1 - _FS_M[0]!r} / (1.0 - u1)) END
           + CASE WHEN g2 = 1 THEN LOG2({_FS_M[1]!r} / u2)
                  ELSE LOG2({1 - _FS_M[1]!r} / (1.0 - u2)) END
           + CASE WHEN g3 = 1 THEN LOG2({_FS_M[2]!r} / u3)
                  ELSE LOG2({1 - _FS_M[2]!r} / (1.0 - u3)) END AS score
      FROM pairs CROSS JOIN u
    )
    SELECT CAST(FLOOR(score) AS BIGINT) AS score_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN score > {_FS_TAU!r} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_match,
           {R4('MIN(score)')} AS band_min,
           {R4('MAX(score)')} AS band_max
    FROM scored GROUP BY 1
    """,
    priority="P2",
    tags=("join", "entity-resolution", "statistics"),
)
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (1969) over
    nation-blocked customer pairs: three comparison fields (segment
    agreement, balance within 100.00, balance-sign agreement) score
    log₂(m/u) on agreement and log₂((1−m)/(1−u)) on disagreement;
    the m-priors are documented constants, the u-probabilities are
    ESTIMATED from the candidate pairs themselves (blocked random
    pairs ≈ all non-matches — the standard shortcut an EM fit
    refines). Output: the match-weight distribution as integer score
    bands with pair counts and the τ = {_FS_TAU} classification tally
    — the histogram a linkage review reads to place its upper/lower
    thresholds. The theory layer OVER `q_fuzzy_name_join`'s string
    mechanics and `q_entity_clusters`' transitive closure.

    u-probabilities are r4-rounded before the logs so every weight is
    a fixed double formula of engine-identical scalars.

    Scale: blocking bounds the candidate join (nation blocks, the
    `q_fuzzy_name_join` discipline — never all-pairs); the u
    estimation is a 1-row aggregate off the CHECKPOINTED pair frame
    that the scoring pass reuses; the report is bounded by the score
    bands. A production run swaps blocks and fields, same shape.
    """
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("cents"),
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            .cast("int")
            .alias("g1"),
            (
                F.abs(F.col("a.cents") - F.col("b.cents")) < 10000
            )
            .cast("int")
            .alias("g2"),
            (
                (F.col("a.cents") >= 0) == (F.col("b.cents") >= 0)
            )
            .cast("int")
            .alias("g3"),
        )
        .localCheckpoint(eager=False)  # u estimation + scoring pass
    )
    u = pairs.agg(
        r4(F.avg(F.col("g1") * 1.0)).alias("u1"),
        r4(F.avg(F.col("g2") * 1.0)).alias("u2"),
        r4(F.avg(F.col("g3") * 1.0)).alias("u3"),
    )
    def w(g: str, m: float, uc: str):
        return F.when(
            F.col(g) == 1, F.log2(F.lit(m) / F.col(uc))
        ).otherwise(F.log2(F.lit(1 - m) / (1.0 - F.col(uc))))
    score = (
        w("g1", _FS_M[0], "u1")
        + w("g2", _FS_M[1], "u2")
        + w("g3", _FS_M[2], "u3")
    )
    scored = pairs.crossJoin(F.broadcast(u)).select(score.alias("score"))
    return scored.groupBy(
        F.floor(F.col("score")).cast("bigint").alias("score_band")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("score") > _FS_TAU, 1).otherwise(0))
        .cast("bigint")
        .alias("n_match"),
        r4(F.min("score")).alias("band_min"),
        r4(F.max("score")).alias("band_max"),
    )


@register(
    "q_blocking_quality",
    oracle=f"""
    WITH m AS (
      SELECT s_suppkey AS k, lower(s_name) AS nm FROM supplier
    ), dirty AS (
      {_DIRTY_CRM_SQL}
      UNION ALL
      {_DIRTY_ERP_SQL}
    ), msz AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_m FROM m
    ), dsz AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS n_true FROM dirty GROUP BY 1
    ), cand AS (
      SELECT 'suffix4' AS scheme, d.src, m.k AS mk, d.k AS dk,
             m.nm AS mnm, d.nm AS dnm
      FROM m JOIN dirty d
        ON right(m.nm, 4) = right(d.nm, 4)
       AND ABS(length(m.nm) - length(d.nm)) <= 2
      UNION ALL
      SELECT 'prefix4', d.src, m.k, d.k, m.nm, d.nm
      FROM m JOIN dirty d
        ON substring(m.nm, 1, 4) = substring(d.nm, 1, 4)
       AND ABS(length(m.nm) - length(d.nm)) <= 2
    ), agg AS (
      SELECT scheme, src, CAST(COUNT(*) AS BIGINT) AS n_cand,
             CAST(SUM(CASE WHEN mk = dk THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_blocked,
             CAST(SUM(CASE WHEN levenshtein(mnm, dnm) <= 2
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match_pairs
      FROM cand GROUP BY 1, 2
    )
    SELECT a.scheme, a.src, d.n_true, a.n_cand, a.n_true_blocked,
           a.n_match_pairs,
           {R4('1.0 - a.n_cand / (1.0 * msz.n_m * d.n_true)')}
             AS reduction_ratio,
           {R4('a.n_true_blocked * 1.0 / d.n_true')} AS pairs_completeness
    FROM agg a JOIN dsz d ON a.src = d.src CROSS JOIN msz
    """,
    priority="P2",
    tags=("join", "blocking", "audit"),
)
def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme audit for the record-linkage family — the two
    numbers every blocking key is judged by (Christen 2012): REDUCTION
    RATIO (how much of the |A|x|B| matrix the blocks prune) and PAIRS
    COMPLETENESS (what fraction of true matches survive blocking),
    measured against the known typo-injection ground truth (a dirty
    record's origin IS its key — shared `_DIRTY_*_SQL` rules, so this
    audits exactly the scheme `q_fuzzy_name_join` ships). Two schemes
    side by side: the production suffix-4 key (typo-invariant tail →
    completeness 1.0 at high reduction) and a deliberately fragile
    prefix-4 key, which the prefix-located noise model defeats twice —
    deleted/inserted prefix chars drop true pairs (completeness < 1)
    AND the shared 'supp' prefix collapses blocks (reduction ~ 0).
    The audit exists to make that trade visible before 100 TB does.

    All ratios are exact integer ratios r4-rounded at the end; the
    candidate counts are the join's own output cardinality.

    Scale: both sides are checkpointed once; each scheme is one
    equi-join on its blocking key — the audit costs what the blocking
    actually buys, which is the point (the bad scheme's near-cross
    cost IS its reduction-ratio verdict, bounded here by the supplier
    dim size).
    """
    m, dirty = _fuzzy_sides(spark, sf_dir)
    m = m.localCheckpoint(eager=False)  # two scheme joins + size agg
    dirty = dirty.localCheckpoint(eager=False)
    msz = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_m"))
    dsz = dirty.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    ma = m.select(
        F.col("k").alias("mk"),
        F.col("nm").alias("mnm"),
        F.length("nm").alias("mln"),
    )
    da = dirty.select(
        F.col("k").alias("dk"),
        "src",
        F.col("nm").alias("dnm"),
        F.length("nm").alias("dln"),
    )
    lenband = F.abs(F.col("mln") - F.col("dln")) <= 2
    cands = None
    for scheme, key in (
        ("suffix4", lambda c: F.expr(f"right({c}, 4)")),
        ("prefix4", lambda c: F.substring(c, 1, 4)),
    ):
        cand = (
            ma.withColumn("bk", key("mnm"))
            .join(da.withColumn("bk", key("dnm")), "bk")
            .where(lenband)
            .select(
                F.lit(scheme).alias("scheme"),
                "src",
                "mk",
                "dk",
                "mnm",
                "dnm",
            )
        )
        cands = cand if cands is None else cands.unionByName(cand)
    agg = cands.groupBy("scheme", "src").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"),
        F.sum(F.when(F.col("mk") == F.col("dk"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_blocked"),
        F.sum(
            F.when(F.levenshtein("mnm", "dnm") <= 2, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_match_pairs"),
    )
    return (
        agg.join(dsz, "src")
        .crossJoin(F.broadcast(msz))
        .select(
            "scheme",
            "src",
            "n_true",
            "n_cand",
            "n_true_blocked",
            "n_match_pairs",
            r4(
                1.0
                - F.col("n_cand") / (1.0 * F.col("n_m") * F.col("n_true"))
            ).alias("reduction_ratio"),
            r4(F.col("n_true_blocked") * 1.0 / F.col("n_true")).alias(
                "pairs_completeness"
            ),
        )
    )


@register(
    "q_join_size_estimate",
    oracle=f"""
    WITH lo AS (
      SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS co
      FROM orders GROUP BY 1
    ), ll AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cl
      FROM lineitem GROUP BY 1
    ), m AS (
      SELECT lo.k, lo.co, ll.cl, lo.co * ll.cl AS fan
      FROM lo JOIN ll ON lo.k = ll.k
    ), s AS (
      SELECT CAST(SUM(co) AS BIGINT) AS n_left,
             CAST(SUM(cl) AS BIGINT) AS n_right,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(fan) AS BIGINT) AS join_rows,
             CAST(MAX(fan) AS BIGINT) AS max_fanout
      FROM m
    )
    SELECT n_left, n_right, n_keys, join_rows, max_fanout,
           {R4('CAST(n_left AS DOUBLE) * n_right / n_keys')}
             AS est_uniform,
           {R4('join_rows * 1.0 / (CAST(n_left AS DOUBLE) * n_right'
                ' / n_keys)')} AS skew_factor,
           {R4('CAST(max_fanout AS DOUBLE) * n_keys / join_rows')}
             AS top_key_pressure
    FROM s
    """,
    priority="P2",
    tags=("join", "cardinality", "planning"),
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size prediction from per-key histograms — the AQE-style
    read an engine consults BEFORE shuffling: exact join output rows
    (sum over matching keys of left-count x right-count), the
    uniform-assumption textbook estimate |L|·|R|/d, their ratio (the
    skew factor — how wrong the naive optimizer estimate would be),
    and top-key pressure (max fanout x keys / join rows; ~1 means
    balanced, >>1 means one key dominates the shuffle and wants the
    salted-join twin `q_join_skew_salted`). Companion to `q_ams_f2`
    (which sketches the SELF-join size in one pass) and
    `q_partition_skew_report` (physical partition skew).

    All masses are exact BIGINTs from the two key grains; the three
    ratios are single double formulas over them, r4 at output.

    Scale: each side reduces map-side to its key grain before the
    only shuffle (grain-x-grain join on the key); nothing row-scale
    crosses the wire, so the prediction costs a fraction of the join
    it prices.
    """
    lo = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    )
    ll = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cl"))
    )
    m = lo.join(ll, "k").select(
        "co", "cl", (F.col("co") * F.col("cl")).alias("fan")
    )
    s = m.agg(
        F.sum("co").cast("bigint").alias("n_left"),
        F.sum("cl").cast("bigint").alias("n_right"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("fan").cast("bigint").alias("join_rows"),
        F.max("fan").cast("bigint").alias("max_fanout"),
    )
    est_uniform = (
        F.col("n_left").cast("double") * F.col("n_right") / F.col("n_keys")
    )
    return s.select(
        "n_left",
        "n_right",
        "n_keys",
        "join_rows",
        "max_fanout",
        r4(est_uniform).alias("est_uniform"),
        r4(F.col("join_rows") * 1.0 / est_uniform).alias("skew_factor"),
        r4(
            F.col("max_fanout").cast("double")
            * F.col("n_keys")
            / F.col("join_rows")
        ).alias("top_key_pressure"),
    )


@register(
    "q_join_division",
    oracle="""
    WITH divisor AS (
      SELECT DISTINCT o_orderpriority AS p FROM orders
    ), nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_classes FROM divisor
    ), cp AS (
      SELECT o_custkey, o_orderpriority AS p,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2
    ), cov AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_covered,
             CAST(SUM(n_orders) AS BIGINT) AS n_orders
      FROM cp GROUP BY 1
    )
    SELECT cov.o_custkey AS c_custkey, c.c_mktsegment,
           cov.n_covered, cov.n_orders
    FROM cov
    CROSS JOIN nd
    JOIN customer c ON c.c_custkey = cov.o_custkey
    WHERE cov.n_covered = nd.n_classes
    """,
    priority="P2",
    tags=("join", "division", "relational"),
)
def q_join_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (Codd's ÷ — the one classical relational
    operator the inventory lacked): customers whose order history
    covers EVERY order-priority class present in the data — the
    "bought ALL products in the set" / "passed ALL checks" query
    shape. Implemented the scalable way: not a nested NOT EXISTS
    (whose decorrelation re-scans the divisor per row) but the
    count-matching rewrite — reduce to the (customer, class) grain,
    count coverage per customer, and keep customers whose coverage
    equals the divisor cardinality (a 1-row broadcast). The divisor
    is DERIVED from the dividend (all classes observed anywhere),
    so the operator is self-contained at any SF; about half the
    customers qualify at every shipped SF — both branches live.

    All counts are exact integers; qualifying rows are enriched
    with the customer dim (broadcast join).

    Scale: one pass to the (custkey, class) grain (map-side
    combined), one count-per-customer aggregate, a scalar broadcast
    for the divisor size, and a dim join — no EXISTS correlation,
    no divisor×dividend blowup.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cp = (
        o.groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .localCheckpoint(eager=False)  # coverage + divisor, one scan
    )
    cov = cp.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_covered"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
    )
    nd = (
        cp.select("o_orderpriority")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_classes"))
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        cov.crossJoin(F.broadcast(nd))
        .where(F.col("n_covered") == F.col("n_classes"))
        .join(
            F.broadcast(cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "c_mktsegment", "n_covered", "n_orders")
    )


_USAMPLE_PCT = 10  # universe-sample keep share (hash(key) % 100 < 10)


@register(
    "q_join_sample_estimate",
    oracle=f"""
    WITH l AS (
      SELECT l_orderkey AS k FROM lineitem
    ), o AS (
      SELECT o_orderkey AS k FROM orders
    ), exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS j_exact
      FROM l JOIN o ON o.k = l.k
    ), ls AS (
      SELECT k FROM l WHERE (k * 2654435761) % 9973 % 100 < {_USAMPLE_PCT}
    ), os AS (
      SELECT k FROM o WHERE (k * 2654435761) % 9973 % 100 < {_USAMPLE_PCT}
    ), samp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS j_samp
      FROM ls JOIN os ON os.k = ls.k
    )
    SELECT exact.j_exact, samp.j_samp,
           CAST(samp.j_samp * 100 / {_USAMPLE_PCT} AS BIGINT) AS j_est,
           {R4(f'''ABS(samp.j_samp * 100.0 / {_USAMPLE_PCT}
                 - exact.j_exact) / exact.j_exact''')} AS rel_err,
           ABS(samp.j_samp * 100.0 / {_USAMPLE_PCT} - exact.j_exact)
             / exact.j_exact < 0.2 AS within_20pct
    FROM exact CROSS JOIN samp
    """,
    priority="P2",
    tags=("join", "sampling", "estimate"),
)
def q_join_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universe-sampled join-size estimation — the sampling
    complement to `q_join_size_estimate`'s exact per-key histograms:
    keep a key WHENEVER its avalanched hash lands in the same 10%
    bucket ON BOTH SIDES (correlated "universe" sampling — Bernoulli
    row sampling would square the inclusion probability of a matched
    pair and systematically underestimate), join the samples, and
    scale by 1/p once (keys kept with probability p keep ALL their
    pairs). The estimator is unbiased over the hash choice; the op
    reports sampled vs exact with the relative error and a 20%
    accuracy verdict, so the driver hash pins the whole pipeline
    including the error itself.

    The key hash is the avalanched two-level prime mod (`q_ipw_ate`
    lesson — raw mod-100 multiplicative hashes collapse on dense key
    ranges); all counts exact BIGINT, one division under r4.

    Scale: this is the pre-shuffle sizing probe — both sampled sides
    are 10% scans (the hash predicate pushes to the scan), the
    sampled join shuffles 1% of the pair mass, and the exact join
    here is only the audit; in production you run just the sampled
    leg.
    """
    h = lambda c: F.pmod(  # noqa: E731
        F.pmod(F.col(c) * F.lit(2654435761).cast("bigint"), 9973), 100
    )
    l = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    ).localCheckpoint(eager=False)  # exact + sampled legs, one scan
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    ).localCheckpoint(eager=False)
    exact = l.join(o.withColumnRenamed("k", "k2"), F.col("k") == F.col("k2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("j_exact")
    )
    ls = l.where(h("k") < _USAMPLE_PCT)
    os_ = o.where(h("k") < _USAMPLE_PCT).withColumnRenamed("k", "k2")
    samp = ls.join(os_, F.col("k") == F.col("k2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("j_samp")
    )
    est = F.col("j_samp") * 100 / _USAMPLE_PCT
    rel = F.abs(est - F.col("j_exact")) / F.col("j_exact")
    return exact.crossJoin(samp).select(
        "j_exact",
        "j_samp",
        est.cast("bigint").alias("j_est"),
        r4(rel).alias("rel_err"),
        (rel < 0.2).alias("within_20pct"),
    )


@register(
    "q_late_arriving_dim",
    oracle=f"""
    WITH snap AS (
      SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 7 != 0
    ), joined AS (
      SELECT o.o_custkey, o.o_totalprice,
             CASE WHEN s.c_custkey IS NULL THEN 'INFERRED'
                  ELSE 'nation_' || CAST(s.c_nationkey AS VARCHAR)
             END AS dim_bucket,
             s.c_custkey IS NULL AS inferred
      FROM orders o LEFT JOIN snap s ON o.o_custkey = s.c_custkey
    )
    SELECT dim_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT CASE WHEN inferred THEN o_custkey END)
             AS BIGINT) AS n_inferred_keys,
           {R2('SUM(o_totalprice)')} AS revenue
    FROM joined GROUP BY dim_bucket
    """,
    priority="P2",
    tags=("join", "warehouse", "late-arriving"),
)
def q_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling (the Kimball early-arriving-fact
    pattern): facts whose dimension key has not landed yet must NOT be
    dropped or fail the load — they report under an INFERRED member
    until the dimension row arrives. A 1/7 slice of customers is
    withheld from the dim snapshot (deterministic, so both engines and
    every SF see the same gap); orders left-join the snapshot, resolve
    to per-nation buckets or the inferred bucket, and the report
    carries the count of distinct unresolved keys — the backfill
    work-queue size.

    Scale: one left join on the fact key (the dim side is the small
    one and broadcast-eligible); the inferred bucket is a conditional
    aggregation, not a second pass. The COUNT(DISTINCT) rides the same
    grouped aggregate."""
    snap = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 7 != 0)
        .select("c_custkey", "c_nationkey")
    )
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    joined = o.join(
        F.broadcast(snap), o.o_custkey == snap.c_custkey, "left"
    ).select(
        "o_custkey",
        "o_totalprice",
        F.when(F.col("c_custkey").isNull(), F.lit("INFERRED"))
        .otherwise(
            F.concat(F.lit("nation_"), F.col("c_nationkey").cast("string"))
        )
        .alias("dim_bucket"),
        F.col("c_custkey").isNull().alias("inferred"),
    )
    return joined.groupBy("dim_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct(
            F.when(F.col("inferred"), F.col("o_custkey"))
        )
        .cast("bigint")
        .alias("n_inferred_keys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_ASOF_TOL_HOURS = 48


@register(
    "q_join_asof_tolerance",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type FROM events
      WHERE event_type IN ('signup', 'purchase')
    ), w AS (
      SELECT user_id, event_id, ts, event_type,
             MAX(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_signup_ts
      FROM e
    )
    SELECT user_id, event_id, ts AS purchase_ts,
           CASE WHEN last_signup_ts >= ts - INTERVAL {_ASOF_TOL_HOURS} HOUR
                THEN last_signup_ts END AS signup_ts_within_tol,
           COALESCE(last_signup_ts >= ts - INTERVAL {_ASOF_TOL_HOURS} HOUR,
                    FALSE) AS matched
    FROM w WHERE event_type = 'purchase'
    """,
    priority="P2",
    tags=("join", "asof", "tolerance"),
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (the pandas `merge_asof(tolerance=...)`
    semantic the plain as-of family lacks): each purchase matches the
    latest prior signup only if it happened within 48 h — older matches
    return NULL with an explicit `matched` flag, because "the user
    signed up three weeks ago" is a DIFFERENT business fact from
    "signed up just before buying" (attribution windows, session
    stitching, sensor-reading staleness all need the cutoff).

    Same one-shuffle window emulation as `q_join_asof` — the tolerance
    is a post-window predicate, not a join-condition blowup; the
    `matched` flag is COALESCEd to FALSE (never a NULL boolean — the
    canonicalization rule).

    Scale: identical to `q_join_asof`: one shuffle on user_id + one
    window pass; the tolerance predicate is free."""
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
    )
    tagged = e.withColumn(
        "signup_ts",
        F.when(F.col("event_type") == "signup", F.col("ts")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = F.col("last_signup_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {_ASOF_TOL_HOURS} HOUR"
    )
    return (
        tagged.withColumn(
            "last_signup_ts", F.last("signup_ts", ignorenulls=True).over(w)
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("purchase_ts"),
            F.when(within, F.col("last_signup_ts")).alias(
                "signup_ts_within_tol"
            ),
            F.coalesce(within, F.lit(False)).alias("matched"),
        )
    )


_MATCH_CALIPER = 200  # cents
_MATCH_BIN = 500      # cents; bin width >= caliper so nearest is in own/adjacent bin
_MATCH_TAU = 500      # planted treatment effect, cents


@register(
    "q_matching_att",
    oracle=f"""
    WITH base AS (
      SELECT event_id AS id,
             CAST({R('value * 100', 0)} AS BIGINT) AS c,
             (xor((event_id * 1013904223) % 4294967296,
                  ((event_id * 1013904223) % 4294967296) >> 13)) % 1000 AS u2,
             (xor((event_id * 2654435761) % 4294967296,
                  ((event_id * 2654435761) % 4294967296) >> 16)) % 100 AS h
      FROM events
    ), units AS (
      SELECT id, c,
             CASE WHEN h < LEAST(90, 5 + c // 700) THEN 1 ELSE 0 END AS t,
             2 * c + {_MATCH_TAU}
               * CASE WHEN h < LEAST(90, 5 + c // 700) THEN 1 ELSE 0 END
               + u2 AS y
      FROM base
    ), ctl AS (
      SELECT id, c, y, c // {_MATCH_BIN} AS bin FROM units WHERE t = 0
      UNION ALL
      SELECT id, c, y, c // {_MATCH_BIN} + 1 AS bin FROM units
      WHERE t = 0 AND ({_MATCH_BIN} - c % {_MATCH_BIN}) <= {_MATCH_CALIPER}
      UNION ALL
      SELECT id, c, y, c // {_MATCH_BIN} - 1 AS bin FROM units
      WHERE t = 0 AND c % {_MATCH_BIN} < {_MATCH_CALIPER}
    ), mixed AS (
      SELECT bin, c, id, y, 0 AS is_treated FROM ctl
      UNION ALL
      SELECT c // {_MATCH_BIN} AS bin, c, id, y, 1 AS is_treated
      FROM units WHERE t = 1
    ), scanned AS (
      SELECT bin, c, id, y, is_treated,
             LAST_VALUE(CASE WHEN is_treated = 0 THEN c END IGNORE NULLS)
               OVER wb AS pc,
             LAST_VALUE(CASE WHEN is_treated = 0 THEN y END IGNORE NULLS)
               OVER wb AS py,
             FIRST_VALUE(CASE WHEN is_treated = 0 THEN c END IGNORE NULLS)
               OVER wf AS nc,
             FIRST_VALUE(CASE WHEN is_treated = 0 THEN y END IGNORE NULLS)
               OVER wf AS ny
      FROM mixed
      WINDOW wb AS (PARTITION BY bin ORDER BY c, is_treated, id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wf AS (PARTITION BY bin ORDER BY c, is_treated, id
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ), matched AS (
      SELECT id, y,
             CASE
               WHEN pc IS NULL AND nc IS NULL THEN NULL
               WHEN nc IS NULL THEN py
               WHEN pc IS NULL THEN ny
               WHEN c - pc <= nc - c THEN py ELSE ny END AS my,
             CASE
               WHEN pc IS NULL AND nc IS NULL THEN NULL
               WHEN nc IS NULL THEN c - pc
               WHEN pc IS NULL THEN nc - c
               WHEN c - pc <= nc - c THEN c - pc ELSE nc - c END AS gap
      FROM scanned WHERE is_treated = 1
    ), naive AS (
      SELECT
        {R('AVG(CASE WHEN t = 1 THEN CAST(y AS DOUBLE) END)'
           ' - AVG(CASE WHEN t = 0 THEN CAST(y AS DOUBLE) END)', 10)} AS nd
      FROM units
    ), att AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
             CAST(COUNT(CASE WHEN gap <= {_MATCH_CALIPER} THEN 1 END)
                  AS BIGINT) AS n_matched,
             CAST(SUM(CASE WHEN gap <= {_MATCH_CALIPER} THEN y - my END)
                  AS BIGINT) AS diff_sum
      FROM matched
    )
    SELECT a.n_treated, a.n_matched,
           {R4('a.n_matched * 1.0 / a.n_treated')} AS match_rate4,
           {R2('n.nd / 100.0')} AS naive_diff2,
           {R2('a.diff_sum * 1.0 / a.n_matched / 100.0')} AS att2
    FROM att a CROSS JOIN naive n
    """,
    priority="P2",
    tags=("join", "causal", "matching"),
)
def q_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN covariate matching with a caliper — the MATCHING
    estimator beside `q_ipw_ate`'s weighting (same identification,
    different estimator; matching is what applied teams reach for
    because each treated unit gets a VISIBLE counterfactual): units
    with confounded treatment (uptake probability rises with the
    covariate c) and outcome y = 2c + tau*T + noise; the naive
    treated-vs-control difference is badly biased upward, and
    matching each treated unit to its nearest control within a
    200-cent caliper recovers tau = 5.00 within noise — both numbers
    emitted side by side, plus the match rate the caliper costs.

    Distributed matching device (the scale point): sort-merge
    nearest-neighbor via BINNING — controls are replicated into
    adjacent bins only within a caliper of the boundary (bin width
    >= caliper guarantees the true nearest is in the own-or-adjacent
    bin), then prev/next control per treated unit come from ONE
    bin-partitioned window pass (the `q_join_asof_nearest` frames).
    No global sort, no cross join; the replication factor is bounded
    by 1 + 2*caliper/bin_width.

    Exactness: covariate and outcome are exact integer cents
    (avalanched independent hashes for treatment and noise — the
    q_ipw_ate lesson); gaps and tie-breaks compare integers; the ATT
    is an exact integer sum over matched pairs divided once."""
    h = lambda k, sh: F.pmod(  # noqa: E731
        F.pmod(F.col("event_id") * F.lit(k).cast("bigint"), F.lit(4294967296))
        .bitwiseXOR(
            F.shiftright(
                F.pmod(
                    F.col("event_id") * F.lit(k).cast("bigint"),
                    F.lit(4294967296),
                ),
                sh,
            )
        ),
        F.lit(10000),
    )
    base = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        F.pmod(h(1013904223, 13), F.lit(1000)).alias("u2"),
        F.pmod(h(2654435761, 16), F.lit(100)).alias("h"),
    )
    t = (
        F.col("h")
        < F.least(F.lit(90), 5 + F.floor(F.col("c") / 700))
    ).cast("int")
    units = base.select(
        "id",
        "c",
        t.alias("t"),
        (2 * F.col("c") + _MATCH_TAU * t + F.col("u2")).alias("y"),
    ).localCheckpoint(eager=False)  # control legs + treated leg + naive
    bin_ = F.floor(F.col("c") / _MATCH_BIN).cast("bigint")
    ctl0 = units.where(F.col("t") == 0)
    ctl = (
        ctl0.select("id", "c", "y", bin_.alias("bin"))
        .unionByName(
            ctl0.where(
                (_MATCH_BIN - F.pmod(F.col("c"), F.lit(_MATCH_BIN)))
                <= _MATCH_CALIPER
            ).select("id", "c", "y", (bin_ + 1).alias("bin"))
        )
        .unionByName(
            ctl0.where(
                F.pmod(F.col("c"), F.lit(_MATCH_BIN)) < _MATCH_CALIPER
            ).select("id", "c", "y", (bin_ - 1).alias("bin"))
        )
    )
    mixed = ctl.select(
        "bin", "c", "id", "y", F.lit(0).alias("is_treated")
    ).unionByName(
        units.where(F.col("t") == 1).select(
            bin_.alias("bin"), "c", "id", "y", F.lit(1).alias("is_treated")
        )
    )
    order = [F.asc("c"), F.asc("is_treated"), F.asc("id")]
    wb = (
        Window.partitionBy("bin")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("bin")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ctl_c = F.when(F.col("is_treated") == 0, F.col("c"))
    ctl_y = F.when(F.col("is_treated") == 0, F.col("y"))
    scanned = mixed.select(
        "bin",
        "c",
        "id",
        "y",
        "is_treated",
        F.last(ctl_c, ignorenulls=True).over(wb).alias("pc"),
        F.last(ctl_y, ignorenulls=True).over(wb).alias("py"),
        F.first(ctl_c, ignorenulls=True).over(wf).alias("nc"),
        F.first(ctl_y, ignorenulls=True).over(wf).alias("ny"),
    ).where(F.col("is_treated") == 1)
    prev_closer = (F.col("c") - F.col("pc")) <= (F.col("nc") - F.col("c"))
    my = (
        F.when(F.col("pc").isNull() & F.col("nc").isNull(), F.lit(None))
        .when(F.col("nc").isNull(), F.col("py"))
        .when(F.col("pc").isNull(), F.col("ny"))
        .when(prev_closer, F.col("py"))
        .otherwise(F.col("ny"))
    )
    gap = (
        F.when(F.col("pc").isNull() & F.col("nc").isNull(), F.lit(None))
        .when(F.col("nc").isNull(), F.col("c") - F.col("pc"))
        .when(F.col("pc").isNull(), F.col("nc") - F.col("c"))
        .when(prev_closer, F.col("c") - F.col("pc"))
        .otherwise(F.col("nc") - F.col("c"))
    )
    matched = scanned.select("id", "y", my.alias("my"), gap.alias("gap"))
    att = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated"),
        F.count(F.when(F.col("gap") <= _MATCH_CALIPER, 1))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(
            F.when(F.col("gap") <= _MATCH_CALIPER, F.col("y") - F.col("my"))
        )
        .cast("bigint")
        .alias("diff_sum"),
    )
    naive = units.agg(
        F.round(
            F.avg(F.when(F.col("t") == 1, F.col("y").cast("double")))
            - F.avg(F.when(F.col("t") == 0, F.col("y").cast("double"))),
            10,
        ).alias("nd")
    )
    return att.crossJoin(F.broadcast(naive)).select(
        "n_treated",
        "n_matched",
        r4(F.col("n_matched") * 1.0 / F.col("n_treated")).alias("match_rate4"),
        F.round(F.col("nd") / 100.0, 2).alias("naive_diff2"),
        F.round(F.col("diff_sum") * 1.0 / F.col("n_matched") / 100.0, 2).alias(
            "att2"
        ),
    )
