"""Banded global ordering — distributed exact rank / cumulative sums.

The scale-safe replacement for ``Window.orderBy(...)`` with no partition
(a single-task global sort): band rows by VALUE RANGE, run the window
per band in parallel, then shift each band by offsets computed on the
band GRAIN (≤ ``N_BANDS`` rows per group — a trivially small window).

Exactness argument: the band id is a monotone function of the leading
order column (floor of an affine map; fp subtraction/multiplication by a
positive constant are monotone, so v1 < v2 ⇒ band(v1) ≤ band(v2), and
equal values share a band), hence every row of band i precedes every row
of band i+1 in the target order and the per-band window + prefix offset
reproduces the global window EXACTLY — unlike quantile-cut
approximations, no boundary-tie caveat.  Equal-width bands trade skew
resistance for declarativeness (no driver-side cutpoint collect, no
extra pass); production layouts with skewed leading columns would feed
GK-sketch cutpoints into the same shape.

Cost: three passes over the input (min/max stats, the banded window,
band totals) instead of one — the input is materialized ONCE with
``localCheckpoint(eager=False)`` so the passes re-read cached rows
rather than recomputing the upstream pipeline (banding inputs are
aggregated grains: vocab, parts, customers — the multi-consumer
checkpoint trade the house convention already makes).  Offsets and
stats are band-/group-grain and joined back via broadcast; offsets
derive from the pre-window band frame so the per-band window executes
exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_BANDS = 32

_BAND = "_mfdb_band"
_RN_OFF = "_mfdb_rn_off"
_CUM_OFF = "_mfdb_cum_off"


def with_banded_order(
    df: DataFrame,
    order_col: str,
    tiebreaks: list[str],
    *,
    descending: bool = False,
    group_cols: list[str] | None = None,
    cumsum_col: str | None = None,
    rn_name: str = "rn",
    cum_name: str = "cum",
    checkpoint_input: bool = True,
) -> DataFrame:
    """Return ``df`` plus a global (per ``group_cols``) row number
    ``rn_name`` in ``(order_col [DESC], *tiebreaks)`` order — and, when
    ``cumsum_col`` is given, the running sum ``cum_name`` over that
    order — computed with only band-partitioned windows.  ``order_col``
    must be numeric and non-null; ``tiebreaks`` must make the full order
    key unique within a group (so rank ≡ row_number).  Pass
    ``checkpoint_input=False`` only when ``df`` is already a
    localCheckpoint (a second materialization of the same rows is pure
    overhead — measured +0.2 s on q_pareto_abc_scaled)."""
    g = list(group_cols or [])
    v = F.col(order_col)

    # ONE materialization of the caller's frame: stats and the band-join
    # below both read it, and the banded frame itself feeds two legs
    # (offsets + the windowed output). Without this, an un-checkpointed
    # upstream pipeline recomputes once per leg — and CHAINED bandings
    # (q_rfm_segmentation scores three axes) amplify that geometrically:
    # measured steady-state 3.9 s → 2.7 s at sf0.1 from this one line.
    # Banding inputs are aggregated grains (vocab, parts, customers), so
    # materializing them is the same deliberate trade the house
    # checkpoint convention already makes for multi-consumer grains.
    if checkpoint_input:
        df = df.localCheckpoint(eager=False)

    stats = df.groupBy(*g).agg(
        F.min(order_col).alias("_mfdb_mn"), F.max(order_col).alias("_mfdb_mx")
    )
    d = df.join(F.broadcast(stats), g) if g else df.crossJoin(F.broadcast(stats))
    span = F.col("_mfdb_mx") - F.col("_mfdb_mn")
    frac = (F.col("_mfdb_mx") - v) if descending else (v - F.col("_mfdb_mn"))
    band = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.lit(N_BANDS - 1),
            F.floor(frac.cast("double") / span.cast("double") * N_BANDS),
        )
    )
    d = d.withColumn(_BAND, band.cast("int")).drop("_mfdb_mn", "_mfdb_mx")

    # Band-grain offsets come from the PRE-window band frame: the per-band
    # count/sum doesn't need row numbers, and deriving it from the
    # windowed frame (the old shape) executed the window twice — once for
    # the output leg, once here.
    aggs = [F.count(F.lit(1)).alias("_mfdb_bn")]
    if cumsum_col is not None:
        aggs.append(F.sum(cumsum_col).alias("_mfdb_bs"))
    w_off = (
        Window.partitionBy(*g)
        .orderBy(_BAND)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = d.groupBy(*g, _BAND).agg(*aggs)

    order = [F.desc(order_col) if descending else F.asc(order_col)] + [
        F.asc(t) for t in tiebreaks
    ]
    w_local = Window.partitionBy(*g, _BAND).orderBy(*order)
    d = d.withColumn(rn_name, F.row_number().over(w_local).cast("bigint"))
    if cumsum_col is not None:
        d = d.withColumn(
            cum_name,
            F.sum(cumsum_col).over(
                w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    off_cols = [
        F.coalesce(F.sum("_mfdb_bn").over(w_off), F.lit(0)).alias(_RN_OFF)
    ]
    if cumsum_col is not None:
        off_cols.append(
            F.coalesce(F.sum("_mfdb_bs").over(w_off), F.lit(0)).alias(_CUM_OFF)
        )
    offs = offs.select(*g, _BAND, *off_cols)

    d = d.join(F.broadcast(offs), [*g, _BAND])
    d = d.withColumn(rn_name, F.col(rn_name) + F.col(_RN_OFF))
    drop = [_BAND, _RN_OFF]
    if cumsum_col is not None:
        d = d.withColumn(cum_name, F.col(cum_name) + F.col(_CUM_OFF))
        drop.append(_CUM_OFF)
    return d.drop(*drop)


def ntile_from_rn(rn: Column, n: Column, k: int) -> Column:
    """SQL ``ntile(k)`` as a pure function of a 1-based row number ``rn``
    and the partition size ``n`` (both bigint): the first ``n % k`` tiles
    hold ``n div k + 1`` rows, the rest ``n div k`` — Spark's and
    DuckDB's shared definition, which makes a distributed ntile just a
    banded row number plus this arithmetic."""
    # EXACT integer division at any bigint magnitude (round-4 advisory:
    # the old double-divide + cast is only floor below 2^53, and this
    # module targets 10^8-10^9+ row partitions — headroom matters).
    # base = n div k: divisor is a SMALL literal → two-limb long
    # division; every intermediate double quotient has a < 2^53
    # numerator, so each floor is exact for any n < 2^63, k < 2^21.
    # The per-tile legs divide by LARGE columns (big ≈ n/k) but their
    # quotients are < k, so a double estimate is within 2^-50 of the
    # true ratio and a single ±1 correction (exact bigint multiply-back)
    # pins the floor.
    base = _div_by_small(n, k)
    rem = n % k
    big = base + 1
    in_big = rn <= rem * big
    first_leg = _div_small_quotient(rn - 1, big)
    rest_leg = _div_small_quotient(rn - rem * big - 1, base)
    return F.when(in_big, first_leg + 1).otherwise(rem + rest_leg + 1)


def _div_by_small(a: Column, k: int) -> Column:
    """Exact ``a div k`` for bigint ``a`` in [0, 2^63) and literal
    0 < k < 2^21: two-limb (base 2^31) long division. The high limb is
    < 2^32 and the second numerator rh·2^31 + lo is < k·2^31 < 2^52 —
    both below 2^53, so the two double floors are exact."""
    m = 1 << 31
    a = a.cast("bigint")
    hi = F.shiftright(a, 31)
    lo = a - hi * m
    qh = F.floor(hi / k).cast("bigint")
    rh = hi - qh * k
    q2 = F.floor((rh * m + lo) / k).cast("bigint")
    return qh * m + q2


def _div_small_quotient(a: Column, b: Column) -> Column:
    """Exact ``a div b`` for bigint ``a ≥ 0`` and column ``b > 0`` when
    the true quotient is SMALL (< ~2^40): floor the double estimate,
    then correct by ±1 against the exact bigint multiply-back. The
    double ratio's absolute error is ≤ quotient·2^-51 + 1 ulp < 1, so
    the estimate is off by at most one either way."""
    a = a.cast("bigint")
    b = b.cast("bigint")
    q0 = F.floor(a / b).cast("bigint")
    r = a - q0 * b
    return F.when(r < 0, q0 - 1).when(r >= b, q0 + 1).otherwise(q0)


def with_abc_class(df: DataFrame, value_col: str, key_col: str) -> DataFrame:
    """ABC (Pareto) classification over ``value_col`` (a 2-dp-rounded
    double): quantize to EXACT integer cents, banded cumulative sum in
    (value DESC, key) order, class from the 4-dp-rounded
    strictly-before cumulative share (< 0.8 → A, < 0.95 → B,
    else C). One definition shared by `q_pareto_abc_scaled` and
    `q_abc_xyz` so the cents/rounding/threshold contract cannot drift
    between them. Adds ``abc``; drops the internal columns."""
    d = df.withColumn(
        "_mfdb_cents", F.round(F.col(value_col) * 100).cast("bigint")
    ).localCheckpoint(eager=False)
    ranked = with_banded_order(
        d,
        "_mfdb_cents",
        [key_col],
        descending=True,
        cumsum_col="_mfdb_cents",
        rn_name="_mfdb_rn",
        cum_name="_mfdb_cum",
        checkpoint_input=False,  # d is the localCheckpoint two lines up
    )
    tot = d.groupBy().agg(F.sum("_mfdb_cents").alias("_mfdb_tot"))
    share_before = F.round(
        (F.col("_mfdb_cum") - F.col("_mfdb_cents")).cast("double")
        / F.col("_mfdb_tot").cast("double"),
        4,
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(
            "abc",
            F.when(share_before < 0.8, "A")
            .when(share_before < 0.95, "B")
            .otherwise("C"),
        )
        .drop("_mfdb_cents", "_mfdb_rn", "_mfdb_cum", "_mfdb_tot")
    )
