"""UDF / UDAF / UDTF surface — SURVEY.md §2.10.

Reference capabilities [R]: Conrey↔Sage character-conversion functions
(pure scalar functions), batch numeric transforms, custom reductions over
orbit data, per-space recompute of derived fields, expanding one stored
object into many records.

Execution notes: the row UDF (`q_udf_python`) is the sanctioned slow path
and exists to cover the API, not for hot paths. Everything else crosses
Python↔JVM via Arrow (pandas UDFs / applyInPandas / mapInPandas) — the
vectorized boundary that scales; at 100 TB each Arrow batch is processed
per-partition with no driver involvement.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R2, R4
from modforms_db_spark.parity import r2, r4
from modforms_db_spark.registry import register


@register(
    "q_udf_python",
    oracle="""
    SELECT c_custkey, c_nationkey,
           gcd(c_custkey, CAST(c_nationkey AS BIGINT) + 1) AS key_gcd,
           (c_custkey * (CAST(c_nationkey AS BIGINT) + 3)) % 97 AS chi_index
    FROM customer
    """,
    priority="P1",
    tags=("udf",),
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — character-index normalizer arithmetic
    (Conrey↔Sage conversion [R]). Deliberately the pickle slow path."""

    @F.udf(T.LongType())
    def key_gcd(custkey: int, nationkey: int) -> int:
        return math.gcd(custkey, nationkey + 1)

    @F.udf(T.LongType())
    def chi_index(custkey: int, nationkey: int) -> int:
        return (custkey * (nationkey + 3)) % 97

    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_nationkey",
        key_gcd("c_custkey", "c_nationkey").alias("key_gcd"),
        chi_index("c_custkey", "c_nationkey").alias("chi_index"),
    )


@register(
    "q_udf_pandas_scalar",
    oracle=f"""
    SELECT event_id,
           {R4('(value - AVG(value) OVER ()) / stddev_samp(value) OVER ()')} AS zscore
    FROM events
    """,
    priority="P1",
    tags=("udf", "pandas"),
)
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) scalar pandas UDF: z-score of event value against
    global mean/std. The stats come from a 1-row Spark agg broadcast-joined
    in, so the UDF itself is a pure elementwise batch transform [R]."""
    e = load(spark, sf_dir, "events")
    stats = e.agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )

    @pandas_udf(T.DoubleType())
    def zscore(v: pd.Series, mu: pd.Series, sigma: pd.Series) -> pd.Series:
        return (v - mu) / sigma

    return e.crossJoin(F.broadcast(stats)).select(
        "event_id", F.round(zscore("value", "mu", "sigma"), 4).alias("zscore")
    )


@register(
    "q_udaf_pandas",
    oracle=f"""
    SELECT o_orderpriority,
           {R4('exp(AVG(ln(o_totalprice)))')} AS geo_mean
    FROM orders GROUP BY o_orderpriority
    """,
    priority="P2",
    tags=("udf", "udaf"),
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF: geometric mean per priority — custom
    reductions over orbit data [R]."""

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.to_numpy()).mean()))

    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(geo_mean("o_totalprice"), 4).alias("geo_mean")
    )


@register(
    "q_apply_in_pandas",
    oracle=f"""
    SELECT o_orderkey,
           {R4('o_totalprice - AVG(o_totalprice) OVER (PARTITION BY o_orderpriority)')} AS centered
    FROM orders
    """,
    priority="P2",
    tags=("udf", "grouped_map"),
)
def q_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: mean-center o_totalprice within each
    priority — per-space batch recompute of derived fields [R]."""

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf["o_totalprice"].to_numpy()
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "centered": vals - vals.mean(),
            }
        )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    # Rounding happens Spark-side: numpy's round is half-even, which would
    # diverge from the oracle's HALF_UP semantics at digit boundaries.
    return (
        o.groupBy("o_orderpriority")
        .applyInPandas(center, "o_orderkey bigint, centered double")
        .select("o_orderkey", F.round("centered", 4).alias("centered"))
    )


@register(
    "q_map_in_pandas",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {R4('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem WHERE l_discount > 0.05
    """,
    priority="P2",
    tags=("udf", "map_partitions"),
)
def q_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise pandas transform (filter + project) — chunked ap-list
    processing [R]. Arrow batches in, Arrow batches out; no shuffle."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["l_discount"] > 0.05]
            yield pd.DataFrame(
                {
                    "l_orderkey": keep["l_orderkey"],
                    "l_linenumber": keep["l_linenumber"],
                    "revenue": keep["l_extendedprice"] * (1 - keep["l_discount"]),
                }
            )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    # Rounded Spark-side (numpy round is half-even; see q_apply_in_pandas).
    return li.mapInPandas(
        fn, "l_orderkey bigint, l_linenumber int, revenue double"
    ).select("l_orderkey", "l_linenumber", F.round("revenue", 4).alias("revenue"))


@register(
    "q_udtf",
    oracle="""
    SELECT doc_id, word, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id < 50)
    GROUP BY doc_id, word
    """,
    priority="P3",
    tags=("udf", "udtf"),
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): expand each document into (word, count) rows
    via LATERAL join — one stored object fanning out into many records [R].
    Bounded to doc_id < 50 to keep the t2 result small."""
    from collections import Counter

    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, cnt bigint")
    class WordCounts:
        def eval(self, text: str):
            for word, n in Counter((text or "").split(" ")).items():
                yield word, n

    spark.udtf.register("mfdb_word_counts", WordCounts)
    load(spark, sf_dir, "documents").createOrReplaceTempView("mfdb_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.word, t.cnt
        FROM mfdb_udtf_docs d, LATERAL mfdb_word_counts(d.text) t
        WHERE d.doc_id < 50
        """
    )


@register(
    "q_map_in_arrow",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           {R4('o_totalprice * 1.07')} AS gross
    FROM orders WHERE o_orderstatus = 'O'
    """,
    priority="P2",
    tags=("udf", "arrow", "map_partitions"),
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` (Spark 4): the lowest-overhead Python escape hatch —
    pyarrow RecordBatches in/out with NO pandas conversion layer on either
    side. For numeric batch transforms (the reference's bulk recompute of
    derived fields [R]) this skips the Arrow→pandas→Arrow round trip that
    ``mapInPandas`` pays, which matters when the batch is wide or the
    transform is a few vectorized ops (compute cost ≪ conversion cost).

    Scale: same plan shape as mapInPandas — a zero-shuffle partition-wise
    map; Arrow batch size governed by spark.sql.execution.arrow.maxRecordsPerBatch.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            keep = b.filter(pc.equal(b.column("o_orderstatus"), "O"))
            yield pa.RecordBatch.from_arrays(
                [
                    keep.column("o_orderkey"),
                    keep.column("o_custkey"),
                    pc.multiply(keep.column("o_totalprice"), pa.scalar(1.07)),
                ],
                names=["o_orderkey", "o_custkey", "gross"],
            )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # Round Spark-side (oracle_dialect rule): arrow compute is bit-identical
    # to the JVM double product, but the rounding must be Spark's.
    return orders.mapInArrow(
        fn, "o_orderkey bigint, o_custkey bigint, gross double"
    ).select("o_orderkey", "o_custkey", F.round("gross", 4).alias("gross"))


@register(
    "q_udf_sql",
    oracle=f"""
    SELECT l_returnflag,
           {R2('SUM(l_extendedprice * (1 - l_discount))')} AS net_revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    priority="P1",
    tags=("udf", "sql-udf"),
)
def q_udf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF (Spark 4 `CREATE FUNCTION … RETURN expr`):
    user-named reusable logic that INLINES into the plan — unlike Python
    UDFs it stays inside Catalyst and whole-stage codegen, so it is the
    zero-cost way to share expression logic (the Conrey↔Sage conversion
    functions [R] would ship this way when they're pure arithmetic).
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION mfdb_net(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1 - d)
        """
    )
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("mfdb_sqludf_li")
    return spark.sql(
        """
        SELECT l_returnflag,
               round(SUM(mfdb_net(l_extendedprice, l_discount)), 2)
                 AS net_revenue,
               COUNT(*) AS n
        FROM mfdb_sqludf_li
        GROUP BY l_returnflag
        """
    )


def _make_cogroup_balance():
    """Factory for the per-customer cogroup merge — NESTED so cloudpickle
    ships it by value (a module-level function pickles by reference and
    dies on workers that can't import modforms_db_spark; round-6
    neutral-cwd sweep catch, SCALE.md §9j): one output row per customer
    present in the CUSTOMER side — order count + total spend against the
    account balance. Customers with no orders get zeros (ord_pdf empty);
    order groups with no customer row are dropped (inner-ish semantics on
    the dimension side, like the oracle's LEFT JOIN from customer)."""

    def cogroup_balance(key, cust_pdf, ord_pdf):
        import pandas as pd

        if len(cust_pdf) == 0:
            return pd.DataFrame(
                columns=[
                    "c_custkey", "acctbal", "n_orders", "total_spend",
                    "spend_ratio",
                ]
            )
        bal = float(cust_pdf["c_acctbal"].iloc[0])
        total = float(ord_pdf["o_totalprice"].sum()) if len(ord_pdf) else 0.0
        # NO rounding here: Python's round() is banker's rounding, which
        # can disagree with the engine rounding policy on half-way values
        # — raw floats out, Spark-side round() applied by the caller.
        return pd.DataFrame(
            {
                "c_custkey": [int(key[0])],
                "acctbal": [bal],
                "n_orders": [len(ord_pdf)],
                "total_spend": [total],
                "spend_ratio": [total / bal if bal != 0 else None],
            }
        )

    return cogroup_balance


@register(
    "q_cogroup_pandas",
    oracle=f"""
    SELECT c.c_custkey,
           {R2('c.c_acctbal')} AS acctbal,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           {R2('COALESCE(SUM(o.o_totalprice), 0.0)')} AS total_spend,
           CASE WHEN c.c_acctbal <> 0
                THEN {R4('COALESCE(SUM(o.o_totalprice), 0.0) / c.c_acctbal')}
           END AS spend_ratio
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey <= 300
    GROUP BY c.c_custkey, c.c_acctbal
    """,
    priority="P2",
    tags=("udf", "cogroup", "pandas"),
)
def q_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`groupBy().cogroup().applyInPandas` — the two-sided Arrow interop:
    both tables shuffle on the key ONCE and arrive as aligned pandas
    frames per key (no pre-join materialization). The escape hatch for
    per-entity logic that needs BOTH sides at once (reconcile a space's
    file-store records against its Mongo records [R]) when it can't be
    expressed as a join.

    Scale: same shuffle cost as a shuffled join, plus the Arrow hop; keys
    are per-customer so groups are tiny and skew-free. The oracle proves
    the pandas path agrees with the relational formulation exactly.
    """
    c = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 300)
        .select("c_custkey", "c_acctbal")
    )
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    raw = (
        c.groupBy("c_custkey")
        .cogroup(o.groupBy("o_custkey"))
        .applyInPandas(
            _make_cogroup_balance(),
            "c_custkey long, acctbal double, n_orders bigint,"
            " total_spend double, spend_ratio double",
        )
    )
    return raw.select(
        "c_custkey",
        r2("acctbal").alias("acctbal"),
        "n_orders",
        r2("total_spend").alias("total_spend"),
        r4("spend_ratio").alias("spend_ratio"),
    )


@register(
    "q_udtf_analyze",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 30
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)              AS n_title,
           CAST(SUM(length(tok)) AS BIGINT)      AS chars_title,
           CAST(SUM(CASE WHEN length(tok) > 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_long_title
    FROM t GROUP BY doc_id
    """,
    priority="P3",
    tags=("udf", "udtf", "polymorphic"),
)
def q_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 `analyze`): the output schema is
    computed at plan time from the call's LITERAL argument — here a
    field-name suffix, so `stats('title', text)` emits columns
    (n_title, chars_title, n_long_title) while another call site could
    emit *_body. The static `analyze` hook is the UDTF feature the plain
    `q_udtf` row doesn't cover: schema-on-call, resolved by Catalyst
    before execution, with the same LATERAL fan-out plumbing.

    Scale: identical to any UDTF — partition-wise Python execution, no
    shuffle; the analyze call runs ONCE on the driver at planning."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class TokenStats:
        @staticmethod
        def analyze(suffix: AnalyzeArgument, text: AnalyzeArgument) -> AnalyzeResult:
            sfx = suffix.value  # literal at plan time
            return AnalyzeResult(
                StructType(
                    [
                        StructField(f"n_{sfx}", LongType()),
                        StructField(f"chars_{sfx}", LongType()),
                        StructField(f"n_long_{sfx}", LongType()),
                    ]
                )
            )

        def eval(self, suffix: str, text: str):
            toks = (text or "").split(" ")
            yield (
                len(toks),
                sum(len(t) for t in toks),
                sum(1 for t in toks if len(t) > 4),
            )

    spark.udtf.register("mfdb_token_stats", TokenStats)
    load(spark, sf_dir, "documents").createOrReplaceTempView("mfdb_udtf_docs2")
    return spark.sql(
        """
        SELECT d.doc_id, t.n_title, t.chars_title, t.n_long_title
        FROM mfdb_udtf_docs2 d, LATERAL mfdb_token_stats('title', d.text) t
        WHERE d.doc_id < 30
        """
    )


@register(
    "q_udtf_table_arg",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT lang, COUNT(*) AS n_tokens,
           CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
           MAX(length(tok)) AS max_tok_len
    FROM toks GROUP BY lang
    """,
    priority="P3",
    tags=("udtf", "table-arg", "python"),
)
def q_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE ARGUMENT with PARTITION BY (Spark
    4): the UDTF receives WHOLE partitions of documents row-by-row,
    accumulates per-language token stats in `eval`, and emits one
    summary row from `terminate` — the "process a partition in Python
    with state" API that sits between a scalar UDF (row-at-a-time, no
    state) and applyInPandas (whole group as one DataFrame). ORDER BY
    in the table arg makes per-partition iteration order deterministic.

    Scale: PARTITION BY lang shuffles once; each UDTF instance sees one
    language's rows streamed (constant memory — the accumulated state
    is 3 counters, never the rows), unlike applyInPandas which
    materializes the group. For token-level stats the pure-SQL explode
    (`q_text_stats`) is the faster plan — this row exists for the API
    surface where per-row Python logic genuinely needs partition
    state."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang string, n_tokens bigint, n_chars bigint, max_tok_len int")
    class LangTokenSummary:
        def __init__(self):
            # Count rows with non-NULL text, not just rows: the oracle's
            # unnest(string_split(text, ' ')) yields NO rows for a NULL
            # text, so a language whose texts are ALL NULL is absent from
            # the oracle output entirely — emitting a (lang, 0, 0, 0)
            # summary row for it would diverge (round-3 ADVICE item 3).
            self.with_text = 0
            self.lang = None
            self.n = 0
            self.chars = 0
            self.longest = 0

        def eval(self, row):
            self.lang = row["lang"]
            if row["text"] is None:
                return  # NULL text has zero tokens (≡ unnest of NULL)
            self.with_text += 1
            for t in row["text"].split(" "):
                self.n += 1
                self.chars += len(t)
                if len(t) > self.longest:
                    self.longest = len(t)

        def terminate(self):
            if self.with_text > 0:
                yield (self.lang, self.n, self.chars, self.longest)

    spark.udtf.register("mfdb_lang_summary", LangTokenSummary)
    load(spark, sf_dir, "documents").createOrReplaceTempView("mfdb_udtf_docs3")
    return spark.sql(
        """
        SELECT s.lang, s.n_tokens, s.n_chars, s.max_tok_len
        FROM mfdb_lang_summary(
          TABLE(SELECT lang, text FROM mfdb_udtf_docs3)
          PARTITION BY lang ORDER BY lang
        ) s
        """
    )


@register(
    "q_udf_arrow",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           CAST(length(c_name) AS BIGINT) AS name_len,
           (c_custkey * 31 + CAST(length(c_name) AS BIGINT)) % 1000
             AS name_slot
    FROM customer
    """,
    priority="P2",
    tags=("udf", "arrow", "spark4"),
)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`useArrow=True`, first-class in
    Spark 4): the same scalar signature as the pickle-path
    `q_udf_python` contract row, but serialized over Arrow batches —
    plans as ArrowEvalPython instead of BatchEvalPython, which is the
    entire point: the row pins that the opt-in keeps identical
    semantics while moving the Python exchange onto the columnar
    path (~2-5× on string-heavy rows, no @pandas_udf rewrite needed).

    Scale: still a Python exchange — the hot-path rule stands (bulk
    transforms belong in built-ins or pandas_udf); this is the API
    surface row for the gradual-migration story, with the arithmetic
    chosen oracle-checkable.
    """

    @F.udf("string", useArrow=True)
    def name_upper(s: str) -> str:
        return s.upper()

    @F.udf("long", useArrow=True)
    def name_slot(k: int, s: str) -> int:
        return (k * 31 + len(s)) % 1000

    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        name_upper("c_name").alias("name_upper"),
        F.length("c_name").cast("bigint").alias("name_len"),
        name_slot("c_custkey", "c_name").alias("name_slot"),
    )
