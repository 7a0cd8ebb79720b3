"""Array / JSON / map bundles — SURVEY.md §2.8.

Reference capabilities [R]: ap-list manipulation (arrays of Hecke
eigenvalues), unpacking ap-chunks to long format, elementwise ops on
coefficient vectors, schemaless Mongo metadata access.

Dialect notes (SURVEY.md §2.11, verified): both engines are 1-indexed via
element_at/[i], but Spark ``posexplode`` is 0-based vs DuckDB
``generate_subscripts`` 1-based → emit ``pos + 1``. DuckDB list slicing
``l[1:3]`` is inclusive of both ends ≡ Spark ``slice(l, 1, 3)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.oracle_dialect import R4
from modforms_db_spark.parity import r4
from modforms_db_spark.registry import register


@register(
    "q_array_funcs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks)                                    AS n_tokens,
           len(list_distinct(toks))                     AS n_distinct,
           toks[1]                                      AS first_tok,
           list_sort(list_distinct(toks))[1]            AS min_tok,
           list_contains(toks, 'spark')                 AS has_spark,
           array_to_string(toks[1:3], ' ')              AS head3
    FROM t
    """,
    priority="P1",
    tags=("array",),
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array bundle over tokenized text — ap-list manipulation [R]."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(F.array_sort(F.array_distinct(toks)), 1).alias("min_tok"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("head3"),
    )


@register(
    "q_array_explode",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, generate_subscripts(toks, 1) AS pos1, unnest(toks) AS word
    FROM t
    """,
    priority="P0",
    tags=("array", "explode"),
)
def q_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode to long format — unpack ap-chunks [R]. Spark pos is
    0-based, generate_subscripts 1-based → pos + 1."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select("doc_id", F.posexplode(toks).alias("pos", "word")).select(
        "doc_id", (F.col("pos") + 1).cast("bigint").alias("pos1"), "word"
    )


@register(
    "q_array_higher_order",
    oracle=f"""
    WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT vec_id,
           {R4('list_sum(list_transform(emb, x -> x * 2))')} AS sum_doubled,
           len(list_filter(emb, x -> x > 0))                 AS n_pos,
           {R4('list_sum(list_transform(emb, x -> x * x))')} AS sum_sq
    FROM t
    """,
    priority="P2",
    tags=("array", "lambda"),
)
def q_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions (transform / filter / aggregate fold) —
    elementwise ops on coefficient vectors [R]. Folds run in element order
    on both engines, so float sums match bit-for-bit before rounding."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        r4(
            F.aggregate(
                F.transform(emb, lambda x: x * 2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("sum_doubled"),
        F.size(F.filter(emb, lambda x: x > 0)).cast("bigint").alias("n_pos"),
        r4(
            F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("sum_sq"),
    )


@register(
    "q_map_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           array_to_string(json_keys(props), ',')     AS keys_csv,
           CAST(len(json_keys(props)) AS INTEGER)     AS n_keys
    FROM events
    """,
    priority="P2",
    tags=("map", "json"),
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json → MapType access — schemaless metadata [R]."""
    e = load(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "q_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_path,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_struct,
           (CAST(json_extract(props, '$.k') AS BIGINT) % 10 = 0) AS k_round
    FROM events
    """,
    priority="P1",
    tags=("json",),
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction two ways (path + typed struct) — Mongo document
    field access [R]. Both must agree with the oracle's json_extract."""
    e = load(spark, sf_dir, "events")
    k_path = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    k_struct = F.from_json(F.col("props"), "struct<k:bigint>").getField("k")
    return e.select(
        "event_id",
        k_path.alias("k_path"),
        k_struct.alias("k_struct"),
        (k_struct % 10 == 0).alias("k_round"),
    )


@register(
    "q_json_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(NULL AS BIGINT) AS missing,
           'OBJECT<k: BIGINT>' AS sch
    FROM events
    WHERE event_id < 200
    """,
    priority="P2",
    tags=("json", "variant"),
)
def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: parse once
    (`parse_json`), then typed extraction (`variant_get`), missing-path
    tolerance (`try_variant_get` → NULL, no exception), and runtime
    schema discovery (`schema_of_variant`). VARIANT keeps a parsed binary
    form, so repeated field access skips re-parsing the JSON text — the
    schemaless-document answer at scale (shredded columnar variant
    storage), where `from_json` with a fixed struct is the schema-known
    answer.
    """
    e = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.where(F.col("event_id") < 200).select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.expr(
            "try_variant_get(parse_json(props), '$.missing', 'bigint')"
        ).alias("missing"),
        F.schema_of_variant(v).alias("sch"),
    )
