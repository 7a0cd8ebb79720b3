"""String function bundles — SURVEY.md §2.8.

Reference capabilities [R]: label formatting ``"{N}.{k}.{chi}"``, parsing
labels back into (N,k,i), fuzzy label matching, content-addressing blobs
(GridFS checksums).

Dialect discipline (SURVEY.md §2.11): regexes stay in the Java∩RE2 common
subset (no lookahead/backrefs); Spark ``instr`` ↔ DuckDB ``strpos``;
Spark ``sha2(x,256)`` ↔ DuckDB ``sha256(x)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modforms_db_spark.io import load
from modforms_db_spark.registry import register


@register(
    "q_str_funcs",
    oracle="""
    SELECT p_partkey,
           lower(p_type)                          AS type_lower,
           upper(p_name)                          AS name_upper,
           trim(concat('  ', p_name, ' '))        AS trimmed,
           length(p_name)                         AS name_len,
           substring(p_name, 1, 5)                AS name_pfx,
           concat_ws('|', p_brand, p_type)        AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0')  AS size_pad,
           replace(p_name, ' ', '_')              AS name_snake,
           strpos(p_name, 'e')                    AS first_e
    FROM part
    """,
    priority="P1",
    tags=("strings",),
)
def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core string bundle — label formatting "{N}.{k}.{chi}" [R]."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_type").alias("type_lower"),
        F.upper("p_name").alias("name_upper"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.instr("p_name", "e").alias("first_e"),
    )


@register(
    "q_str_regexp",
    oracle="""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS BIGINT) AS cnum,
           regexp_replace(c_name, '0+', '0', 'g') AS name_squeezed,
           regexp_matches(c_name, '^Customer#0*[0-9]{1,3}$') AS short_id
    FROM customer
    """,
    priority="P1",
    tags=("strings", "regex"),
)
def q_str_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace — parsing labels back into (N,k,i) [R].
    Spark replaces all matches by default; DuckDB needs the 'g' flag."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"Customer#([0-9]+)", 1)
        .cast("bigint")
        .alias("cnum"),
        F.regexp_replace("c_name", r"0+", "0").alias("name_squeezed"),
        F.col("c_name").rlike(r"^Customer#0*[0-9]{1,3}$").alias("short_id"),
    )


@register(
    "q_str_levenshtein",
    oracle="""
    SELECT levenshtein(c_name, 'Customer#000000001') AS dist, COUNT(*) AS n
    FROM customer GROUP BY dist
    """,
    priority="P2",
    tags=("strings", "fuzzy"),
)
def q_str_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance buckets — fuzzy label matching [R]."""
    c = load(spark, sf_dir, "customer")
    return (
        c.select(
            F.levenshtein(F.col("c_name"), F.lit("Customer#000000001")).alias("dist")
        )
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_hash_funcs",
    oracle="""
    SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256,
           substring(md5(text), 1, 2) AS bucket
    FROM documents
    """,
    priority="P1",
    tags=("strings", "hash"),
)
def q_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressing (GridFS checksum analogue [R]): md5 + sha256 hex.
    xxhash64 is Spark-only → exercised in unit tests, not in the oracle."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2(F.col("text"), 256).alias("h_sha256"),
        F.substring(F.md5("text"), 1, 2).alias("bucket"),
    )


@register(
    "q_str_extract_all",
    oracle="""
    SELECT p_partkey,
           array_to_string(regexp_extract_all(p_name, '[aeiou]+'), ',')
             AS vowel_runs_csv,
           CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT)
             AS n_runs,
           regexp_extract_all(p_name, '[aeiou]+')[1] AS first_run
    FROM part
    WHERE p_partkey <= 200
    """,
    priority="P1",
    tags=("string", "regex"),
)
def q_str_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`regexp_extract_all`: every vowel run in the part name, with count
    and first match — multi-match extraction (vs `q_str_regexp`'s single
    match). Pattern stays in the RE2∩Java common subset (§2.11); pure
    projection, codegen'd at scan speed.
    """
    p = load(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    runs = F.regexp_extract_all("p_name", F.lit("[aeiou]+"), 0)
    return p.select(
        "p_partkey",
        F.array_join(runs, ",").alias("vowel_runs_csv"),
        F.size(runs).cast("bigint").alias("n_runs"),
        F.element_at(runs, 1).alias("first_run"),
    )


@register(
    "q_str_collation",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT min(seg) AS canon,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_variants
    FROM m GROUP BY lower(seg)
    """,
    priority="P2",
    tags=("string", "collation", "spark4"),
)
def q_str_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4.0 `collate`/UTF8_LCASE): a
    deterministically case-mangled segment column (even keys
    lowercased) groups under the case-insensitive collation, merging
    both case variants of every segment — the API row for Spark 4's
    first-class collation support, pinned against a `lower()`-grouping
    oracle (for ASCII the two are semantically identical, which is
    exactly what the hash match proves). The group key itself is
    collation-dependent in Spark, so the output reports the BINARY
    min of the variants as the deterministic canonical label plus the
    row and variant counts.

    Scale: one scan, one map-side-combined aggregate on the collated
    key — collation changes the grouping comparator, not the plan
    shape; variant counting is a count_distinct partial.
    """
    c = load(spark, sf_dir, "customer")
    seg = F.when(
        F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
    ).otherwise(F.col("c_mktsegment"))
    m = c.select(seg.alias("seg"))
    return (
        m.groupBy(F.collate("seg", "UTF8_LCASE").alias("k"))
        .agg(
            F.min(F.collate("seg", "UTF8_BINARY")).alias("canon"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(F.collate("seg", "UTF8_BINARY"))
            .cast("bigint")
            .alias("n_variants"),
        )
        .drop("k")
    )


@register(
    "q_str_format_funcs",
    oracle="""
    SELECT n_nationkey,
           printf('%03d-%s', n_nationkey, lower(n_name)) AS tag,
           lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded,
           translate(n_name, 'AEIOU', 'aeiou') AS devoweled,
           CAST(length(replace(n_name, 'A', '')) AS BIGINT)
             AS squeezed_len,
           repeat('*', CAST(n_nationkey % 5 AS INTEGER)) AS stars
    FROM nation
    """,
    priority="P2",
    tags=("function", "string", "surface"),
)
def q_str_format_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting/shaping surface row: printf-style
    `format_string`, zero-`lpad`, character `translate`, character
    squeeze via `replace`, and `repeat` — the report-rendering
    function family beside `q_str_funcs`' case/trim battery, pinned
    against DuckDB's printf/lpad/translate/repeat on the nation dim
    (every function is a deterministic per-row rewrite; parity is
    purely a dialect-mapping check: format_string ≡ printf,
    char-for-char translate semantics, lpad truncation rules).

    Scale: per-row codegen expressions on a 25-row dim scan — free;
    the row exists for dialect coverage, not throughput.
    """
    n = load(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.format_string(
            "%03d-%s", F.col("n_nationkey"), F.lower("n_name")
        ).alias("tag"),
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias("padded"),
        F.translate("n_name", "AEIOU", "aeiou").alias("devoweled"),
        F.length(F.replace(F.col("n_name"), F.lit("A"), F.lit("")))
        .cast("bigint")
        .alias("squeezed_len"),
        F.repeat(F.lit("*"), (F.col("n_nationkey") % 5).cast("int")).alias(
            "stars"
        ),
    )
