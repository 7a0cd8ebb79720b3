"""Corpus-curation operators beyond SURVEY §2 — the decisions a training
run makes AFTER cleaning: which split each doc lands in, how much of each
language/domain to sample, and fixed-size per-group samples.

Cross-engine determinism rule: every "random" decision is a pure function
of the row key via Knuth multiplicative hashing
(``(key * 2654435761) mod 2^32``) — exact BIGINT arithmetic in both Spark
and DuckDB, so the oracle reproduces assignments bit-for-bit (same device
as ``q_sample`` / ``q_sample_stratified``, operators/scans.py). At 100 TB
you'd swap in ``xxhash64(salt, key)`` — same shape, one projection, no
shuffle; the multiplicative form is the engine-parity contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load, spread
from modforms_db_spark.oracle_dialect import R, R4
from modforms_db_spark.parity import r4
from modforms_db_spark.registry import register

_KNUTH = 2654435761
_MOD = 4294967296  # 2^32


def _hash_bucket(col: str, buckets: int) -> F.Column:
    return (F.col(col) * F.lit(_KNUTH) % F.lit(_MOD)) % F.lit(buckets)


@register(
    "q_split_assign",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks,
             (doc_id * 2654435761) % 4294967296 % 100 AS b
      FROM documents
    )
    SELECT CASE WHEN b < 96 THEN 'train'
                WHEN b < 98 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1, 2
    """,
    priority="P2",
    tags=("llm", "curation", "split"),
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: hash the doc key into 100
    buckets (96/2/2 split), report per-(split, lang) doc and token counts
    — the membership audit a training run ships with its data card.

    Scale: the assignment is a pure projection (no shuffle, no state, no
    global sort); any executor can re-derive any doc's split, so the
    split survives reshards, retries, and incremental ingest — the
    property that makes hash-splits the standard over random ones.
    """
    d = load(spark, sf_dir, "documents")
    b = _hash_bucket("doc_id", 100)
    return (
        d.select(
            F.when(b < 96, "train")
            .when(b < 98, "val")
            .otherwise("test")
            .alias("split"),
            "lang",
            F.size(F.split("text", " ")).alias("n_toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
        )
    )


@register(
    "q_domain_mix",
    oracle="""
    WITH w(lang, wgt) AS (
      VALUES ('en', 0.4), ('de', 0.2), ('fr', 0.2), ('es', 0.1), ('zh', 0.1)
    ), tok AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_avail
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(FLOOR(0.5 * SUM(tokens_avail)) AS BIGINT) AS budget FROM tok
    )
    SELECT t.lang,
           t.tokens_avail,
           CAST(FLOOR(tot.budget * w.wgt) AS BIGINT) AS target_tokens,
           ROUND(LEAST(1.0, (tot.budget * w.wgt) / t.tokens_avail), 4) AS sample_rate,
           CAST(FLOOR(ROUND(LEAST(1.0, (tot.budget * w.wgt) / t.tokens_avail), 4)
                      * t.tokens_avail) AS BIGINT) AS expected_tokens
    FROM tok t JOIN w ON t.lang = w.lang CROSS JOIN tot
    """,
    priority="P2",
    tags=("llm", "curation", "mixture"),
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: given target weights per lang and a
    global token budget (here 50 % of the corpus), compute each lang's
    sampling rate ``min(1, budget·w / tokens)`` and the tokens it will
    contribute — the arithmetic behind every "data mixture" table in a
    model card. Upsampling (rate > 1) is clamped; re-normalizing the
    residual onto under-capped langs is a second pass of the same query.

    Scale: one partial-agg token count per lang (map-side collapsed),
    one broadcast of the 5-row weight dim, one broadcast of the 1-row
    budget agg — nothing here grows with corpus size except the linear
    token count. expected_tokens is derived from the ROUNDED rate on
    both engines so the hash can't drift on fp representation.
    """
    d = load(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("en", 0.4), ("de", 0.2), ("fr", 0.2), ("es", 0.1), ("zh", 0.1)],
        "lang string, wgt double",
    )
    tok = (
        d.select("lang", F.size(F.split("text", " ")).alias("n_toks"))
        .groupBy("lang")
        .agg(F.sum("n_toks").cast("bigint").alias("tokens_avail"))
    )
    budget = tok.agg(
        F.floor(0.5 * F.sum("tokens_avail")).cast("bigint").alias("budget")
    )
    rate4 = F.round(
        F.least(
            F.lit(1.0), F.col("budget") * F.col("wgt") / F.col("tokens_avail")
        ),
        4,
    )
    return (
        tok.join(F.broadcast(weights), "lang")
        .crossJoin(F.broadcast(budget))
        .select(
            "lang",
            "tokens_avail",
            F.floor(F.col("budget") * F.col("wgt")).cast("bigint").alias(
                "target_tokens"
            ),
            rate4.alias("sample_rate"),
            F.floor(rate4 * F.col("tokens_avail")).cast("bigint").alias(
                "expected_tokens"
            ),
        )
    )


@register(
    "q_sample_group_topk",
    oracle="""
    WITH p AS (
      SELECT doc_id, lang,
             (doc_id * 2654435761) % 4294967296 AS pri
      FROM documents
    ), r AS (
      SELECT doc_id, lang, pri,
             row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rk
      FROM p
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 10
    """,
    priority="P2",
    tags=("llm", "curation", "sampling"),
)
def q_sample_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample (exactly k=10 docs per lang):
    rank docs by a deterministic hash priority and keep the k smallest —
    distributed reservoir sampling as a rank query, with the reservoir's
    randomness replaced by the key hash so every engine (and every rerun)
    draws the same sample.

    Scale: same shape as q_win_topk_pergroup — the window shuffles once
    on lang; with k ≪ group size the rank is the textbook use of a
    per-partition partial top-k (Spark's WindowGroupLimit pushes the
    k=10 limit below the shuffle, so only candidate rows move).
    """
    d = load(spark, sf_dir, "documents")
    pri = (F.col("doc_id") * F.lit(_KNUTH) % F.lit(_MOD)).alias("pri")
    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    return (
        d.select("doc_id", "lang", pri)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("lang", "doc_id", F.col("rk").cast("bigint").alias("rk"))
    )


@register(
    "q_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS grp_n
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT)                         AS n_classes,
           CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                                                            AS classes_under_k,
           CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
                                                            AS rows_at_risk,
           CAST(MIN(grp_n) AS BIGINT)                       AS min_class_size
    FROM g
    """,
    priority="P2",
    tags=("llm", "curation", "governance"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation × market
    segment, k=5): how many equivalence classes exist, how many are
    below k, and how many rows sit in them — the re-identification-risk
    report a dataset release (or a PII-scrubbed training corpus) ships
    alongside `q_pii_redact`'s content pass.

    Scale: one partial-agg groupBy on the quasi-identifier tuple, then
    a second trivial agg over class counts — the class table is bounded
    by the quasi-identifier domain, not the row count, so the audit is
    a single linear pass at any corpus size.
    """
    c = load(spark, sf_dir, "customer")
    g = c.groupBy(*_QI_COLS).agg(F.count(F.lit(1)).alias("grp_n"))
    return g.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("grp_n") < 5, 1).otherwise(0)).alias(
            "classes_under_k"
        ),
        F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0)).alias(
            "rows_at_risk"
        ),
        F.min("grp_n").alias("min_class_size"),
    )


@register(
    "q_dataset_card",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks,
             sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h
      FROM documents
    ), dup AS (
      SELECT CAST(SUM(n - 1) AS BIGINT) AS n_dup_docs
      FROM (SELECT COUNT(*) AS n FROM t GROUP BY lang, h)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t)            AS n_docs,
           (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM t) AS n_langs,
           (SELECT CAST(SUM(n_toks) AS BIGINT) FROM t)          AS total_tokens,
           (SELECT CAST(MIN(n_toks) AS BIGINT) FROM t)          AS min_doc_tokens,
           (SELECT CAST(MAX(n_toks) AS BIGINT) FROM t)          AS max_doc_tokens,
           (SELECT ROUND(AVG(n_toks), 4) FROM t)                AS mean_doc_tokens,
           (SELECT n_dup_docs FROM dup)                         AS n_dup_docs
    """,
    priority="P2",
    tags=("llm", "curation", "reporting"),
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card summary row: corpus size, language count, token
    totals and document-length spread, plus the canonical-duplicate count
    (docs beyond the first of each (lang, token-set) group) — the
    one-line provenance header every released training set carries.

    Scale: one linear pass computes the length stats (partial+final);
    the dup count reuses the canonical-hash groupBy (32-byte keys).
    Output is a single row regardless of corpus size.
    """
    d = load(spark, sf_dir, "documents")
    canon = F.sha2(
        F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " "),
        256,
    )
    t = d.select(
        "lang", F.size(F.split("text", " ")).alias("n_toks"), canon.alias("h")
    )
    stats = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.min("n_toks").cast("bigint").alias("min_doc_tokens"),
        F.max("n_toks").cast("bigint").alias("max_doc_tokens"),
        F.round(F.avg("n_toks"), 4).alias("mean_doc_tokens"),
    )
    dup = (
        t.groupBy("lang", "h")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") - 1).cast("bigint").alias("n_dup_docs"))
    )
    return stats.crossJoin(F.broadcast(dup))


@register(
    "q_bpe_merge_pairs",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), pairs AS (
      SELECT lang, substring(tok, i, 2) AS pair
      FROM (SELECT lang, tok, unnest(generate_series(1, length(tok) - 1)) AS i
            FROM tok WHERE length(tok) >= 2)
    ), counted AS (
      SELECT lang, pair, COUNT(*) AS n,
             row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, pair) AS rk
      FROM pairs GROUP BY lang, pair
    )
    SELECT lang, pair, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
    FROM counted WHERE rk <= 10
    """,
    priority="P2",
    tags=("llm", "curation", "tokenizer"),
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training round: the top-10 most frequent adjacent
    character pairs within tokens, per language — the merge-candidate
    statistic byte-pair-encoding tokenizer training recomputes every
    round (and a real unicode exercise: the zh corpus counts CJK pairs,
    both engines indexing by character, not byte).

    Scale: pair generation is a per-row projection
    (`transform(sequence(...), i -> substr(tok, i, 2))`) exploded into
    a (lang, pair)-keyed partial+final count — the pair domain is tiny
    (alphabet²), so the map-side combine collapses the corpus-sized
    stream to per-task pair tables before the shuffle; the top-10 is a
    WindowGroupLimit over the already-aggregated counts.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("tok")).where(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring(F.col("tok"), i, F.lit(2)),
            )
        ).alias("pair"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "pair")
    return (
        pairs.groupBy("lang", "pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("lang", "pair", "n", F.col("rk").cast("bigint").alias("rk"))
    )


@register(
    "q_sample_weighted",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks,
             LEAST(95, GREATEST(5, len(string_split(text, ' ')))) AS w_pct
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN (doc_id * 2654435761) % 100 < w_pct
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN (doc_id * 2654435761) % 100 < w_pct
                         THEN n_toks ELSE 0 END) AS BIGINT) AS toks_kept,
           CAST(SUM(w_pct) AS BIGINT) AS w_total
    FROM w GROUP BY lang
    """,
    priority="P2",
    tags=("llm", "curation", "sample", "weighted"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT weighted Bernoulli sampling: each doc is kept with
    probability proportional to its own weight (here a length-derived
    quality proxy, clamped to [5%, 95%]) — the importance-sampling step
    of a training mix, generalizing `q_sample_stratified`'s per-stratum
    rates to content-derived per-row rates. Same determinism discipline
    as the whole sampling family: the keep decision is a pure integer
    function of (doc_id, weight) — multiplicative hash mod 100 against
    the weight percentage — so the sample is reproducible on any
    engine, partitioning, or cluster shape, and fully oracle-checkable
    (no floats anywhere in the decision). At 100 TB the predicate is
    scan-side codegen arithmetic: zero shuffles before the report agg.
    Emits the per-lang audit (docs, kept, kept tokens, total weight)."""
    d = load(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    w_pct = F.least(F.lit(95), F.greatest(F.lit(5), n_toks))
    keep = (
        (F.col("doc_id") * F.lit(2654435761).cast("bigint")) % 100 < w_pct
    ).cast("int")
    return (
        d.select("doc_id", "lang", n_toks.alias("n_toks"), w_pct.alias("w_pct"),
                 keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            F.sum(F.col("keep") * F.col("n_toks")).cast("bigint").alias(
                "toks_kept"
            ),
            F.sum("w_pct").cast("bigint").alias("w_total"),
        )
    )


@register(
    "q_length_buckets",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks
      FROM documents
    ), b AS (
      SELECT lang, n_toks,
             LEAST(CAST(n_toks // 16 AS BIGINT), 7) AS bucket
      FROM t
    )
    SELECT lang, bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS toks,
           CAST(MAX(n_toks) AS BIGINT) AS max_len,
           CAST(MAX(n_toks) * COUNT(*) - SUM(n_toks) AS BIGINT) AS pad_waste
    FROM b GROUP BY lang, bucket
    """,
    priority="P2",
    tags=("llm", "curation", "batching"),
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit — the dynamic-batching design input
    a trainer data loader needs: docs grouped into fixed-width token-length
    buckets (width 16, top bucket open), with per-(lang, bucket) doc and
    token counts plus PAD WASTE — the tokens a batch padded to the
    bucket's max length would burn (max_len·n − Σlen). Bucketing by
    length is what makes padding waste small; this op quantifies exactly
    how small, per bucket, so budget decisions (bucket width, max length
    cutoffs) are data-driven rather than guessed. Pure scan-side integer
    arithmetic + one partial+final agg — no shuffle before the group
    keys, bounded output (langs × 8 buckets)."""
    d = load(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    bucket = F.least((F.col("n_toks") / 16).cast("bigint"), F.lit(7).cast("bigint"))
    return (
        d.select("lang", n_toks.alias("n_toks"))
        .select("lang", "n_toks", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("toks"),
            F.max("n_toks").cast("bigint").alias("max_len"),
            (F.max("n_toks") * F.count(F.lit(1)) - F.sum("n_toks"))
            .cast("bigint")
            .alias("pad_waste"),
        )
    )


_CHUNK_W = 32  # tokens per chunk
_CHUNK_S = 24  # stride (overlap = _CHUNK_W - _CHUNK_S = 8 tokens)

# Shared chunk-derivation CTEs for q_doc_chunks' oracle AND the RAG
# retrieval oracle (which composes on the chunker's Spark plan) — one
# source of truth for the cover formula, same anti-drift rule as
# _COSUPPLY_EDGES_SQL.
_CHUNKS_CTES = """toks0 AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), spans0 AS (
      SELECT doc_id, lang, t, n,
             CASE WHEN n <= {W} THEN 1
                  ELSE CAST(CEIL((n - {W}) / {S}.0) AS BIGINT) + 1
             END AS n_chunks
      FROM toks0
    ), chunks AS (
      SELECT doc_id, lang, gs AS chunk_id, n,
             gs * {S} + 1 AS chunk_start,
             list_slice(t, gs * {S} + 1, LEAST(gs * {S} + {W}, n)) AS ctoks
      FROM spans0, UNNEST(generate_series(0, n_chunks - 1)) AS u(gs)
    )""".replace("{W}", str(_CHUNK_W)).replace("{S}", str(_CHUNK_S))


@register(
    "q_doc_chunks",
    oracle=f"""
    WITH {_CHUNKS_CTES}
    SELECT doc_id, lang, chunk_id, chunk_start,
           CAST(len(ctoks) AS BIGINT) AS chunk_len,
           array_to_string(ctoks, ' ') AS chunk_text
    FROM chunks
    """,
    priority="P2",
    tags=("llm", "rag", "chunking"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (RAG / retrieval-index prep):
    fixed 32-token chunks at stride 24 (8-token overlap), last chunk
    ragged, short docs emit exactly one chunk. Chunk count per doc is the
    standard cover formula ceil((n-W)/S)+1, so every token lands in ≥1
    chunk and chunk ids are dense from 0.

    Scale: pure row-local projection — sequence() builds the chunk-id
    range, explode fans out, slice() + array_join materialize each
    chunk; no shuffle anywhere, output grows by the constant factor
    ~n/S per doc (~1.33× tokens at W=32/S=24). At 100 TB this is the
    map-only pass you run right before writing a chunk-keyed index;
    downstream embedding/indexing partitions on (doc_id, chunk_id)
    without data movement here.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).alias("n"),
    )
    n_chunks = F.when(F.col("n") <= _CHUNK_W, F.lit(1).cast("bigint")).otherwise(
        F.ceil((F.col("n") - _CHUNK_W) / float(_CHUNK_S)).cast("bigint") + 1
    )
    spans = toks.withColumn("n_chunks", n_chunks)
    start = F.col("chunk_id") * _CHUNK_S + 1
    length = F.least(
        F.lit(_CHUNK_W).cast("bigint"), F.col("n") - F.col("chunk_id") * _CHUNK_S
    )
    chunk = F.slice("t", start, length)
    return (
        spans.select(
            "doc_id",
            "lang",
            "t",
            "n",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "lang",
            "chunk_id",
            start.alias("chunk_start"),
            F.size(chunk).cast("bigint").alias("chunk_len"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


_N_SHARDS = 16


@register(
    "q_shard_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_toks,
             n_chars,
             (doc_id * 2654435761) % {_N_SHARDS} AS shard
      FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT)        AS n_docs,
           CAST(SUM(n_toks) AS BIGINT)     AS n_toks,
           CAST(SUM(n_chars) AS BIGINT)    AS n_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(MIN(doc_id) AS BIGINT)     AS min_doc,
           CAST(MAX(doc_id) AS BIGINT)     AS max_doc
    FROM t GROUP BY shard
    """,
    priority="P2",
    tags=("llm", "curation", "sharding"),
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: assign every document to one of 16
    output shards by a pure multiplicative hash of doc_id (same
    engine-portable integer-hash discipline as `q_sample_weighted` —
    reproducible on any engine/partitioning, no floats), and report per
    shard the doc/token/char totals plus lang spread and doc-id range —
    what a distributed writer needs to plan balanced training shards
    and what a reader needs to resume/verify them.

    Scale: shard assignment is scan-side codegen arithmetic (zero
    shuffles before the agg); the report is one partial+final agg with
    output bounded at the shard count. In production the same
    expression feeds `.repartition(N_SHARDS, shard)` so the manifest
    and the physical layout derive from one definition."""
    d = load(spark, sf_dir, "documents")
    shard = (
        (F.col("doc_id") * F.lit(2654435761).cast("bigint")) % _N_SHARDS
    ).alias("shard")
    return (
        d.select(
            shard,
            "lang",
            "doc_id",
            F.size(F.split("text", " ")).alias("n_toks"),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_toks"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "q_skyline",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_toks
      FROM documents
    )
    SELECT a.doc_id, a.lang, a.n_chars, CAST(a.n_toks AS BIGINT) AS n_toks
    FROM t a
    WHERE NOT EXISTS (
      SELECT 1 FROM t b
      WHERE b.n_chars <= a.n_chars AND b.n_toks >= a.n_toks
        AND (b.n_chars < a.n_chars OR b.n_toks > a.n_toks)
    )
    """,
    priority="P2",
    tags=("llm", "curation", "skyline"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): documents not strictly dominated
    on (minimize n_chars, maximize n_toks) — the densest-per-byte
    frontier a curation pass keeps when trading storage against token
    yield. A doc is dominated if another has ≤ chars AND ≥ tokens with
    at least one strict; equal points are mutually non-dominating and
    all kept.

    Spark shape — LINEAR, not the oracle's quadratic NOT EXISTS: a doc
    is on the frontier iff it achieves its char-count's best token
    count AND that best strictly exceeds every smaller char-count's
    best. So: per-n_chars max (partial+final agg) → running strict max
    over the DISTINCT n_chars curve (a window over |distinct values|
    rows, bounded, NOT over docs) → broadcast the frontier pairs back
    onto the scan. The classic sort-scan skyline, shuffled once.

    At 100 TB the only care is that the distinct-value curve stays
    driver-small (it's bounded by the value domain, here ≤ ~2k char
    counts); a continuous domain would be pre-bucketed first."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.size(F.split("text", " ")).cast("bigint").alias("n_toks")
    )
    per_x = d.groupBy("n_chars").agg(F.max("n_toks").alias("best"))
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        per_x.withColumn("prev_best", F.max("best").over(w))
        .where(F.col("prev_best").isNull() | (F.col("best") > F.col("prev_best")))
        .select("n_chars", F.col("best").alias("n_toks"))
    )
    return d.join(F.broadcast(frontier), ["n_chars", "n_toks"]).select(
        "doc_id", "lang", "n_chars", "n_toks"
    )


_ALLOC_BUDGET = 1_000_000  # tokens to allocate across langs


@register(
    "q_alloc_largest_remainder",
    oracle=f"""
    WITH tok AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS w
      FROM documents GROUP BY lang
    ), tot AS (SELECT SUM(w) AS tw FROM tok),
    quota AS (
      SELECT lang, w,
             CAST(FLOOR({_ALLOC_BUDGET} * w / tot.tw) AS BIGINT) AS floor_alloc,
             {_ALLOC_BUDGET} * w % tot.tw AS remainder
      FROM tok CROSS JOIN tot
    ), short AS (
      SELECT {_ALLOC_BUDGET} - SUM(floor_alloc) AS k FROM quota
    ), ranked AS (
      SELECT lang, w, floor_alloc,
             row_number() OVER (ORDER BY remainder DESC, lang) AS rk
      FROM quota
    )
    SELECT lang, w AS weight_tokens, floor_alloc,
           floor_alloc + CASE WHEN rk <= short.k THEN 1 ELSE 0 END AS alloc
    FROM ranked CROSS JOIN short
    """,
    priority="P2",
    tags=("llm", "curation", "allocation"),
)
def q_alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional budget allocation with LARGEST-REMAINDER rounding
    (Hamilton's method): split a 1M-token training budget across langs
    in proportion to available tokens so the allocations are integers
    that sum EXACTLY to the budget — floor every quota, then hand the
    shortfall's worth of +1s to the largest fractional remainders
    (lang tiebreak). The integer arithmetic (`B·w % total`) keeps the
    remainder ranking exact on both engines — no floats anywhere.
    `q_domain_mix` plans RATES; this emits the exact integer split a
    shard writer consumes (Σalloc ≡ budget is test-pinned).

    Scale: one linear token count per lang, then everything operates on
    the #langs-sized quota table (1-row broadcast total/shortfall, a
    bounded window). Nothing grows with the corpus but the first agg."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select("lang", F.size(F.split("text", " ")).alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").cast("bigint").alias("w"))
    )
    tot = tok.agg(F.sum("w").alias("tw"))
    quota = tok.crossJoin(F.broadcast(tot)).select(
        "lang",
        "w",
        F.floor(F.lit(_ALLOC_BUDGET) * F.col("w") / F.col("tw"))
        .cast("bigint")
        .alias("floor_alloc"),
        (F.lit(_ALLOC_BUDGET) * F.col("w") % F.col("tw")).alias("remainder"),
    )
    short = quota.agg(
        (F.lit(_ALLOC_BUDGET) - F.sum("floor_alloc")).alias("k")
    )
    w_rk = Window.orderBy(F.desc("remainder"), "lang")
    return (
        quota.withColumn("rk", F.row_number().over(w_rk))
        .crossJoin(F.broadcast(short))
        .select(
            "lang",
            F.col("w").alias("weight_tokens"),
            "floor_alloc",
            (
                F.col("floor_alloc")
                + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
            ).alias("alloc"),
        )
    )


_RAG_K1 = 1.2
_RAG_B = 0.75

_RAG_CHUNKS_SQL = _CHUNKS_CTES  # shared chunk derivation (see above)


@register(
    "q_rag_retrieval",
    oracle=f"""
    WITH {_RAG_CHUNKS_SQL},
    ctok AS (
      SELECT doc_id, chunk_id, CAST(len(ctoks) AS BIGINT) AS dl,
             unnest(ctoks) AS tok
      FROM chunks
    ), stats AS (
      SELECT CAST(COUNT(DISTINCT (doc_id, chunk_id)) AS BIGINT) AS n_chunks,
             {R("AVG(dl) FILTER (WHERE pos = 1)", 10)} AS avgdl
      FROM (
        SELECT doc_id, chunk_id, dl,
               row_number() OVER (PARTITION BY doc_id, chunk_id ORDER BY tok) AS pos
        FROM ctok
      )
    ), q AS (
      SELECT tok FROM (
        SELECT tok, COUNT(DISTINCT doc_id) AS df,
               row_number() OVER (ORDER BY COUNT(DISTINCT doc_id) DESC, tok) AS rk
        FROM ctok GROUP BY tok
      ) WHERE rk <= 3
    ), cdf AS (
      SELECT tok, CAST(COUNT(DISTINCT (doc_id, chunk_id)) AS BIGINT) AS df
      FROM ctok JOIN q USING (tok) GROUP BY tok
    ), tfq AS (
      SELECT c.doc_id, c.chunk_id, c.tok, c.dl, COUNT(*) AS tf
      FROM ctok c JOIN q USING (tok)
      GROUP BY c.doc_id, c.chunk_id, c.tok, c.dl
    ), scored AS (
      SELECT t.doc_id, t.chunk_id,
             {R4(f'''SUM(
               LN((s.n_chunks - d.df + 0.5) / (d.df + 0.5) + 1)
               * (t.tf * ({_RAG_K1} + 1))
               / (t.tf + {_RAG_K1} * (1 - {_RAG_B} + {_RAG_B} * t.dl / s.avgdl))
             )''')} AS bm25
      FROM tfq t JOIN cdf d USING (tok) CROSS JOIN stats s
      GROUP BY t.doc_id, t.chunk_id
    )
    SELECT doc_id, chunk_id, bm25, rk FROM (
      SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id, chunk_id) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
    priority="P2",
    tags=("llm", "rag", "retrieval", "bm25"),
)
def q_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval at CHUNK granularity: documents are
    sliding-window chunked (COMPOSED on `q_doc_chunks`' plan), a BM25
    index is computed over the chunk corpus, and the top-5 chunks for
    the query (the corpus's own top-3 df tokens — self-contained, like
    `q_rank_fusion`) come back with scores — the retrieval half of a
    RAG system as ONE engine query, proving chunker and ranker compose
    without materialization. BM25 saturation + length normalization at
    chunk grain (dl / avgdl over CHUNKS, not docs) is what makes
    chunk-level retrieval rank fairly.

    Scale: chunking is the map-only fan-out; df/tf are partial-agg
    shuffles over the chunk-token grain JOINed against the 3-token
    broadcast query; stats ride a 1-row broadcast. Top-5 TakeOrdered.
    All counts integer; one r4 at the score."""
    chunks = q_doc_chunks(spark, sf_dir).select(
        "doc_id", "chunk_id", F.split("chunk_text", " ").alias("ctoks")
    )
    ctok = chunks.select(
        "doc_id",
        "chunk_id",
        F.size("ctoks").cast("bigint").alias("dl"),
        F.explode("ctoks").alias("tok"),
    ).localCheckpoint(eager=False)  # stats, query, df, tf all read it
    per_chunk = ctok.groupBy("doc_id", "chunk_id").agg(F.first("dl").alias("dl"))
    stats = per_chunk.agg(
        F.count(F.lit(1)).alias("n_chunks"), F.round(F.avg("dl"), 10).alias("avgdl")
    )
    q = (
        ctok.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df_doc"))
        .orderBy(F.desc("df_doc"), "tok")
        .limit(3)
        .select("tok")
    )
    qc = ctok.join(F.broadcast(q), "tok")
    cdf = qc.groupBy("tok").agg(
        F.count_distinct("doc_id", "chunk_id").alias("df")
    )
    tfq = qc.groupBy("doc_id", "chunk_id", "tok", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    idf = F.log(
        (F.col("n_chunks") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    sat = (F.col("tf") * (_RAG_K1 + 1)) / (
        F.col("tf") + _RAG_K1 * (1 - _RAG_B + _RAG_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tfq.join(F.broadcast(cdf), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "chunk_id")
        .agg(r4(F.sum(idf * sat)).alias("bm25"))
    )
    top = scored.orderBy(F.desc("bm25"), "doc_id", "chunk_id").limit(5)
    return top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id", "chunk_id"))
    )


@register(
    "q_split_temporal",
    oracle="""
    WITH cutoff AS (
      SELECT make_timestamp(epoch_us(MIN(ts))
               + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) * 8 // 10) AS c
      FROM events
    ), tagged AS (
      SELECT user_id, event_id, (ts < c.c) AS is_train
      FROM events CROSS JOIN cutoff c
    ), sides AS (
      SELECT CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT) AS n_test,
             COUNT(DISTINCT CASE WHEN is_train THEN user_id END) AS u_train,
             COUNT(DISTINCT CASE WHEN NOT is_train THEN user_id END) AS u_test
      FROM tagged
    ), leak AS (
      SELECT COUNT(*) AS u_both FROM (
        SELECT user_id FROM tagged GROUP BY user_id
        HAVING SUM(CASE WHEN is_train THEN 1 ELSE 0 END) > 0
           AND SUM(CASE WHEN is_train THEN 0 ELSE 1 END) > 0
      )
    )
    SELECT n_train, n_test, u_train, u_test,
           CAST(l.u_both AS BIGINT) AS users_in_both,
           (l.u_both > 0) AS entity_leakage
    FROM sides CROSS JOIN leak l
    """,
    priority="P2",
    tags=("llm", "split", "leakage"),
)
def q_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL train/test split (80% of the time range) with an
    ENTITY-LEAKAGE audit: row counts per side plus how many users
    appear on BOTH sides of the cutoff — the leakage that poisons
    time-series evaluation even when the row split is clean (the
    hash split `q_split_assign` partitions entities; a temporal split
    deliberately doesn't, so the audit must SAY so). Cutoff derived
    from the data's own span, deterministic.

    Scale: one pass tags rows against a 1-row broadcast cutoff; the
    leakage check is a user-grain conditional aggregate — same
    shuffle the per-side user counts already need."""
    e = load(spark, sf_dir, "events")
    # exact integer-microsecond cutoff (min + 80% of the span) via
    # BIGINT `div` — double division would round past 2^53 µs spans and
    # could disagree with the oracle's floor `//` at the boundary
    bounds = e.agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("mn"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("mx"),
    )
    cutoff = bounds.select(
        F.expr(
            "CAST(timestamp_micros(mn + ((mx - mn) * 8) div 10) AS TIMESTAMP_NTZ)"
        ).alias("c")
    )
    tagged = (
        e.select("user_id", "event_id", "ts")
        .crossJoin(F.broadcast(cutoff))
        .select("user_id", "event_id", (F.col("ts") < F.col("c")).alias("is_train"))
        .localCheckpoint(eager=False)  # side counts + leakage both read it
    )
    sides = tagged.agg(
        F.sum(F.col("is_train").cast("long")).alias("n_train"),
        F.sum((~F.col("is_train")).cast("long")).alias("n_test"),
        F.count_distinct(F.when(F.col("is_train"), F.col("user_id"))).alias("u_train"),
        F.count_distinct(F.when(~F.col("is_train"), F.col("user_id"))).alias("u_test"),
    )
    leak = (
        tagged.groupBy("user_id")
        .agg(
            F.sum(F.col("is_train").cast("long")).alias("tr"),
            F.sum((~F.col("is_train")).cast("long")).alias("te"),
        )
        .where((F.col("tr") > 0) & (F.col("te") > 0))
        .agg(F.count(F.lit(1)).alias("u_both"))
    )
    return sides.crossJoin(F.broadcast(leak)).select(
        "n_train", "n_test", "u_train", "u_test",
        F.col("u_both").cast("bigint").alias("users_in_both"),
        (F.col("u_both") > 0).alias("entity_leakage"),
    )


_ARES_HASH_MOD = 1_000_000_007


@register(
    "q_sample_weighted_wor",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             CAST(1 + n_chars AS DOUBLE) AS wt,
             CAST((doc_id * 2654435761 + 12345) % {_ARES_HASH_MOD} AS DOUBLE)
               / {_ARES_HASH_MOD} AS u
      FROM documents
    ), keyed AS (
      SELECT doc_id, lang, n_chars,
             {R('LN(CASE WHEN u > 0 THEN u ELSE 1.0 / ' + str(_ARES_HASH_MOD) + ' END) / wt', 10)} AS k
      FROM w
    )
    SELECT doc_id, lang, n_chars, rk FROM (
      SELECT *, row_number() OVER (ORDER BY k DESC, doc_id) AS rk FROM keyed
    ) WHERE rk <= 20
    """,
    priority="P2",
    tags=("llm", "sampling", "weighted", "wor"),
)
def q_sample_weighted_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-ES): each doc draws a deterministic pseudo-uniform u from an
    integer hash of its id and is ranked by ln(u)/w (equivalent to
    u^(1/w); the log form avoids pow underflow at large weights) —
    the top-k by that key IS an exact weighted sample without
    replacement, the distributed-systems answer to "give me k docs
    favoring long ones, reproducibly" (`q_sample_weighted` is the
    Bernoulli WITH-replacement-style rate sampler; this one has fixed
    size and no duplicates by construction). Keys r10-rounded with
    doc_id tiebreak so the top-20 is engine-exact; u=0 guarded to the
    smallest representable draw.

    Scale: key assignment is scan-side arithmetic (no shuffle);
    selection is TakeOrdered top-k — per-partition top-20 + driver
    merge, never a global sort. The hash-derived u makes the sample a
    pure function of the data, the same reproducibility argument as
    `q_sample`."""
    d = load(spark, sf_dir, "documents")
    u = (
        (F.col("doc_id") * F.lit(2654435761).cast("bigint") + 12345) % _ARES_HASH_MOD
    ).cast("double") / _ARES_HASH_MOD
    wt = (1 + F.col("n_chars")).cast("double")
    safe_u = F.when(u > 0, u).otherwise(F.lit(1.0 / _ARES_HASH_MOD))
    k = F.round(F.log(safe_u) / wt, 10)
    keyed = d.select("doc_id", "lang", "n_chars", k.alias("k"))
    top = keyed.orderBy(F.desc("k"), "doc_id").limit(20)
    return top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("k"), "doc_id"))
    ).select("doc_id", "lang", "n_chars", "rk")


_MIX_BUDGET = 333_333  # tokens; chosen so Hamilton remainders are nonzero
_MIX_WEIGHTS = [("en", 500), ("de", 125), ("es", 125), ("fr", 125), ("zh", 125)]
_MIX_WEIGHTS_SQL = ", ".join(f"('{l}', {w})" for l, w in _MIX_WEIGHTS)


@register(
    "q_token_budget_mix",
    oracle=f"""
    WITH avail AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY lang
    ), w AS (
      SELECT * FROM (VALUES {_MIX_WEIGHTS_SQL}) t(lang, wpm)
    ), quota AS (
      SELECT w.lang, COALESCE(a.avail_tokens, 0) AS avail_tokens,
             CAST(FLOOR({_MIX_BUDGET} * w.wpm / 1000.0) AS BIGINT) AS fl,
             {_MIX_BUDGET} * w.wpm % 1000 AS rem
      FROM w LEFT JOIN avail a ON a.lang = w.lang
    ), short AS (
      SELECT {_MIX_BUDGET} - SUM(fl) AS k FROM quota
    ), ranked AS (
      SELECT lang, avail_tokens, fl,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk
      FROM quota
    ), alloc AS (
      SELECT lang, avail_tokens,
             fl + CASE WHEN rk <= short.k THEN 1 ELSE 0 END AS target_tokens
      FROM ranked CROSS JOIN short
    )
    SELECT lang, avail_tokens, target_tokens,
           CASE WHEN avail_tokens = 0 THEN NULL
                ELSE {R4('target_tokens * 1.0 / avail_tokens')} END AS epochs,
           target_tokens > avail_tokens AS oversampled
    FROM alloc
    """,
    priority="P2",
    tags=("llm", "curation", "mix", "allocation"),
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix retargeting: split a token budget across languages
    by TARGET weights (per-mille, a broadcast dim — the mix you WANT,
    unlike `q_alloc_largest_remainder`'s availability-proportional
    split), integerized with Hamilton largest-remainder so allocations
    sum exactly to the budget, then report per language the EPOCH
    factor (target / available) and whether the mix oversamples it
    (epochs > 1 — the "how many passes over each domain" number every
    pretraining data card publishes). All allocation arithmetic is
    exact integers (budget × per-mille weights), so remainder ranking
    cannot flip cross-engine.

    The allocation is DRIVEN BY THE WEIGHT TABLE (left join to
    availability, 0 tokens for a language the corpus lacks): an inner
    join would silently drop an absent weighted language, and the
    Hamilton shortfall would then hand its quota to the other languages
    — target_tokens would still sum to the budget, but not to the mix
    the weight table specifies (round-4 advisory). An absent language
    surfaces as (avail 0, epochs NULL, oversampled true) instead of
    vanishing.

    Scale: one linear token count to lang grain; everything after
    operates on the #langs-sized table (bounded window, broadcast
    scalar shortfall)."""
    d = load(spark, sf_dir, "documents")
    avail = (
        d.select("lang", F.size(F.split("text", " ")).alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").cast("bigint").alias("avail_tokens"))
    )
    w = spark.createDataFrame(_MIX_WEIGHTS, "lang string, wpm int")
    # w LEFT JOIN avail; the broadcast must sit on the RIGHT (build)
    # side of a left-outer BHJ — avail is lang-grain, so it's tiny too.
    quota = w.join(F.broadcast(avail), "lang", "left").select(
        "lang",
        F.coalesce("avail_tokens", F.lit(0).cast("bigint")).alias(
            "avail_tokens"
        ),
        F.floor(F.lit(_MIX_BUDGET) * F.col("wpm") / 1000.0)
        .cast("bigint")
        .alias("fl"),
        (F.lit(_MIX_BUDGET).cast("bigint") * F.col("wpm") % 1000).alias("rem"),
    )
    short = quota.agg((F.lit(_MIX_BUDGET) - F.sum("fl")).alias("k"))
    ranked = quota.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), "lang"))
    )
    alloc = ranked.crossJoin(F.broadcast(short)).select(
        "lang",
        "avail_tokens",
        (F.col("fl") + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)).alias(
            "target_tokens"
        ),
    )
    return alloc.select(
        "lang",
        "avail_tokens",
        "target_tokens",
        F.when(
            F.col("avail_tokens") == 0, F.lit(None).cast("double")
        ).otherwise(
            r4(F.col("target_tokens") * 1.0 / F.col("avail_tokens"))
        ).alias("epochs"),
        (F.col("target_tokens") > F.col("avail_tokens")).alias("oversampled"),
    )


_NEYMAN_N = 100  # audit-sample size to allocate across language strata


@register(
    "q_stratified_neyman",
    oracle=f"""
    WITH s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_h,
             {R4('stddev_pop(n_chars)')} AS sigma
      FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, n_h, sigma,
             CAST({R('n_h * sigma * 10000', 0)} AS BIGINT) AS wgt
      FROM s
    ), tot AS (SELECT SUM(wgt) AS tw FROM w),
    quota AS (
      SELECT lang, n_h, sigma,
             CAST(FLOOR({_NEYMAN_N} * wgt / tot.tw) AS BIGINT) AS fl,
             {_NEYMAN_N} * wgt % tot.tw AS rem
      FROM w CROSS JOIN tot
    ), short AS (SELECT {_NEYMAN_N} - SUM(fl) AS k FROM quota),
    ranked AS (
      SELECT lang, n_h, sigma, fl,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk
      FROM quota
    ), alloc AS (
      SELECT lang, n_h, sigma,
             fl + CASE WHEN rk <= short.k THEN 1 ELSE 0 END AS alloc_neyman
      FROM ranked CROSS JOIN short
    )
    SELECT lang, n_h, sigma, alloc_neyman,
           CAST(LEAST(alloc_neyman, n_h) AS BIGINT) AS n_sampled,
           alloc_neyman > n_h AS capped
    FROM alloc
    """,
    priority="P2",
    tags=("llm", "curation", "sampling", "allocation"),
)
def q_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a quality-audit sample across language
    strata: sample size per stratum ∝ N_h·σ_h (stratum size × length
    variability) — the variance-optimal split for estimating a corpus
    mean, vs `q_sample_stratified`'s fixed rates. Weights are quantized
    to integer micro-units AFTER 4-dp-rounding σ (the house exact-
    arithmetic rule), so the Hamilton largest-remainder integerization
    ranks exact integers and cannot flip cross-engine; allocations
    exceeding a stratum's population are capped (flagged, not silently
    redistributed).

    Scale: one partial-agg pass to lang grain (count + variance
    moments); all allocation arithmetic on the #strata-sized table."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        r4(F.stddev_pop("n_chars")).alias("sigma"),
    )
    w = s.withColumn(
        "wgt", F.round(F.col("n_h") * F.col("sigma") * 10000).cast("bigint")
    )
    tot = w.agg(F.sum("wgt").alias("tw"))
    quota = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_h",
        "sigma",
        F.floor(F.lit(_NEYMAN_N) * F.col("wgt") / F.col("tw"))
        .cast("bigint")
        .alias("fl"),
        (F.lit(_NEYMAN_N).cast("bigint") * F.col("wgt") % F.col("tw")).alias("rem"),
    )
    short = quota.agg((F.lit(_NEYMAN_N) - F.sum("fl")).alias("k"))
    ranked = quota.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), "lang"))
    )
    alloc = ranked.crossJoin(F.broadcast(short)).select(
        "lang",
        "n_h",
        "sigma",
        (F.col("fl") + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)).alias(
            "alloc_neyman"
        ),
    )
    return alloc.select(
        "lang",
        "n_h",
        "sigma",
        "alloc_neyman",
        F.least("alloc_neyman", "n_h").cast("bigint").alias("n_sampled"),
        (F.col("alloc_neyman") > F.col("n_h")).alias("capped"),
    )


_SRM_CHI2_CRIT = 5.9915  # chi-square 0.95 critical value, df = 2

_SRM_PCT_SQL = "(CASE split WHEN 'train' THEN 96 WHEN 'val' THEN 2 ELSE 2 END)"
_SRM_EXP_SQL = f"t * {_SRM_PCT_SQL} / 100.0"
_SRM_CHI2_SQL = f"POWER(n - {_SRM_EXP_SQL}, 2) / ({_SRM_EXP_SQL})"


@register(
    "q_srm_check",
    oracle=f"""
    WITH assigned AS (
      SELECT CASE WHEN (doc_id * {_KNUTH} % {_MOD}) % 100 < 96 THEN 'train'
                  WHEN (doc_id * {_KNUTH} % {_MOD}) % 100 < 98 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), counts AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n FROM assigned GROUP BY split
    ), with_tot AS (
      SELECT split, n, CAST(SUM(n) OVER () AS BIGINT) AS t FROM counts
    ), scored AS (
      SELECT split, n,
             {R4(_SRM_EXP_SQL)} AS expected,
             {R4(_SRM_CHI2_SQL)} AS chi2_term
      FROM with_tot
    )
    SELECT split, n, expected, chi2_term,
           {R4('SUM(chi2_term) OVER ()')} AS chi2_total,
           {R4('SUM(chi2_term) OVER ()')} > {_SRM_CHI2_CRIT} AS srm_detected
    FROM scored
    """,
    priority="P2",
    tags=("llm", "curation", "experimentation", "srm"),
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check on the deterministic 96/2/2
    hash split (`q_split_assign`'s exact assignment rule): per-arm
    observed vs expected counts, chi-square terms, the total statistic
    and the detection flag at the df=2, alpha=0.05 critical value — the
    first gate every experimentation/data-split pipeline runs, because
    a biased assignment invalidates everything downstream. Expected
    counts and chi-square terms are 4-dp-rounded before the total and
    the threshold compare, so the boundary can't flip cross-engine.

    Scale: one projection + 3-group count; everything after runs on the
    3-row arm table (the OVER () window is 3 rows, not data grain)."""
    d = load(spark, sf_dir, "documents")
    b = _hash_bucket("doc_id", 100)
    counts = (
        d.select(
            F.when(b < 96, "train").when(b < 98, "val").otherwise("test").alias("split")
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # Grand total as a window over the 3-row arm table — NOT a second
    # aggregate off the counts lineage, which would re-run the documents
    # scan (round-4 review finding: 2 FileScans for a scalar derivable
    # from 3 rows).
    counts = counts.withColumn(
        "t", F.sum("n").over(Window.partitionBy()).cast("bigint")
    )
    pct = F.when(F.col("split") == "train", 96).otherwise(2)
    exp_raw = F.col("t") * pct / 100.0
    scored = counts.select(
        "split",
        "n",
        r4(exp_raw).alias("expected"),
        r4(F.pow(F.col("n") - exp_raw, 2) / exp_raw).alias("chi2_term"),
    )
    w = Window.partitionBy()
    chi2_total = r4(F.sum("chi2_term").over(w))
    return scored.select(
        "split",
        "n",
        "expected",
        "chi2_term",
        chi2_total.alias("chi2_total"),
        (chi2_total > _SRM_CHI2_CRIT).alias("srm_detected"),
    )


_DSIR_B = 256  # hashed-feature buckets (production: 10^4-10^5)


@register(
    "q_dsir_weights",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
    ), bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(
               generate_series(1, len(tk) - 1),
               i -> CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 6))
                         AS BIGINT) % {_DSIR_B})) AS b
      FROM t WHERE len(tk) > 1
    ), tgt AS (
      SELECT b, COUNT(*) AS nt FROM bg WHERE lang = 'en' GROUP BY b
    ), alln AS (
      SELECT b, COUNT(*) AS na FROM bg GROUP BY b
    ), tot AS (
      SELECT (SELECT COUNT(*) FROM bg WHERE lang = 'en') AS n_t,
             (SELECT COUNT(*) FROM bg) AS n_a
    )
    SELECT bg.doc_id, bg.lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {R4(f"AVG(ln((COALESCE(nt, 0) + 1.0) / (n_t + {_DSIR_B})) "
               f"- ln((na + 1.0) / (n_a + {_DSIR_B})))")} AS dsir_weight
    FROM bg
    JOIN alln USING (b)
    LEFT JOIN tgt USING (b)
    CROSS JOIN tot
    GROUP BY bg.doc_id, bg.lang
    """,
    priority="P3",
    tags=("llm", "curation", "dsir", "importance-sampling"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document by how much more
    likely its hashed-bigram features are under the TARGET domain
    (lang = 'en' here) than under the full corpus —
    w_d = avg_b [ln p_tgt(b) − ln p_corpus(b)] over the doc's bigram
    occurrences, add-one smoothed over 256 md5-hashed buckets.
    High weight ⇒ the doc "looks like" the target domain; resampling
    ∝ exp(w) is the standard pretraining-mix upweighting step after
    quality filtering and before token-budget allocation
    (`q_token_budget_mix`).

    Cross-engine determinism: the feature hash is md5 (bit-identical in
    both engines — the `q_mm_blob_meta` precedent), bucket = first 6
    hex chars as an integer mod 256 (Spark `conv(.., 16, 10)` ≡
    DuckDB `('0x' || ..)::BIGINT`); counts are exact integers and the
    one float step (avg of log-ratios) follows the `q_bigram_logprob`
    discipline — r4-rounded on both engines.

    Scale: the model is two 256-row count tables plus a 1-row
    total — broadcast side by construction no matter the corpus size;
    scoring is a per-row explode, a broadcast join, and a map-side
    combinable per-doc average. The exploded bigram frame is built
    ONCE (localCheckpoint) and feeds the target counts, the corpus
    counts, and the scoring pass — one documents scan. At 100 TB you
    raise the bucket count and train the target counts from the actual
    target-domain sample instead of a language slice; nothing else
    changes shape."""
    from modforms_db_spark.io import spread

    d = spread(load(spark, sf_dir, "documents"))
    tk = d.select("doc_id", "lang", F.split("text", " ").alias("tk"))
    # Bucket array built per-row (transform) then exploded — the
    # q_bigram_logprob shape; exploding an index column instead would
    # carry the whole token array on every exploded row.
    buckets_arr = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.element_at(F.col("tk"), i),
                        F.element_at(F.col("tk"), i + 1),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % _DSIR_B,
    )
    bg = (
        tk.where(F.size("tk") > 1)
        .select("doc_id", "lang", F.explode(buckets_arr).alias("b"))
        .localCheckpoint(eager=False)  # feeds tgt counts, corpus counts,
        # and the scoring pass — ONE documents scan
    )
    tgt = bg.where(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("nt")
    )
    alln = bg.groupBy("b").agg(F.count(F.lit(1)).alias("na"))
    tot = bg.agg(
        F.sum((F.col("lang") == "en").cast("bigint")).alias("n_t"),
        F.count(F.lit(1)).alias("n_a"),
    )
    lr = F.log(
        (F.coalesce(F.col("nt"), F.lit(0)) + 1.0)
        / (F.col("n_t") + F.lit(_DSIR_B))
    ) - F.log((F.col("na") + 1.0) / (F.col("n_a") + F.lit(_DSIR_B)))
    # lr depends only on the bucket: fold the three model inputs into one
    # <=256-row (bucket, lr) table so ln() runs 2x256 times, not 2x per
    # exploded bigram occurrence, and the scoring pass is ONE broadcast join.
    model = (
        alln.join(tgt, "b", "left").crossJoin(tot).select("b", lr.alias("lr"))
    )
    return (
        bg.join(F.broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            r4(F.avg("lr")).alias("dsir_weight"),
        )
    )


_TEMP_BUDGET_DEN = 2  # budget = floor(total_tokens / 2) — half-corpus sample


@register(
    "q_sample_temperature",
    oracle=f"""
    WITH avail AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, avail_tokens,
             CAST(FLOOR(SQRT(CAST(avail_tokens AS DOUBLE))) AS BIGINT) AS w_sqrt
      FROM avail
    ), tot AS (
      SELECT CAST(SUM(w_sqrt) AS BIGINT) AS wtot,
             CAST(SUM(avail_tokens) AS BIGINT) AS atot,
             CAST(SUM(avail_tokens) // {_TEMP_BUDGET_DEN} AS BIGINT) AS budget
      FROM w
    ), quota AS (
      SELECT lang, avail_tokens, w_sqrt,
             (1000 * avail_tokens) // atot AS natural_pm,
             (1000 * w_sqrt) // wtot AS temp_pm,
             (budget * w_sqrt) // wtot AS fl,
             (budget * w_sqrt) % wtot AS rem,
             budget
      FROM w CROSS JOIN tot
    ), short AS (
      SELECT CAST(MIN(budget) - SUM(fl) AS BIGINT) AS k FROM quota
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM quota
    )
    SELECT lang, avail_tokens, w_sqrt, natural_pm, temp_pm,
           CAST(fl + CASE WHEN rk <= short.k THEN 1 ELSE 0 END AS BIGINT)
             AS target_tokens,
           temp_pm > natural_pm AS upweighted
    FROM ranked CROSS JOIN short
    """,
    priority="P2",
    tags=("llm", "curation", "mix", "temperature"),
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling (the XLM-R / mC4
    alpha-smoothing step): sampling weight per language is
    availability^alpha with alpha = 0.5, which upweights low-resource
    languages relative to their natural share — the standard fix for
    high-resource languages drowning the mix when sampling
    proportionally. Unlike `q_domain_mix` / `q_token_budget_mix`
    (targets come from a human-authored weight TABLE), the target here
    is DERIVED FROM THE DATA by the temperature formula.

    Cross-engine determinism: availability^0.5 is integerized as
    floor(sqrt(avail_tokens)) — IEEE-754 sqrt is correctly rounded in
    both engines and sqrt of a perfect square <= 2^52 is exact, so the
    floor cannot flip; every later step (per-mille shares, Hamilton
    largest-remainder integerization to the half-corpus token budget)
    is pure BIGINT arithmetic, the `q_token_budget_mix` discipline.

    Scale: one linear token count to lang grain; the allocation
    operates on the #langs-sized frame (bounded global window,
    broadcast scalar shortfall) — same 100 TB shape as the other
    allocation operators."""
    d = load(spark, sf_dir, "documents")
    avail = (
        d.select("lang", F.size(F.split("text", " ")).alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").cast("bigint").alias("avail_tokens"))
        .withColumn(
            "w_sqrt",
            F.floor(F.sqrt(F.col("avail_tokens").cast("double"))).cast(
                "bigint"
            ),
        )
        .localCheckpoint(eager=False)  # feeds totals AND quota — one scan
    )
    tot = avail.agg(
        F.sum("w_sqrt").alias("wtot"),
        F.sum("avail_tokens").alias("atot"),
        (F.sum("avail_tokens") / _TEMP_BUDGET_DEN)
        .cast("bigint")
        .alias("budget"),
    )
    quota = avail.crossJoin(F.broadcast(tot)).select(
        "lang",
        "avail_tokens",
        "w_sqrt",
        F.expr("1000 * avail_tokens div atot").alias("natural_pm"),
        F.expr("1000 * w_sqrt div wtot").alias("temp_pm"),
        F.expr("budget * w_sqrt div wtot").alias("fl"),
        (F.col("budget") * F.col("w_sqrt") % F.col("wtot")).alias("rem"),
        "budget",
    )
    short = quota.agg((F.min("budget") - F.sum("fl")).alias("k"))
    ranked = quota.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), "lang"))
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "lang",
        "avail_tokens",
        "w_sqrt",
        "natural_pm",
        "temp_pm",
        (F.col("fl") + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0))
        .cast("bigint")
        .alias("target_tokens"),
        (F.col("temp_pm") > F.col("natural_pm")).alias("upweighted"),
    )


# Data-constrained scaling (q_epoch_repeats): target mix per-mille, the
# token budget as a multiple of unique supply, and the repeat ceiling.
_EPOCH_WEIGHTS = [("en", 500), ("de", 200), ("fr", 150), ("es", 100), ("zh", 50)]
_EPOCH_WEIGHTS_SQL = ", ".join(f"('{l}', {w})" for l, w in _EPOCH_WEIGHTS)
_EPOCH_BUDGET_NUM = 3  # budget = 1.5 x total unique tokens: the
_EPOCH_BUDGET_DEN = 2  # high-weight langs hit the cap, the tail stays open
_EPOCH_RMAX = 2  # max epochs over any single language's unique tokens


@register(
    "q_epoch_repeats",
    oracle=f"""
    WITH u AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS uniq
      FROM documents GROUP BY lang
    ), w AS (
      SELECT * FROM (VALUES {_EPOCH_WEIGHTS_SQL}) t(lang, wpm)
    ), tot AS (
      SELECT CAST(({_EPOCH_BUDGET_NUM} * SUM(uniq)) // {_EPOCH_BUDGET_DEN} AS BIGINT) AS budget FROM u
    ), p1 AS (
      SELECT w.lang, w.wpm, COALESCE(u.uniq, 0) AS uniq,
             (tot.budget * w.wpm) // 1000 AS want_tokens,
             CAST({_EPOCH_RMAX} * COALESCE(u.uniq, 0) AS BIGINT) AS cap_tokens,
             tot.budget
      FROM w LEFT JOIN u ON u.lang = w.lang CROSS JOIN tot
    ), a1 AS (
      SELECT *, LEAST(want_tokens, cap_tokens) AS alloc1,
             want_tokens < cap_tokens AS open1
      FROM p1
    ), l1 AS (
      SELECT CAST(MIN(budget) - SUM(alloc1) AS BIGINT) AS leftover,
             CAST(COALESCE(SUM(wpm) FILTER (WHERE open1), 0) AS BIGINT) AS wopen
      FROM a1
    ), a2 AS (
      SELECT a1.lang, a1.uniq, a1.want_tokens, a1.cap_tokens, a1.budget,
             a1.alloc1 + CASE WHEN a1.open1 AND l1.wopen > 0
               THEN LEAST(a1.cap_tokens - a1.alloc1,
                          (l1.leftover * a1.wpm) // l1.wopen)
               ELSE 0 END AS alloc_tokens
      FROM a1 CROSS JOIN l1
    )
    SELECT lang, uniq AS unique_tokens, want_tokens, cap_tokens, alloc_tokens,
           CASE WHEN uniq = 0 THEN NULL
                ELSE {{EPOCHS}} END AS epochs,
           alloc_tokens >= cap_tokens AS capped,
           CAST(MIN(budget) OVER () - SUM(alloc_tokens) OVER () AS BIGINT)
             AS unfilled_tokens
    FROM a2
    """.replace("{EPOCHS}", R4("alloc_tokens * 1.0 / uniq")),
    priority="P2",
    tags=("llm", "curation", "mix", "allocation"),
)
def q_epoch_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): when the token budget
    (1.5x total unique supply here) exceeds what the mix weights can
    serve at <= _EPOCH_RMAX epochs per language, allocate by a
    two-pass water-fill — pass 1 gives each language
    min(budget x weight, 2 x unique); pass 2 redistributes the
    leftover across the languages their cap left OPEN, proportional to
    their weights and capped again. What remains unfilled is the
    paper's headline number: budget you cannot spend without exceeding
    the repeat ceiling anywhere. Emits per language the unique supply,
    uncapped want, cap, final allocation, epoch factor, cap flag, and
    the (constant) unfilled budget.

    All allocation arithmetic is exact BIGINT (budget x per-mille
    weights, integer floor division), so nothing can flip cross-engine;
    the one float column (epochs) is r4-rounded on both sides. A
    fixed 2-pass fill (not fill-to-fixpoint) is the documented
    contract — deterministic, and at lang-grain the whole allocation
    runs on a broadcastable #langs-row frame after one linear token
    count, the `q_token_budget_mix` 100 TB shape."""
    d = load(spark, sf_dir, "documents")
    u = (
        d.select("lang", F.size(F.split("text", " ")).alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").cast("bigint").alias("uniq"))
    )
    w = spark.createDataFrame(_EPOCH_WEIGHTS, "lang string, wpm int")
    tot = u.agg(
        F.expr(f"{_EPOCH_BUDGET_NUM} * sum(uniq) div {_EPOCH_BUDGET_DEN}")
        .cast("bigint")
        .alias("budget")
    )
    p1 = (
        w.join(F.broadcast(u), "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "wpm",
            F.coalesce("uniq", F.lit(0).cast("bigint")).alias("uniq"),
            F.expr("budget * wpm div 1000").alias("want_tokens"),
            (F.lit(_EPOCH_RMAX) * F.coalesce("uniq", F.lit(0)))
            .cast("bigint")
            .alias("cap_tokens"),
            "budget",
        )
    )
    a1 = p1.select(
        "*",
        F.least("want_tokens", "cap_tokens").alias("alloc1"),
        (F.col("want_tokens") < F.col("cap_tokens")).alias("open1"),
    ).localCheckpoint(eager=False)  # leftover agg + pass-2 both read it
    l1 = a1.agg(
        (F.min("budget") - F.sum("alloc1")).alias("leftover"),
        F.coalesce(
            F.sum(F.when(F.col("open1"), F.col("wpm"))), F.lit(0)
        ).cast("bigint").alias("wopen"),
    )
    a2 = a1.crossJoin(F.broadcast(l1)).select(
        "lang",
        "uniq",
        "want_tokens",
        "cap_tokens",
        "budget",
        (
            F.col("alloc1")
            + F.when(
                F.col("open1") & (F.col("wopen") > 0),
                F.least(
                    F.col("cap_tokens") - F.col("alloc1"),
                    F.expr("leftover * wpm div wopen"),
                ),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("alloc_tokens"),
    )
    wall = Window.partitionBy()
    return a2.select(
        "lang",
        F.col("uniq").alias("unique_tokens"),
        "want_tokens",
        "cap_tokens",
        "alloc_tokens",
        F.when(F.col("uniq") == 0, F.lit(None).cast("double"))
        .otherwise(r4(F.col("alloc_tokens") * 1.0 / F.col("uniq")))
        .alias("epochs"),
        (F.col("alloc_tokens") >= F.col("cap_tokens")).alias("capped"),
        (F.min("budget").over(wall) - F.sum("alloc_tokens").over(wall))
        .cast("bigint")
        .alias("unfilled_tokens"),
    )


@register(
    "q_anneal_mix",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS w,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS tw,
             CAST(SUM(w) // 2 AS BIGINT) AS budget,
             CAST((SUM(w) // 2) // 10 AS BIGINT) AS anneal_budget,
             CAST(SUM(w) // 2 - (SUM(w) // 2) // 10 AS BIGINT)
               AS main_budget,
             {R4('SUM(sum_chars) * 1.0 / SUM(n_docs)')} AS gavg
      FROM tok
    ), lab AS (
      SELECT source, w,
             {R4('sum_chars * 1.0 / n_docs')} >= tot.gavg
               AS is_anneal_source,
             tw, budget, anneal_budget, main_budget
      FROM tok CROSS JOIN tot
    ), mainq AS (
      SELECT source, w, is_anneal_source, main_budget, anneal_budget,
             CAST(main_budget * w // tw AS BIGINT) AS m_floor,
             main_budget * w % tw AS m_rem
      FROM lab
    ), mshort AS (
      SELECT CAST(MAX(main_budget) - SUM(m_floor) AS BIGINT) AS k
      FROM mainq
    ), mranked AS (
      SELECT *, row_number() OVER (ORDER BY m_rem DESC, source) AS rk
      FROM mainq
    ), mallocd AS (
      SELECT source, w, is_anneal_source, anneal_budget,
             m_floor + CASE WHEN rk <= mshort.k THEN 1 ELSE 0 END
               AS main_alloc
      FROM mranked CROSS JOIN mshort
    ), aw AS (
      SELECT CAST(SUM(CASE WHEN is_anneal_source THEN w ELSE 0 END)
        AS BIGINT) AS atw FROM mallocd
    ), annq AS (
      SELECT source, w, is_anneal_source, main_alloc,
             CASE WHEN is_anneal_source
               THEN CAST(anneal_budget * w // aw.atw AS BIGINT)
               ELSE 0 END AS a_floor,
             CASE WHEN is_anneal_source
               THEN anneal_budget * w % aw.atw ELSE -1 END AS a_rem,
             anneal_budget
      FROM mallocd CROSS JOIN aw
    ), ashort AS (
      SELECT CAST(MAX(anneal_budget) - SUM(a_floor) AS BIGINT) AS k
      FROM annq
    ), aranked AS (
      SELECT *, row_number() OVER (ORDER BY a_rem DESC, source) AS rk
      FROM annq
    )
    SELECT source, CAST(w AS BIGINT) AS weight_tokens, is_anneal_source,
           CAST(main_alloc AS BIGINT) AS main_alloc,
           CAST(a_floor + CASE WHEN is_anneal_source AND rk <= ashort.k
             THEN 1 ELSE 0 END AS BIGINT) AS anneal_alloc,
           CAST(main_alloc + a_floor
             + CASE WHEN is_anneal_source AND rk <= ashort.k
               THEN 1 ELSE 0 END AS BIGINT) AS total_alloc
    FROM aranked CROSS JOIN ashort
    """,
    priority="P2",
    tags=("llm", "curation", "allocation", "anneal"),
)
def q_anneal_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase training-data schedule with an ANNEAL stage (the
    Llama-3 / MiniCPM recipe: spend the final ~10% of the token budget
    on the highest-quality slice only): a half-corpus budget splits
    90/10 into main/anneal, the main phase allocates across ALL sources
    ∝ token supply, the anneal phase re-allocates its budget across
    QUALITY sources only (here: sources whose rounded mean doc length
    ≥ the corpus mean — a deterministic stand-in for the real quality
    gate; swap in `q_quality_classifier`'s verdict in production). Both
    phases use exact Hamilton largest-remainder integer allocation
    (`q_alloc_largest_remainder`'s B·w // W, B·w % W arithmetic — no
    floats in any allocation step), so Σmain_alloc and Σanneal_alloc
    land EXACTLY on their phase budgets. BIGINT products hold to ~10^18
    (beyond petabyte token counts, promote to DECIMAL(38,0) — the
    `q_stats_merge_pairwise` precedent).

    Scale: one linear token count to the source grain; every window
    after that runs over the ≤#sources-row quota frame (20 here) with a
    1-row broadcast budget/shortfall — the `q_token_budget_mix`
    discipline."""
    d = spread(load(spark, sf_dir, "documents"))
    # ONE documents scan: the source-grain aggregate (with exact integer
    # doc/char sums) is checkpointed and every later frame — including
    # the global mean the eligibility rule compares against — derives
    # from it (plan-audit finding: the un-checkpointed lineage re-ran
    # the scan 24× through the crossJoin/window cascade).
    tok = (
        d.groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("w"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .localCheckpoint(eager=False)
    )
    tot = tok.agg(
        F.sum("w").cast("bigint").alias("tw"),
        (F.sum("w") / 2).cast("bigint").alias("budget"),
        r4(F.sum("sum_chars") * 1.0 / F.sum("n_docs")).alias("gavg"),
    ).select(
        "tw",
        "budget",
        "gavg",
        (F.col("budget") / 10).cast("bigint").alias("anneal_budget"),
        (F.col("budget") - (F.col("budget") / 10).cast("bigint"))
        .cast("bigint")
        .alias("main_budget"),
    )
    lab = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "w",
        (
            r4(F.col("sum_chars") * 1.0 / F.col("n_docs")) >= F.col("gavg")
        ).alias("is_anneal_source"),
        "tw",
        "anneal_budget",
        "main_budget",
    )
    mainq = lab.select(
        "*",
        (F.col("main_budget") * F.col("w") / F.col("tw"))
        .cast("bigint")
        .alias("m_floor"),
        (F.col("main_budget") * F.col("w") % F.col("tw")).alias("m_rem"),
    )
    mshort = mainq.agg(
        (F.max("main_budget") - F.sum("m_floor")).cast("bigint").alias("k")
    )
    wm = Window.orderBy(F.desc("m_rem"), F.asc("source"))
    mallocd = (
        mainq.withColumn("rk", F.row_number().over(wm))
        .crossJoin(F.broadcast(mshort))
        .select(
            "source",
            "w",
            "is_anneal_source",
            "anneal_budget",
            (
                F.col("m_floor")
                + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("main_alloc"),
        )
    )
    aw = mallocd.agg(
        F.sum(F.when(F.col("is_anneal_source"), F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("atw")
    )
    annq = mallocd.crossJoin(F.broadcast(aw)).select(
        "source",
        "w",
        "is_anneal_source",
        "main_alloc",
        "anneal_budget",
        F.when(
            F.col("is_anneal_source"),
            (F.col("anneal_budget") * F.col("w") / F.col("atw")).cast(
                "bigint"
            ),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("a_floor"),
        F.when(
            F.col("is_anneal_source"),
            F.col("anneal_budget") * F.col("w") % F.col("atw"),
        )
        .otherwise(-1)
        .alias("a_rem"),
    )
    ashort = annq.agg(
        (F.max("anneal_budget") - F.sum("a_floor")).cast("bigint").alias("k")
    )
    wa = Window.orderBy(F.desc("a_rem"), F.asc("source"))
    plus = F.when(
        F.col("is_anneal_source") & (F.col("rk") <= F.col("k")), 1
    ).otherwise(0)
    return (
        annq.withColumn("rk", F.row_number().over(wa))
        .crossJoin(F.broadcast(ashort))
        .select(
            "source",
            F.col("w").cast("bigint").alias("weight_tokens"),
            "is_anneal_source",
            F.col("main_alloc").cast("bigint").alias("main_alloc"),
            (F.col("a_floor") + plus).cast("bigint").alias("anneal_alloc"),
            (F.col("main_alloc") + F.col("a_floor") + plus)
            .cast("bigint")
            .alias("total_alloc"),
        )
    )


# q_l_diversity shares the quasi-identifier grouping with
# q_k_anonymity (nation × market segment) and bands the sensitive
# attribute (account balance) into 2000-unit buckets via FLOOR on the
# raw double — both engines floor the same parquet double, so the band
# is bit-identical without any cents round-trip.
_QI_COLS = ("c_nationkey", "c_mktsegment")
_LDIV_L = 3
_LDIV_BAND = 2000.0


@register(
    "q_l_diversity",
    oracle=f"""
    WITH g AS (
      SELECT {_QI_COLS[0]}, {_QI_COLS[1]},
             CAST(FLOOR(c_acctbal / {_LDIV_BAND!r}) AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2, 3
    ), cls AS (
      SELECT {_QI_COLS[0]}, {_QI_COLS[1]},
             CAST(SUM(n) AS BIGINT) AS rows_n,
             CAST(COUNT(*) AS BIGINT) AS l
      FROM g GROUP BY 1, 2
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(MIN(l) AS BIGINT) AS min_l,
             CAST(SUM(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_under_l,
             CAST(SUM(CASE WHEN l < {_LDIV_L} THEN rows_n ELSE 0 END)
                  AS BIGINT) AS rows_at_risk
      FROM cls
    ), gl AS (
      SELECT CAST(COUNT(DISTINCT band) AS BIGINT) AS distinct_sensitive
      FROM g
    )
    SELECT n_classes, min_l, classes_under_l, rows_at_risk,
           distinct_sensitive
    FROM agg CROSS JOIN gl
    """,
    priority="P2",
    tags=("curation", "privacy", "audit"),
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the same quasi-identifier classes as
    `q_k_anonymity` (nation × market segment): per equivalence class,
    how many DISTINCT sensitive values (2000-unit account-balance
    bands) it carries — a class can be k-anonymous yet leak its
    sensitive attribute if every member shares one value (Machanavajjhala
    et al. 2007). Reports class count, the minimum l, classes below
    l = {_LDIV_L} with their row exposure, and the global sensitive
    domain size. Low-l classes exist at every shipped SF while most
    classes are diverse, so both risk directions stay live.

    Scale: one pass to the (QI, band) grain (map-side combined,
    bounded by QI-domain × band-domain), checkpointed to feed both the
    class rollup and the global domain count without re-scanning; the
    report is a 1-row combine of two bounded aggregates.
    """
    c = load(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / _LDIV_BAND).cast("bigint")
    g = (
        c.groupBy(*_QI_COLS, band.alias("band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)  # class rollup + global band domain
    )
    cls = g.groupBy(*_QI_COLS).agg(
        F.sum("n").cast("bigint").alias("rows_n"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    agg = cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("l").cast("bigint").alias("min_l"),
        F.sum(F.when(F.col("l") < _LDIV_L, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_under_l"),
        F.sum(F.when(F.col("l") < _LDIV_L, F.col("rows_n")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
    )
    gl = g.select("band").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("distinct_sensitive")
    )
    return agg.crossJoin(F.broadcast(gl))


_DP_B = 1.0  # Laplace scale b = sensitivity/epsilon = 1/1 for counts
_DP_SPACE = float(1 << 48)  # md5 12-hex hash space, the KMV device


@register(
    "q_dp_noisy_counts",
    oracle=f"""
    WITH g AS (
      SELECT {_QI_COLS[0]}, {_QI_COLS[1]},
             CAST(COUNT(*) AS BIGINT) AS true_n
      FROM customer GROUP BY 1, 2
    ), h AS (
      SELECT {_QI_COLS[0]}, {_QI_COLS[1]}, true_n,
             (CAST(('0x' || substr(md5(CAST({_QI_COLS[0]} AS VARCHAR)
                 || '|' || {_QI_COLS[1]}), 1, 12)) AS BIGINT) + 0.5)
               / {_DP_SPACE!r} AS u
      FROM g
    ), n AS (
      SELECT {_QI_COLS[0]}, {_QI_COLS[1]}, true_n,
             {R4(f'-{_DP_B!r} * LN(1.0 - 2.0 * ABS(u - 0.5))'
                 ' * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END')} AS noise
      FROM h
    )
    SELECT {_QI_COLS[0]}, {_QI_COLS[1]}, true_n, noise,
           {R4('true_n + noise')} AS noisy_n,
           ABS(noise) <= {_DP_B!r} * LN(20.0) AS within_eps_bound
    FROM n
    """,
    priority="P2",
    tags=("curation", "privacy", "audit"),
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of the quasi-identifier class
    counts (same `_QI_COLS` grain as `q_k_anonymity`/`q_l_diversity`):
    each count carries Laplace(b = {_DP_B}) noise — sensitivity 1,
    ε = 1 — via the inverse-CDF transform x = −b·sgn(u−½)·ln(1−2|u−½|).
    The house determinism contract applies: u is a pure function of
    the class key (md5 12-hex → (0,1), the KMV device), so the release
    is reproducible cross-engine — a production release swaps in a
    sealed random seed, same plan. `within_eps_bound` marks noise
    inside the 95% Laplace envelope b·ln(20) (tail draws surface as
    FALSE — 4–5 classes at every shipped SF, so the magnitude audit a
    DP release logs stays live in both directions).

    Scale: one map-side-combined aggregate to the bounded QI grain,
    then per-row scalar math — noise injection costs nothing at any
    corpus size; the release table is bounded by the QI domain.
    """
    c = load(spark, sf_dir, "customer")
    g = c.groupBy(*_QI_COLS).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    key = F.concat_ws(
        "|", F.col(_QI_COLS[0]).cast("string"), F.col(_QI_COLS[1])
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("bigint") + 0.5
    ) / _DP_SPACE
    noise = r4(
        -_DP_B
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
        * F.when(u >= 0.5, 1.0).otherwise(-1.0)
    )
    import math

    return g.select(
        *_QI_COLS,
        "true_n",
        noise.alias("noise"),
        r4(F.col("true_n") + noise).alias("noisy_n"),
        (F.abs(noise) <= _DP_B * math.log(20.0)).alias("within_eps_bound"),
    )


_HU_BUCKETS = 100
_HU_CHI2_CRIT_DF99 = 123.225  # chi-square 0.95 quantile, df = 99


@register(
    "q_hash_uniformity",
    oracle=f"""
    WITH t AS (
      SELECT 'knuth_doc_id' AS test,
             (doc_id * {_KNUTH}) % {_MOD} % {_HU_BUCKETS} AS bucket
      FROM documents
      UNION ALL
      SELECT 'lang_proxy',
             (ord(substr(lang, 1, 1)) * {_KNUTH}) % {_MOD} % {_HU_BUCKETS}
      FROM documents
    ), o AS (
      SELECT test, bucket, CAST(COUNT(*) AS BIGINT) AS o
      FROM t GROUP BY 1, 2
    ), nn AS (
      SELECT test, CAST(SUM(o) AS BIGINT) AS n FROM o GROUP BY 1
    ), grid AS (
      SELECT nn.test, s.bucket, nn.n, COALESCE(o.o, 0) AS o
      FROM nn CROSS JOIN
           (SELECT UNNEST(generate_series(0, {_HU_BUCKETS - 1})) AS bucket) s
      LEFT JOIN o ON o.test = nn.test AND o.bucket = s.bucket
    )
    SELECT test, MAX(n) AS n,
           CAST(SUM(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS buckets_hit,
           {R4(f'SUM(POW(o - n * 1.0 / {_HU_BUCKETS}, 2)'
               f' / (n * 1.0 / {_HU_BUCKETS}))')} AS chi2,
           {R4(f'SUM(POW(o - n * 1.0 / {_HU_BUCKETS}, 2)'
               f' / (n * 1.0 / {_HU_BUCKETS}))')} > {_HU_CHI2_CRIT_DF99!r}
             AS reject
    FROM grid GROUP BY test
    """,
    priority="P2",
    tags=("curation", "sampling", "audit"),
)
def q_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared goodness-of-fit audit of the house sampling device
    itself: the Knuth multiplicative hash behind `q_split_assign` /
    `q_sample` (SAME `_KNUTH`/`_MOD` constants — an inline copy would
    audit a stale rule) must spread doc_ids uniformly over
    {_HU_BUCKETS} split buckets, and the audit proves it: observed
    bucket counts vs n/{_HU_BUCKETS} expected, df = 99, α = 0.05
    critical {_HU_CHI2_CRIT_DF99}. A deliberately broken hash (keyed
    on the first language letter — ≤7 distinct inputs) rides along as
    the reject direction: every split pipeline should run this before
    trusting its train/val/test assignment, because a clustered key
    (timestamp prefixes, tenant ids) silently turns "random" splits
    into systematic ones (`q_srm_check`'s finer-grained sibling).

    Dense spine: all {_HU_BUCKETS} buckets enter the statistic — an
    EMPTY bucket is (0−e)²/e of evidence, not missing data.

    Scale: one pass to the (test, bucket) grain (map-side combined,
    bounded by 2×{_HU_BUCKETS} rows), spine join + 2-row combine; the
    audit costs one projection whatever the corpus size.
    """
    d = load(spark, sf_dir, "documents")
    good = d.select(
        F.lit("knuth_doc_id").alias("test"),
        _hash_bucket("doc_id", _HU_BUCKETS).alias("bucket"),
    )
    lang_code = F.ascii(F.substring("lang", 1, 1)).cast("bigint")
    bad = d.select(
        F.lit("lang_proxy").alias("test"),
        (lang_code * F.lit(_KNUTH) % F.lit(_MOD) % F.lit(_HU_BUCKETS)).alias(
            "bucket"
        ),
    )
    o = (
        good.unionByName(bad)
        .groupBy("test", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint(eager=False)  # totals + grid legs
    )
    nn = o.groupBy("test").agg(F.sum("o").cast("bigint").alias("n"))
    spine = spark.range(_HU_BUCKETS).select(F.col("id").alias("bucket"))
    grid = (
        nn.crossJoin(F.broadcast(spine))
        .join(o, ["test", "bucket"], "left")
        .select("test", "n", F.coalesce("o", F.lit(0)).alias("o"))
    )
    e = F.col("n") * 1.0 / _HU_BUCKETS
    chi2 = r4(F.sum(F.pow(F.col("o") - e, 2) / e))
    return grid.groupBy("test").agg(
        F.max("n").alias("n"),
        F.sum(F.when(F.col("o") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("buckets_hit"),
        chi2.alias("chi2"),
        (chi2 > _HU_CHI2_CRIT_DF99).alias("reject"),
    )


@register(
    "q_quantile_normalize",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS v FROM documents
    ), ranked AS (
      SELECT lang, v,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY v, doc_id) AS BIGINT) AS r
      FROM d
    ), sizes AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_g FROM d GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
    ), cdf AS (
      SELECT v, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum,
             CAST(SUM(c) OVER (ORDER BY v) - c AS BIGINT) AS cum_prev
      FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1)
    ), mapped AS (
      SELECT ranked.lang,
             (ranked.r * tot.n + sizes.n_g - 1) // sizes.n_g AS p,
             tot.n
      FROM ranked
      JOIN sizes ON sizes.lang = ranked.lang
      CROSS JOIN tot
    )
    SELECT m.lang, ((m.p - 1) * 10) // m.n AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(cdf.v) AS BIGINT) AS min_nv,
           CAST(MAX(cdf.v) AS BIGINT) AS max_nv
    FROM mapped m
    JOIN cdf ON m.p > cdf.cum_prev AND m.p <= cdf.cum
    GROUP BY 1, 2
    """,
    priority="P2",
    tags=("llm", "curation", "normalize"),
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the per-language document-length
    distributions onto the pooled corpus distribution — the
    batch-effect correction step (Bolstad et al. 2003, standard in
    any pipeline that must compare a FEATURE across heterogeneous
    sources): each doc's within-language rank r maps to pooled
    position p = ⌈r·N/n_g⌉ and takes the pooled value at that
    position, so every language ends up with (up to rank
    granularity) the SAME length distribution. Reported at the
    (lang, decile) audit grain with the normalized-value envelope —
    after normalization the per-language decile boundaries coincide,
    which is the testable law.

    Everything is exact integer arithmetic: ranks, ceil-division
    target positions, a pooled CDF at the VALUE grain (distinct
    lengths, bounded domain), and the position→value lookup as a
    (cum_prev, cum] range join. No floats anywhere.

    Scale: per-language windows are entity-bounded; the pooled CDF
    rides the banded-order device (`operators/banded.py`) so no
    unpartitioned window touches the value grain; the CDF is
    broadcast-sized by the bounded value domain, and the range join
    is per-row against that broadcast — one shuffle on lang for the
    ranks, nothing else.
    """
    from modforms_db_spark.operators.banded import with_banded_order

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("v"))
        .localCheckpoint(eager=False)  # ranks + sizes + CDF, one scan
    )
    wr = Window.partitionBy("lang").orderBy("v", "doc_id")
    ranked = d.select(
        "lang", "v", F.row_number().over(wr).cast("bigint").alias("r")
    )
    sizes = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_g"))
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    vc = d.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cdf = with_banded_order(
        vc, "v", [], cumsum_col="c", cum_name="cum"
    ).select(
        F.col("v").alias("nv"),
        F.col("cum").cast("bigint").alias("cum"),
        (F.col("cum") - F.col("c")).cast("bigint").alias("cum_prev"),
    )
    mapped = (
        ranked.join(F.broadcast(sizes), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.expr("(r * n + n_g - 1) div n_g").alias("p"),
            "n",
        )
    )
    return (
        mapped.join(
            F.broadcast(cdf),
            (F.col("p") > F.col("cum_prev")) & (F.col("p") <= F.col("cum")),
        )
        .groupBy("lang", F.expr("((p - 1) * 10) div n").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("nv").alias("min_nv"),
            F.max("nv").alias("max_nv"),
        )
    )


_RESAMPLE_M = 100  # systematic-sampling pointer count


@register(
    "q_importance_resample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w FROM documents
    ), c AS (
      SELECT doc_id, lang, w,
             CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum,
             CAST(SUM(w) OVER (ORDER BY doc_id) - w AS BIGINT) AS cum_prev
      FROM d
    ), tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS big_w FROM d
    ), pos AS (
      SELECT UNNEST(generate_series(0, {_RESAMPLE_M - 1})) AS j
    )
    SELECT pos.j AS sample_idx, c.doc_id, c.lang, c.w
    FROM pos
    CROSS JOIN tot
    JOIN c ON 2 * {_RESAMPLE_M} * c.cum_prev < (2 * pos.j + 1) * tot.big_w
          AND (2 * pos.j + 1) * tot.big_w <= 2 * {_RESAMPLE_M} * c.cum
    """,
    priority="P2",
    tags=("llm", "curation", "sampling", "pps"),
)
def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size resampling — the
    RESAMPLING half of the DSIR recipe (`q_dsir_weights` scores,
    this draws): m = 100 equally-spaced pointers over the cumulative
    weight axis (weight = document length, the token-budget proxy);
    pointer j lands at (j + ½)·W/m and selects the document whose
    cumulative-weight interval contains it. Systematic PPS gives
    each doc inclusion probability min(1, m·w/W) with ZERO variance
    in the sample's total-weight coverage — the property shard
    builders rely on — and, unlike Bernoulli/A-ES draws
    (`q_sample_weighted*`), a FIXED sample size.

    Determinism: the cumulative axis is ordered by doc_id; the
    pointer test is kept in exact integers by doubling —
    2m·cum_prev < (2j+1)·W ≤ 2m·cum — so no float ever decides an
    inclusion (the same doubling trick as `ntile_from_rn`).

    Scale: the cumulative weights ride the banded-order device (no
    unpartitioned window); the m-row pointer frame is broadcast and
    range-joined against each doc's (cum_prev, cum] interval — one
    pass, no doc-side shuffle beyond the banded ranks. At 100 TB m
    grows to the shard budget and nothing changes shape.
    """
    from modforms_db_spark.operators.banded import with_banded_order

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("w")
    )
    c = with_banded_order(
        d, "doc_id", [], cumsum_col="w", cum_name="cum"
    ).select(
        "doc_id",
        "lang",
        "w",
        F.col("cum").cast("bigint").alias("cum"),
        (F.col("cum") - F.col("w")).cast("bigint").alias("cum_prev"),
    )
    # total weight = last cumulative — read off the banded frame, not a
    # second documents scan (review finding: d is not checkpointed here;
    # with_banded_order checkpoints its own copy)
    tot = c.agg(F.max("cum").cast("bigint").alias("big_w"))
    pos = spark.range(_RESAMPLE_M).select(F.col("id").alias("j"))
    m2 = 2 * _RESAMPLE_M
    t = (2 * F.col("j") + 1) * F.col("big_w")
    return (
        c.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(pos),
            (m2 * F.col("cum_prev") < t) & (t <= m2 * F.col("cum")),
        )
        .select(
            F.col("j").alias("sample_idx"), "doc_id", "lang", "w"
        )
    )


_HIER_BUDGET = 1_000_000  # units allocated down region -> nation


@register(
    "q_alloc_hierarchical",
    oracle=f"""
    WITH w AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(ROUND(o.o_totalprice * 100)) AS BIGINT) AS w
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ), rw AS (
      SELECT region, CAST(SUM(w) AS BIGINT) AS w FROM w GROUP BY 1
    ), tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM rw),
    rq AS (
      SELECT region, w, {_HIER_BUDGET} * w // tot.tw AS fl,
             {_HIER_BUDGET} * w % tot.tw AS rem
      FROM rw CROSS JOIN tot
    ), rshort AS (
      SELECT {_HIER_BUDGET} - CAST(SUM(fl) AS BIGINT) AS k FROM rq
    ), ralloc AS (
      SELECT region,
             fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, region)
                       <= rshort.k THEN 1 ELSE 0 END AS region_alloc
      FROM rq CROSS JOIN rshort
    ), nq AS (
      SELECT w.region, w.nation, w.w, ra.region_alloc,
             ra.region_alloc * w.w // rw.w AS fl,
             ra.region_alloc * w.w % rw.w AS rem
      FROM w
      JOIN rw ON rw.region = w.region
      JOIN ralloc ra ON ra.region = w.region
    ), nshort AS (
      SELECT region, region_alloc - CAST(SUM(fl) AS BIGINT) AS k
      FROM nq GROUP BY 1, region_alloc
    )
    SELECT nq.region, nq.nation, nq.w AS weight_cents,
           CAST(nq.region_alloc AS BIGINT) AS region_alloc,
           CAST(nq.fl + CASE WHEN row_number() OVER (
                  PARTITION BY nq.region ORDER BY nq.rem DESC, nq.nation)
                <= ns.k THEN 1 ELSE 0 END AS BIGINT) AS nation_alloc
    FROM nq JOIN nshort ns ON ns.region = nq.region
    """,
    priority="P2",
    tags=("llm", "curation", "allocation", "hierarchy"),
)
def q_alloc_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level hierarchical largest-remainder allocation — a global
    budget pro-rated region → nation by exact revenue mass, Hamilton
    at EACH level so the telescoping identities hold exactly:
    Σ region_alloc = budget and, within every region,
    Σ nation_alloc = region_alloc (the property a one-shot global
    proration cannot give you — independently rounded nation quotas
    don't sum to their region's). This is `q_alloc_largest_remainder`
    cascaded: the planning/budgeting shape (cluster quota → team
    quota, corpus budget → domain → language) at the two-level
    grain.

    All masses are exact integer cents; quotas are exact integer
    floor-division with integer remainders — the only windows rank
    remainders, never sum floats.

    Scale: one pass to the (region, nation) revenue grain behind
    broadcast dim joins; level-1 ranking runs on the 5-row region
    frame (bounded by geography, not data), level-2 rankings are
    PARTITIONED by region over ≤25-row frames. BIGINT headroom: the
    budget×mass quota products are exact while regional mass stays
    below ~9.2e12 cents (≈ sf30 revenue; shipped SFs are ≤ sf0.1);
    past that, rescale masses to whole dollars or widen the product
    to DECIMAL(38)/HUGEINT — a mechanical swap, same plan shape.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    w = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0))
            .cast("bigint")
            .alias("w")
        )
        .localCheckpoint(eager=False)  # region masses + nation quotas
    )
    rw = w.groupBy("region").agg(F.sum("w").cast("bigint").alias("rw"))
    tot = rw.agg(F.sum("rw").cast("bigint").alias("tw"))
    b = F.lit(_HIER_BUDGET)
    rq = rw.crossJoin(F.broadcast(tot)).select(
        "region",
        "rw",
        F.expr(f"{_HIER_BUDGET} * rw div tw").alias("fl"),
        (b * F.col("rw") % F.col("tw")).alias("rem"),
    )
    rshort = rq.agg((b - F.sum("fl")).cast("bigint").alias("k"))
    wr = Window.orderBy(F.col("rem").desc(), "region")
    ralloc = (
        rq.crossJoin(F.broadcast(rshort))
        .select(
            "region",
            (
                F.col("fl")
                + F.when(F.row_number().over(wr) <= F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("region_alloc"),
        )
    )
    nq = (
        w.join(F.broadcast(rw), "region")
        .join(F.broadcast(ralloc), "region")
        .select(
            "region",
            "nation",
            "w",
            "region_alloc",
            F.expr("region_alloc * w div rw").alias("fl"),
            (F.col("region_alloc") * F.col("w") % F.col("rw")).alias("rem"),
        )
    )
    nshort = nq.groupBy("region", "region_alloc").agg(
        (F.col("region_alloc") - F.sum("fl")).cast("bigint").alias("k")
    ).select("region", "k")
    wn = Window.partitionBy("region").orderBy(F.col("rem").desc(), "nation")
    return (
        nq.join(F.broadcast(nshort), "region")
        .select(
            "region",
            "nation",
            F.col("w").alias("weight_cents"),
            F.col("region_alloc").cast("bigint").alias("region_alloc"),
            (
                F.col("fl")
                + F.when(F.row_number().over(wn) <= F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("nation_alloc"),
        )
    )


_KFOLD_K = 5


@register(
    "q_group_kfold",
    oracle=f"""
    WITH d AS (
      SELECT source, ('0x' || substr(md5(source), 1, 6))::BIGINT % {_KFOLD_K}
               AS fold,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents
    ), f AS (
      SELECT fold, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1
    ), spine AS (
      SELECT UNNEST(generate_series(0, {_KFOLD_K - 1})) AS fold
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
    SELECT s.fold,
           COALESCE(f.n_sources, 0) AS n_sources,
           COALESCE(f.n_docs, 0) AS n_docs,
           COALESCE(f.n_tokens, 0) AS n_tokens,
           {R4('COALESCE(f.n_docs, 0) * 1.0 / tot.n')} AS doc_share
    FROM spine s LEFT JOIN f ON f.fold = s.fold CROSS JOIN tot
    """,
    priority="P2",
    tags=("llm", "curation", "split", "kfold"),
)
def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped k-fold assignment (k = 5) with SOURCE integrity: every
    document of a source lands in the same fold (fold = md5-hash of
    the source id — the `q_dsir_weights` string-hash idiom), so
    cross-validation never trains on one half of a source and
    evaluates on the other (the within-source near-duplicate leakage
    `q_split_leakage` measures for the doc-hash split). The fold
    report carries the price of that integrity: with few large
    groups the folds are UNBALANCED (1–10 sources per fold on this
    corpus), which is the real grouped-CV trade-off — the dense
    5-fold spine plus per-fold doc/token masses and shares make the
    imbalance auditable rather than silent.

    Counts are exact integers; the only double is the final share
    (one division under r4).

    Scale: fold is a per-row projection (md5 inside codegen); one
    partial+final aggregate on the k-bounded fold grain; the spine
    join touches 5 rows.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select(
            "source",
            (
                F.conv(F.substring(F.md5("source"), 1, 6), 16, 10)
                .cast("bigint")
                % _KFOLD_K
            ).alias("fold"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
        )
        .localCheckpoint(eager=False)  # fold masses + corpus total, one scan
    )
    f = d.groupBy("fold").agg(
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    spine = spark.range(_KFOLD_K).select(F.col("id").alias("fold"))
    return (
        spine.join(f, "fold", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            F.coalesce("n_sources", F.lit(0)).alias("n_sources"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            r4(F.coalesce("n_docs", F.lit(0)) * 1.0 / F.col("n")).alias(
                "doc_share"
            ),
        )
    )


_GREEDY_U_SQL = """CAST(len(list_distinct(string_split(text, ' ')))
                 AS DOUBLE) / len(string_split(text, ' '))"""


@register(
    "q_budget_select_greedy",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS cost,
             CAST(ROUND({R4(_GREEDY_U_SQL)} * 10000) AS BIGINT) AS u_q
      FROM documents
    ), tot AS (
      SELECT CAST(SUM(cost) AS BIGINT) // 10 AS budget FROM d
    ), ordered AS (
      SELECT doc_id, lang, cost, u_q,
             CAST(SUM(cost) OVER (
               ORDER BY CAST(u_q AS DOUBLE) / cost DESC, doc_id)
               AS BIGINT) AS cum
      FROM d
    ), sel AS (
      SELECT o.lang, o.cost, o.u_q, o.cum <= tot.budget AS selected,
             tot.budget
      FROM ordered o CROSS JOIN tot
    )
    SELECT lang, selected,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(cost) AS BIGINT) AS tokens,
           CAST(SUM(u_q) AS BIGINT) AS value_q,
           CAST(MAX(budget) AS BIGINT) AS budget
    FROM sel GROUP BY 1, 2
    """,
    priority="P2",
    tags=("llm", "curation", "budget", "greedy"),
)
def q_budget_select_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy budget-constrained selection — the knapsack step of
    corpus curation: rank documents by quality-per-token density
    (lexical diversity u = unique/total tokens, over token cost)
    and take the prefix whose cumulative token cost fits a 10%%
    token budget — the classical density-greedy knapsack heuristic
    (≥ ½-optimal), and the DOCUMENT-grain companion to
    `q_token_budget_mix` (which allocates across groups) and
    `q_importance_resample` (which samples ∝ weight without a hard
    cap). Output is the (lang, selected) audit grain — what the
    budget bought, and from where.

    Determinism: u rides as r4→integer ten-thousandths; the density
    order key u_q/cost is a single exact-integer division (same
    IEEE double in both engines), tie-broken by doc_id; the prefix
    test is exact-integer cumulative cost against an exact-integer
    budget.

    Scale: the cumulative cost rides the banded-order device (no
    unpartitioned window over the corpus); everything after the
    ranks is a filter plus a bounded-grain aggregate.
    """
    from modforms_db_spark.operators.banded import with_banded_order

    toks = F.split("text", " ")
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("cost"),
        F.round(
            r4(F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
            * 10000,
            0,
        )
        .cast("bigint")
        .alias("u_q"),
    )
    d = d.select(
        "*", (F.col("u_q").cast("double") / F.col("cost")).alias("density")
    )
    c = with_banded_order(
        d, "density", ["doc_id"], descending=True, cumsum_col="cost",
        cum_name="cum",
    )
    tot = c.agg(
        F.expr("cast(max(cum) as bigint) div 10").alias("budget")
    )
    sel = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "cost",
        "u_q",
        (F.col("cum") <= F.col("budget")).alias("selected"),
        "budget",
    )
    return sel.groupBy("lang", "selected").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("cost").cast("bigint").alias("tokens"),
        F.sum("u_q").cast("bigint").alias("value_q"),
        F.max("budget").cast("bigint").alias("budget"),
    )


_SUPP_K = 5  # small-cell threshold (shared bar with q_k_anonymity)


@register(
    "q_cell_suppression",
    oracle=f"""
    WITH cells0 AS (
      SELECT c_nationkey AS nation, c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    ), spine AS (
      SELECT n.nation, s.seg
      FROM (SELECT DISTINCT nation FROM cells0) n
      CROSS JOIN (SELECT DISTINCT seg FROM cells0) s
    ), filled AS (
      SELECT spine.nation, spine.seg, COALESCE(cells0.n, 0) AS n
      FROM spine LEFT JOIN cells0
        ON cells0.nation = spine.nation AND cells0.seg = spine.seg
    ), cells AS (
      SELECT 'organic' AS variant, nation, seg, n FROM filled
      UNION ALL
      SELECT 'planted', nation, seg,
             CASE WHEN nation % 3 = 0 AND seg = 'AUTOMOBILE'
                  THEN 1 + nation % 4 ELSE n + 10 END
      FROM filled
    ), prim AS (
      SELECT *, n >= 1 AND n < {_SUPP_K} AS p FROM cells
    ), rowstep AS (
      SELECT *,
             p OR (
               NOT p AND n > 0
               AND SUM(CASE WHEN p THEN 1 ELSE 0 END)
                     OVER (PARTITION BY variant, nation) = 1
               AND ROW_NUMBER() OVER (
                     PARTITION BY variant, nation, p
                     ORDER BY CASE WHEN p OR n = 0 THEN NULL ELSE n END
                              ASC NULLS LAST, seg) = 1
             ) AS s1
      FROM prim
    ), colstep AS (
      SELECT *,
             s1 OR (
               NOT s1 AND n > 0
               AND SUM(CASE WHEN s1 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY variant, seg) = 1
               AND ROW_NUMBER() OVER (
                     PARTITION BY variant, seg, s1
                     ORDER BY CASE WHEN s1 OR n = 0 THEN NULL ELSE n END
                              ASC NULLS LAST, nation) = 1
             ) AS s2
      FROM rowstep
    )
    SELECT variant, CAST(nation AS BIGINT) AS nation, seg,
           CASE WHEN s2 THEN NULL ELSE n END AS published_n,
           s2 AS suppressed,
           CASE WHEN p THEN 'primary'
                WHEN s1 AND NOT p THEN 'row-complement'
                WHEN s2 AND NOT s1 THEN 'col-complement'
           END AS reason
    FROM colstep
    """,
    priority="P2",
    tags=("privacy", "suppression", "disclosure"),
)
def q_cell_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-cell suppression with one complementary round — the
    fourth member of the disclosure-control family (`q_k_anonymity`
    counts the risk, `q_l_diversity` checks attribute spread,
    `q_dp_noisy_counts` perturbs; this PUBLISHES a table): in the
    nation × segment contingency table, cells with 1 ≤ n < k are
    primary-suppressed, and any row (then column) left with exactly
    ONE suppression gets its smallest positive unsuppressed cell
    complementary-suppressed — otherwise the marginal total recovers
    the hidden value exactly. One row-then-column pass is the
    standard greedy first round (full minimal suppression is
    NP-hard; residual risk after one round is documented, not
    hidden — the law test audits both directions).

    Deterministic: the complement choice is (smallest n, then
    name) — a total order; zero cells are publishable and never
    chosen. All counts exact.

    Scale: one pass to the QI contingency grain (bounded by the
    attribute domains — 125 cells here, never row count); every
    window partitions by a single row/column of that grain.
    """
    c0 = (
        load(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)  # spine legs + cells, one scan
    )
    spine = c0.select("nation").distinct().crossJoin(
        c0.select("seg").distinct()
    )
    filled = spine.join(c0, ["nation", "seg"], "left").select(
        "nation", "seg", F.coalesce("n", F.lit(0)).alias("n")
    )
    # Planted regime (vacuity rule): organic tables are either mass-
    # suppressed (sf0.001) or all-safe (sf0.01+), so the complementary
    # round never fires; the engineered variant gives every third
    # nation exactly ONE small cell, forcing row complements.
    planted_n = F.when(
        (F.col("nation") % 3 == 0) & (F.col("seg") == "AUTOMOBILE"),
        1 + F.col("nation") % 4,
    ).otherwise(F.col("n") + 10)
    cells = filled.select(
        F.lit("organic").alias("variant"), "nation", "seg", "n"
    ).unionByName(
        filled.select(
            F.lit("planted").alias("variant"),
            "nation",
            "seg",
            planted_n.alias("n"),
        )
    )
    prim = cells.select(
        "*", ((F.col("n") >= 1) & (F.col("n") < _SUPP_K)).alias("p")
    )

    def complement(df, flag: str, part: str, tiebreak: str, out: str):
        wc = Window.partitionBy("variant", part)
        pick_order = Window.partitionBy("variant", part, flag).orderBy(
            F.when(F.col(flag) | (F.col("n") == 0), F.lit(None))
            .otherwise(F.col("n"))
            .asc_nulls_last(),
            tiebreak,
        )
        need = F.sum(F.when(F.col(flag), 1).otherwise(0)).over(wc) == 1
        chosen = (
            ~F.col(flag)
            & (F.col("n") > 0)
            & need
            & (F.row_number().over(pick_order) == 1)
        )
        return df.select("*", (F.col(flag) | chosen).alias(out))

    rowstep = complement(prim, "p", "nation", "seg", "s1")
    colstep = complement(rowstep, "s1", "seg", "nation", "s2")
    return colstep.select(
        "variant",
        F.col("nation").cast("bigint").alias("nation"),
        "seg",
        F.when(~F.col("s2"), F.col("n")).alias("published_n"),
        F.col("s2").alias("suppressed"),
        F.when(F.col("p"), "primary")
        .when(F.col("s1") & ~F.col("p"), "row-complement")
        .when(F.col("s2") & ~F.col("s1"), "col-complement")
        .alias("reason"),
    )


_BPE_ROUNDS = 3


def _bpe_apply_oracle() -> str:
    """Unrolled 3-round BPE training loop: per round, (a) weighted pair
    counts over the symbol grain, (b) argmax pair (count desc, pair
    asc), (c) greedy non-overlapping left-to-right merge via the
    gaps-islands run-parity device (within a maximal run of consecutive
    matches, keep even run-offsets — exactly greedy left-to-right),
    (d) rebuild the grain. All counts are exact integers; the argmax
    is deterministic by tiebreak."""
    head = """
    WITH vocab AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS w
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE length(tok) >= 1 GROUP BY tok
    ),
    g0 AS MATERIALIZED (
      SELECT tok, w, CAST(i AS BIGINT) AS pos, tok[i] AS sym
      FROM vocab, unnest(generate_series(1, length(tok))) AS t(i)
    )"""
    parts = []
    for r in range(1, _BPE_ROUNDS + 1):
        g = f"g{r - 1}"
        parts.append(f""",
    p{r} AS MATERIALIZED (
      SELECT a.tok, a.w, a.pos, a.sym, b.sym AS sym2
      FROM {g} a JOIN {g} b ON a.tok = b.tok AND b.pos = a.pos + 1
    ),
    top{r} AS MATERIALIZED (
      SELECT sym AS pa, sym2 AS pb, CAST(SUM(w) AS BIGINT) AS n
      FROM p{r} GROUP BY sym, sym2
      ORDER BY n DESC, pa, pb LIMIT 1
    ),
    mt{r} AS MATERIALIZED (
      SELECT p.tok, p.w, p.pos,
             p.pos - row_number() OVER (PARTITION BY p.tok
               ORDER BY p.pos) AS rid
      FROM p{r} p JOIN top{r} t ON p.sym = t.pa AND p.sym2 = t.pb
    ),
    keep{r} AS MATERIALIZED (
      SELECT tok, w, pos FROM (
        SELECT tok, w, pos,
               pos - MIN(pos) OVER (PARTITION BY tok, rid) AS off
        FROM mt{r}
      ) WHERE off % 2 = 0
    ),
    g{r} AS MATERIALIZED (
      SELECT tok, w,
             CAST(row_number() OVER (PARTITION BY tok ORDER BY pos)
               AS BIGINT) AS pos,
             sym
      FROM (
        SELECT g.tok, g.w, g.pos,
               CASE WHEN k.pos IS NOT NULL
                    THEN t.pa || t.pb ELSE g.sym END AS sym
        FROM {g} g
        LEFT JOIN keep{r} k ON g.tok = k.tok AND g.pos = k.pos
        LEFT JOIN keep{r} k2 ON g.tok = k2.tok AND g.pos = k2.pos + 1
        CROSS JOIN top{r} t
        WHERE k2.pos IS NULL
      )
    ),
    s{r} AS MATERIALIZED (
      SELECT {r} AS round, t.pa || '+' || t.pb AS pair, t.n AS pair_w,
             (SELECT CAST(SUM(w) AS BIGINT) FROM keep{r}) AS merged_w,
             (SELECT CAST(SUM(w) AS BIGINT) FROM g{r}) AS syms_after_w
      FROM top{r} t
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, _BPE_ROUNDS + 1)
    )
    return head + "".join(parts) + " " + union


@register(
    "q_bpe_apply",
    oracle=_bpe_apply_oracle(),
    priority="P2",
    tags=("llm", "curation", "tokenizer", "iterative"),
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE training LOOP (3 rounds), distributed: each round
    counts weighted adjacent-symbol pairs over the token vocab, picks
    the argmax merge, and applies it greedily left-to-right
    corpus-wide — completing the story `q_bpe_merge_pairs` (one
    counting round) starts. Emits per round: the learned merge, its
    weighted pair count, the weighted number of positions actually
    merged, and the weighted symbol count remaining.

    The greedy non-overlapping merge — inherently sequential per
    token — becomes relational via the gaps-islands run-parity
    device: positions whose (sym, next-sym) match the pair form
    maximal runs (overlaps only occur inside runs, e.g. 'aaa' under
    merge a+a); keeping EVEN run-offsets is exactly greedy
    left-to-right. A fold/list_reduce formulation would run
    interpreted per row and isn't portable; this one is windows +
    joins in both engines, exact integer counts throughout,
    deterministic argmax by (count desc, pair asc).

    Scale: BPE operates on the VOCAB grain (distinct token × weight),
    not the corpus stream — the standard trick that makes merge
    rounds O(|vocab|·len); pair counts map-side combine; each round's
    grain is checkpointed so round r+1 never recomputes round r."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    grain = vocab.select(
        "tok",
        "w",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok")),
                lambda i: F.substring(F.col("tok"), i, F.lit(1)),
            )
        ).alias("p0", "sym"),
    ).select(
        "tok", "w", (F.col("p0") + 1).cast("bigint").alias("pos"), "sym"
    ).localCheckpoint(eager=False)
    out = None
    for r in range(1, _BPE_ROUNDS + 1):
        nxt = grain.select(
            F.col("tok").alias("tok2"),
            F.col("pos").alias("pos2"),
            F.col("sym").alias("sym2"),
        )
        pairs = (
            grain.join(
                nxt,
                (F.col("tok") == F.col("tok2"))
                & (F.col("pos2") == F.col("pos") + 1),
            )
            .select("tok", "w", "pos", "sym", "sym2")
            .localCheckpoint(eager=False)  # top-pair agg + match leg
        )
        top = (
            pairs.groupBy(
                F.col("sym").alias("pa"), F.col("sym2").alias("pb")
            )
            .agg(F.sum("w").cast("bigint").alias("n"))
            .orderBy(F.desc("n"), "pa", "pb")
            .limit(1)
            .localCheckpoint(eager=False)  # match join + stats row
        )
        mt = pairs.join(
            F.broadcast(top),
            (F.col("sym") == F.col("pa")) & (F.col("sym2") == F.col("pb")),
        ).select("tok", "w", "pos")
        wrn = Window.partitionBy("tok").orderBy("pos")
        runs = mt.select(
            "tok",
            "w",
            "pos",
            (F.col("pos") - F.row_number().over(wrn)).alias("rid"),
        )
        wmin = Window.partitionBy("tok", "rid")
        keep = (
            runs.select(
                "tok",
                "w",
                "pos",
                (F.col("pos") - F.min("pos").over(wmin)).alias("off"),
            )
            .where(F.col("off") % 2 == 0)
            .select("tok", "w", "pos")
            .localCheckpoint(eager=False)  # merge-at + consumed-next + stats
        )
        k1 = keep.select(F.col("tok").alias("tok"), F.col("pos").alias("kpos"))
        k2 = keep.select(
            F.col("tok").alias("tok"), (F.col("pos") + 1).alias("cpos")
        )
        wpos = Window.partitionBy("tok").orderBy("pos")
        merged_sym = F.when(
            F.col("kpos").isNotNull(), F.concat(F.col("pa"), F.col("pb"))
        ).otherwise(F.col("sym"))
        grain = (
            grain.join(
                k1,
                (grain.tok == k1.tok) & (grain.pos == F.col("kpos")),
                "left",
            )
            .drop(k1.tok)
            .join(
                k2,
                (grain.tok == k2.tok) & (grain.pos == F.col("cpos")),
                "left_anti",
            )
            .crossJoin(F.broadcast(top.select("pa", "pb")))
            .select(
                "tok",
                "w",
                F.row_number().over(wpos).cast("bigint").alias("pos"),
                merged_sym.alias("sym"),
            )
            .localCheckpoint(eager=False)  # next round + stats
        )
        stats = (
            top.crossJoin(
                keep.agg(F.sum("w").cast("bigint").alias("merged_w"))
            )
            .crossJoin(
                grain.agg(F.sum("w").cast("bigint").alias("syms_after_w"))
            )
            .select(
                F.lit(r).alias("round"),
                F.concat(F.col("pa"), F.lit("+"), F.col("pb")).alias("pair"),
                F.col("n").alias("pair_w"),
                "merged_w",
                "syms_after_w",
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out


_PFX_KS = (4, 8, 16)  # shared-prefix depths audited


@register(
    "q_prefix_cache_savings",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), ks AS (SELECT unnest(ARRAY{list(_PFX_KS)}) AS k
    ), pfx AS (
      SELECT ks.k, array_to_string(t.toks[1:ks.k], ' ') AS prefix
      FROM t JOIN ks ON len(t.toks) >= ks.k
    ), g AS (
      SELECT k, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pfx GROUP BY 1, 2
    )
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_prefixes,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END) AS BIGINT)
             AS docs_in_shared,
           CAST(SUM((n_docs - 1) * k) AS BIGINT) AS tokens_saved,
           {R4('SUM((n_docs - 1) * k) * 1.0 / (SUM(n_docs) * k)')}
             AS savings_frac4
    FROM g GROUP BY k
    """,
    priority="P2",
    tags=("llm", "curation", "prefix-cache"),
)
def q_prefix_cache_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache (KV-cache prefix-sharing) savings planner: group
    documents by their first-k tokens for k = 4, 8, 16 and report how
    many prefill tokens a shared-prefix cache saves — (group−1)·k per
    shared group — as a count and a fraction of total prefix tokens.
    The capacity-planning query behind prompt caching and radix-tree
    inference schedulers: how much of this corpus's prefill is
    redundant at each depth? (The fixture's boilerplate/re-ingest dups
    give non-trivial sharing at every SF; savings decline with k, which
    the three depths exhibit.)

    Determinism: prefixes are exact string keys; every statistic is an
    exact integer; the fraction is one final division.

    Scale: one explode-free pass per k (the prefix is a slice+join of
    the token array — a per-row projection); the group-by carries
    (k, prefix) keys that map-side combine, and output is bounded by
    distinct prefixes."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    ks = t.sparkSession.createDataFrame([(k,) for k in _PFX_KS], "k int")
    pfx = (
        t.crossJoin(F.broadcast(ks))
        .where(F.size("toks") >= F.col("k"))
        .select(
            "k",
            F.array_join(F.slice("toks", 1, F.col("k")), " ").alias("prefix"),
        )
    )
    g = pfx.groupBy("k", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return g.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prefixes"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("docs_in_shared"),
        F.sum((F.col("n_docs") - 1) * F.col("k"))
        .cast("bigint")
        .alias("tokens_saved"),
        r4(
            F.sum((F.col("n_docs") - 1) * F.col("k"))
            * 1.0
            / (F.sum("n_docs") * F.first("k"))
        ).alias("savings_frac4"),
    )


_TCLOSE_M = 5       # ordered sensitive-attribute buckets
_TCLOSE_T = 0.2     # closeness threshold


@register(
    "q_t_closeness",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment,
             CAST(LEAST(4, GREATEST(0,
               FLOOR((c_acctbal + 1000.0) / 2200.0))) AS BIGINT) AS b
      FROM customer
    ), members AS (
      SELECT c_mktsegment AS group_id, b FROM base
      UNION ALL
      SELECT 'LEAK_planted' AS group_id, b FROM base WHERE b = 4
    ), grp AS (
      SELECT m.group_id, s.b,
             CAST(COUNT(CASE WHEN m.b = s.b THEN 1 END) AS BIGINT) AS c
      FROM members m
      CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {_TCLOSE_M - 1})) AS b) s
      GROUP BY 1, 2
    ), gdist AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS cg FROM base GROUP BY 1
    ), globd AS (
      SELECT s.b, COALESCE(g.cg, 0) AS cg,
             CAST(SUM(COALESCE(g.cg, 0))
                  OVER (ORDER BY s.b ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_g,
             CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_total
      FROM (SELECT UNNEST(GENERATE_SERIES(0, {_TCLOSE_M - 1})) AS b) s
      LEFT JOIN gdist g ON g.b = s.b
    ), walk AS (
      SELECT grp.group_id, grp.b,
             CAST(SUM(grp.c) OVER (PARTITION BY grp.group_id ORDER BY grp.b
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
             CAST(SUM(grp.c) OVER (PARTITION BY grp.group_id) AS BIGINT) AS n_g,
             gd.cum_g, gd.n_total
      FROM grp JOIN globd gd ON grp.b = gd.b
    )
    SELECT group_id, MIN(n_g) AS n,
           {R4(f'SUM(ABS(cum_c * n_total - cum_g * n_g))'
               f' / (({_TCLOSE_M} - 1.0) * MIN(n_g) * MIN(n_total))')} AS t4,
           {R4(f'SUM(ABS(cum_c * n_total - cum_g * n_g))'
               f' / (({_TCLOSE_M} - 1.0) * MIN(n_g) * MIN(n_total))')}
             > {_TCLOSE_T!r} AS violates
    FROM walk
    WHERE n_g > 0
    GROUP BY group_id
    """,
    priority="P2",
    tags=("llm", "curation", "governance", "privacy"),
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the privacy triad:
    `q_k_anonymity` bounds RE-IDENTIFICATION (class sizes),
    `q_l_diversity` bounds ATTRIBUTE DISCLOSURE BY UNIQUENESS
    (distinct sensitive values per class), but a class can pass both
    while its sensitive DISTRIBUTION still leaks (all distinct values
    drawn from the top of the range). t-closeness bounds the Earth
    Mover's Distance between each quasi-identifier class's sensitive
    distribution and the global one; for an ORDINAL attribute over m
    ordered buckets, EMD = (1/(m-1)) * sum_i |cumP_i - cumQ_i|.

    QI classes are the market segments (coarse on purpose: classes
    must be large enough that a SMALL class isn't what leaks — that
    failure mode is `q_k_anonymity`'s job); the sensitive attribute
    is the account balance in m = 5 fixed-width buckets. A planted 'LEAK_planted' class built from
    top-bucket customers only scores t ~ 0.6 (VIOLATES the 0.2 bound);
    organic classes mirror the global distribution (t near 0 — the
    honest negative) at every SF. The cumulative differences carry as
    exact cross-multiplied integers (cum_c*N - cum_G*n_g — no
    per-bucket division), so the sum is order-independent bigint
    arithmetic; one r4-rounded division at the end.

    Scale: one pass to the (class, bucket) grain (classes x 5 rows),
    a 5-row global spine broadcast onto it; the EMD walk is a window
    over 5-row frames. Billions of rows enter through the grain's
    partial-agg counts only."""
    base = (
        load(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            F.least(
                F.lit(4),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("c_acctbal") + 1000.0) / 2200.0),
                ),
            )
            .cast("bigint")
            .alias("b"),
        )
        .localCheckpoint(eager=False)  # members legs + global dist — one scan
    )
    members = base.select(
        F.col("c_mktsegment").alias("group_id"), "b"
    ).unionByName(
        base.where(F.col("b") == 4).select(
            F.lit("LEAK_planted").alias("group_id"), "b"
        )
    )
    spine = spark.range(_TCLOSE_M).select(F.col("id").cast("bigint").alias("b"))
    grp = (
        members.crossJoin(F.broadcast(spine.select(F.col("b").alias("sb"))))
        .groupBy("group_id", "sb")
        .agg(
            F.count(F.when(F.col("b") == F.col("sb"), 1))
            .cast("bigint")
            .alias("c")
        )
        .withColumnRenamed("sb", "b")
    )
    glob = base.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("cg"))
    n_total = base.count()
    w_g = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    globd = (
        spine.join(glob, "b", "left")
        .select("b", F.coalesce("cg", F.lit(0)).alias("cg"))
        .select(
            "b",
            F.sum("cg").over(w_g).cast("bigint").alias("cum_g"),
            F.lit(n_total).cast("bigint").alias("n_total"),
        )
    )
    w_c = (
        Window.partitionBy("group_id")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = (
        grp.join(F.broadcast(globd), "b")
        .select(
            "group_id",
            "b",
            F.sum("c").over(w_c).cast("bigint").alias("cum_c"),
            F.sum("c")
            .over(Window.partitionBy("group_id"))
            .cast("bigint")
            .alias("n_g"),
            "cum_g",
            "n_total",
        )
    )
    t4 = r4(
        F.sum(
            F.abs(
                F.col("cum_c") * F.col("n_total")
                - F.col("cum_g") * F.col("n_g")
            )
        )
        / ((_TCLOSE_M - 1.0) * F.min("n_g") * F.min("n_total"))
    )
    return (
        walk.where(F.col("n_g") > 0)
        .groupBy("group_id")
        .agg(
            F.min("n_g").alias("n"),
            t4.alias("t4"),
            (t4 > _TCLOSE_T).alias("violates"),
        )
    )


_CURR_T = 5  # curriculum checkpoints (competence c(t) = sqrt(t/T))


@register(
    "q_curriculum_competence",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS difficulty,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM documents
    ), ckpt AS (
      SELECT UNNEST(GENERATE_SERIES(1, {_CURR_T})) AS t
    ), eligible AS (
      SELECT c.t, r.difficulty, r.n
      FROM ranked r JOIN ckpt c
        ON r.rn * r.rn * {_CURR_T} <= c.t * r.n * r.n
    )
    SELECT t, CAST(COUNT(*) AS BIGINT) AS pool_n,
           {R4('COUNT(*) * 1.0 / MIN(n)')} AS pool_frac4,
           {R4('AVG(difficulty)')} AS mean_difficulty4,
           CAST(MAX(difficulty) AS BIGINT) AS hardest
    FROM eligible GROUP BY t
    """,
    priority="P2",
    tags=("llm", "curation", "curriculum"),
)
def q_curriculum_competence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competence-based curriculum schedule (Platanios et al., NAACL
    2019) — the training-order planner beside `q_anneal_mix` (which
    schedules SOURCE mix; this schedules DIFFICULTY): at checkpoint t
    of T the model's competence is c(t) = sqrt(t/T), and a document is
    eligible iff its corpus difficulty CDF <= c(t) — so the pool grows
    sqrt-fast, front-loading easy examples without ever re-shrinking.
    Difficulty proxy: n_chars (document length), the standard
    no-trainer-signal choice. Emits the per-checkpoint pool manifest:
    size, corpus fraction (tracks c(t) = 0.447, 0.632, ..., 1.0 —
    self-validating), mean and max eligible difficulty.

    The eligibility test is EXACT integer arithmetic: CDF(doc) <=
    sqrt(t/T) squares to rn^2 * T <= t * n^2 (rn = unique (n_chars,
    doc_id) rank) — no sqrt, no fp CDF, identical pools cross-engine
    by construction.

    Scale: the rank is the banded-window device (32 length bands,
    per-band windows + band-grain offsets — no global sort); the
    checkpoint spine is a 5-row broadcast; per-checkpoint stats
    map-side combine. A 100 TB corpus pays one banded rank pass, and
    the loader consumes (t, rn) as a sort key."""
    from modforms_db_spark.operators.banded import with_banded_order

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("difficulty")
    )
    ranked = with_banded_order(
        docs, "difficulty", ["doc_id"], rn_name="rn"
    )
    n_total = ranked.count()
    ckpt = spark.range(1, _CURR_T + 1).select(
        F.col("id").cast("bigint").alias("t")
    )
    eligible = ranked.crossJoin(F.broadcast(ckpt)).where(
        F.col("rn") * F.col("rn") * _CURR_T
        <= F.col("t") * F.lit(n_total).cast("bigint") * F.lit(n_total)
    )
    return eligible.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("pool_n"),
        r4(F.count(F.lit(1)) * 1.0 / n_total).alias("pool_frac4"),
        r4(F.avg("difficulty")).alias("mean_difficulty4"),
        F.max("difficulty").cast("bigint").alias("hardest"),
    )


_IPF_ROUNDS = 3


@register(
    "q_ipf_raking",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey AS i, c_mktsegment AS j,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(COUNT(DISTINCT i) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT j) AS BIGINT) AS n_cols
      FROM cells
    ), w0 AS (
      SELECT i, j, n, CAST(n AS DOUBLE) AS w FROM cells
    ),
    r1 AS (
      SELECT i, j, n,
             {R('w * (SELECT big_n * 1.0 / n_rows FROM tot)'
                ' / SUM(w) OVER (PARTITION BY i)', 10)} AS w
      FROM w0
    ), c1 AS (
      SELECT i, j, n,
             {R('w * (SELECT big_n * 1.0 / n_cols FROM tot)'
                ' / SUM(w) OVER (PARTITION BY j)', 10)} AS w
      FROM r1
    ),
    r2 AS (
      SELECT i, j, n,
             {R('w * (SELECT big_n * 1.0 / n_rows FROM tot)'
                ' / SUM(w) OVER (PARTITION BY i)', 10)} AS w
      FROM c1
    ), c2 AS (
      SELECT i, j, n,
             {R('w * (SELECT big_n * 1.0 / n_cols FROM tot)'
                ' / SUM(w) OVER (PARTITION BY j)', 10)} AS w
      FROM r2
    ),
    r3 AS (
      SELECT i, j, n,
             {R('w * (SELECT big_n * 1.0 / n_rows FROM tot)'
                ' / SUM(w) OVER (PARTITION BY i)', 10)} AS w
      FROM c2
    ), c3 AS (
      SELECT i, j, n,
             {R('w * (SELECT big_n * 1.0 / n_cols FROM tot)'
                ' / SUM(w) OVER (PARTITION BY j)', 10)} AS w
      FROM r3
    )
    SELECT i AS c_nationkey, j AS c_mktsegment, n,
           {R4('w / n')} AS rake_factor4,
           {R4('w')} AS w4
    FROM c3
    """,
    priority="P2",
    tags=("llm", "curation", "weighting"),
)
def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of the customer
    nation x segment contingency table to UNIFORM target margins —
    the survey-weighting / dataset-rebalancing primitive beside
    `q_importance_resample` (which reweights by a density ratio;
    raking solves for weights that hit MARGINAL totals exactly, the
    post-stratification every production panel/corpus balancer runs):
    {_IPF_ROUNDS} Sinkhorn-style rounds of alternating row- and
    column-scaling, each round's weights r10-rounded (the PageRank
    iteration discipline — both engines walk identical fixed points).
    Emits per-cell final weight and rake factor w/n (the
    design-effect input: extreme factors = variance blow-up).

    The margins after round 3 match the uniform targets to ~1e-3
    relative (law-testable: column margins are EXACT after a column
    step by construction; the residual row error is the
    convergence-rate witness).

    Scale: the state is the CELL GRAIN (|nations| x |segments| = 125
    rows), rebuilt once per round with partitioned window sums —
    the data-sized work is the single pass that builds the grain;
    at 100 TB that one groupBy is the whole cost."""
    cells = (
        load(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("i"), F.col("c_mktsegment").alias("j")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)  # grain reused across rounds + totals
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.countDistinct("i").cast("bigint").alias("n_rows"),
        F.countDistinct("j").cast("bigint").alias("n_cols"),
    ).collect()[0]
    row_target = tot.big_n * 1.0 / tot.n_rows
    col_target = tot.big_n * 1.0 / tot.n_cols
    w = cells.withColumn("w", F.col("n").cast("double"))
    wi = Window.partitionBy("i")
    wj = Window.partitionBy("j")
    for _ in range(_IPF_ROUNDS):
        w = w.withColumn(
            "w", F.round(F.col("w") * row_target / F.sum("w").over(wi), 10)
        )
        w = w.withColumn(
            "w", F.round(F.col("w") * col_target / F.sum("w").over(wj), 10)
        )
    return w.select(
        F.col("i").alias("c_nationkey"),
        F.col("j").alias("c_mktsegment"),
        "n",
        r4(F.col("w") / F.col("n")).alias("rake_factor4"),
        r4(F.col("w")).alias("w4"),
    )
