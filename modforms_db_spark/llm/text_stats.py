"""Text analysis operators — SURVEY.md §2.11: corpus profiling, quality
scoring, token counting, language ID, document fingerprinting, tf-idf.

All JVM-side (split/explode/agg/window + higher-order folds) — no Python
in the hot path. Each is linear with one or two shuffles on small keys;
the tf-idf and lang-ID top-k windows partition by lang (5 partitions here;
at 100 TB the same plan holds because the heavy explode side is combined
map-side before any shuffle).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at decoration

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load, spread
from modforms_db_spark.oracle_dialect import R, R4
from modforms_db_spark.parity import d38, r4
from modforms_db_spark.registry import register

_STOPWORDS = ("a", "the", "of", "and")
_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"
_FP_MOD = 1_000_000_007


@register(
    "q_text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    per_doc AS (SELECT doc_id, lang, len(toks) AS n_toks FROM t),
    vocab AS (
      SELECT lang, COUNT(DISTINCT tok) AS n_vocab, COUNT(*) AS total_toks
      FROM (SELECT lang, unnest(toks) AS tok FROM t) GROUP BY lang
    )
    SELECT p.lang,
           COUNT(*) AS n_docs,
           {R4('AVG(n_toks)')} AS avg_tokens,
           MIN(v.n_vocab) AS vocab,
           {R4('MIN(v.n_vocab) * 1.0 / MIN(v.total_toks)')} AS ttr
    FROM per_doc p JOIN vocab v ON p.lang = v.lang
    GROUP BY p.lang
    """,
    priority="P1",
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: doc count, mean token count, vocabulary
    size, type-token ratio."""
    # Single pass: one split/explode. A document's token at position 0
    # marks it once, so n_docs is a plain count of first tokens and the
    # only distinct aggregate is the vocabulary: a single distinct group
    # plans as two hash aggregates with no Expand. Two distinct groups
    # (COUNT DISTINCT doc_id and tok) plan an Expand ×3 whose column
    # order follows a hash of the groups' expression IDs, so a repeat
    # build could generate, and compile, different code for the same
    # query. AVG(n_toks) = total_toks / n_docs, both integer counts, so
    # the value is bit-identical to the oracle's per-doc average.
    d = load(spark, sf_dir, "documents")
    ex = d.select("lang", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    return (
        ex.groupBy("lang")
        .agg(
            F.count(F.when(F.col("pos") == 0, 1)).alias("n_docs"),
            F.count(F.lit(1)).alias("total_toks"),
            F.countDistinct("tok").alias("n_vocab"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(F.col("total_toks") / F.col("n_docs"), 4).alias(
                "avg_tokens"
            ),
            F.col("n_vocab").alias("vocab"),
            F.round(F.col("n_vocab") * F.lit(1.0) / F.col("total_toks"), 4).alias(
                "ttr"
            ),
        )
    )


@register(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)             AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)    AS uniq_tokens
    FROM documents
    """,
    priority="P1",
    tags=("llm", "text"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace split + BPE-ish regex tokenizer + distinct
    count (regex kept in the Java∩RE2 common subset)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0)).cast(
            "bigint"
        ).alias("re_tokens"),
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint").alias(
            "uniq_tokens"
        ),
    )


@register(
    "q_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_toks,
           {R4('(n_chars - len(toks) + 1) * 1.0 / len(toks)')} AS avg_tok_len,
           {R4(f'len(list_filter(toks, t -> list_contains({_STOP_SQL}, t))) * 1.0 / len(toks)')} AS stop_ratio,
           (len(toks) >= 10 AND len(toks) <= 1000) AS len_ok
    FROM t
    """,
    priority="P1",
    tags=("llm", "text", "quality"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: token count, mean token length (derived from
    n_chars so it cross-checks the metadata column), stopword ratio,
    length-window flag."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_toks"),
        F.round((F.col("n_chars") - n + 1) * F.lit(1.0) / n, 4).alias(
            "avg_tok_len"
        ),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
            * F.lit(1.0)
            / n,
            4,
        ).alias("stop_ratio"),
        ((n >= 10) & (n <= 1000)).alias("len_ok"),
    )


# Shared by q_lang_id and q_eval_confusion (the eval composes on the
# classifier's plan, so its oracle must share the classifier's CTEs —
# same anti-drift rule as _COSUPPLY_EDGES_SQL / the chunker snippet).
_LANG_ID_PREDS_CTES = """t AS (
      SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), tok_freq AS (
      SELECT lang, tok, COUNT(*) AS df FROM t GROUP BY lang, tok
    ), top_toks AS (
      SELECT lang AS model_lang, tok FROM (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY df DESC, tok) AS rn
        FROM tok_freq
      ) WHERE rn <= 20
    ), hits AS (
      SELECT t.doc_id, tt.model_lang, COUNT(*) AS hits
      FROM t JOIN top_toks tt ON t.tok = tt.tok
      GROUP BY t.doc_id, tt.model_lang
    ), preds AS (
      SELECT doc_id, model_lang AS pred_lang FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, model_lang) AS rn
        FROM hits
      ) WHERE rn = 1
    )"""


@register(
    "q_lang_id",
    oracle=f"""
    WITH {_LANG_ID_PREDS_CTES}
    SELECT doc_id, pred_lang FROM preds
    """,
    priority="P2",
    tags=("llm", "text", "langid"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by token-profile overlap: build a 20-token frequency
    profile per language from the corpus, score each document by overlap,
    argmax (ties → lexicographically smallest language). The n-gram-profile
    method at word granularity, fully relational."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    tok_freq = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("lang").orderBy(F.desc("df"), F.asc("tok"))
    top_toks = (
        tok_freq.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select(F.col("lang").alias("model_lang"), "tok")
    )
    hits = (
        toks.join(F.broadcast(top_toks), "tok")
        .groupBy("doc_id", "model_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    aw = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("model_lang"))
    return (
        hits.withColumn("rn", F.row_number().over(aw))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("model_lang").alias("pred_lang"))
    )


@register(
    "q_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, tok -> CAST(17 * length(tok) + ascii(substring(tok, 1, 1)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % {_FP_MOD}
           ) AS fp
    FROM t
    """,
    priority="P2",
    tags=("llm", "text", "fingerprint"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling polynomial fingerprint over the token stream
    (acc·31 + f(token) mod p) — document fingerprinting as an exact,
    oracle-checkable fold (both engines fold left in element order)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    vals = F.transform(
        toks,
        lambda tok: (17 * F.length(tok) + F.ascii(F.substring(tok, 1, 1))).cast(
            "bigint"
        ),
    )
    fp = F.aggregate(
        vals,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % F.lit(_FP_MOD),
    )
    return d.select("doc_id", fp.alias("fp"))


@register(
    "q_tfidf_topterms",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), n_docs AS (
      SELECT COUNT(DISTINCT doc_id) AS total FROM documents
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM t GROUP BY tok
    ), tf AS (
      SELECT lang, tok, COUNT(*) AS tf FROM t GROUP BY lang, tok
    ), scored AS (
      SELECT tf.lang, tf.tok,
             {R4('tf.tf * ln(CAST((SELECT total FROM n_docs) AS DOUBLE) / df.df)')} AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok
    )
    SELECT lang, tok, tfidf, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    priority="P2",
    tags=("llm", "text", "tfidf"),
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by tf-idf (tf = in-language doc frequency,
    idf = corpus-wide inverse doc frequency), deterministic term tiebreak."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    total = d.select(F.countDistinct("doc_id").alias("total"))
    df_ = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    tf = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "tok",
            F.round(
                F.col("tf")
                * F.log(F.col("total").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "tok", "tfidf", "rn")
    )


_BM25_EXPR = (
    "ln((CAST((SELECT n FROM stats) AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1)"
    " * (tf.tf * 2.2)"
    " / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (SELECT avgdl FROM stats)))"
)


@register(
    "q_bm25_topterms",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 30
    ), all_t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM all_t GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(DISTINCT doc_id) AS n,
             CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl
      FROM all_t
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM all_t GROUP BY tok
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY doc_id, tok
    ), scored AS (
      SELECT tf.doc_id, tf.tok,
             {R4(_BM25_EXPR)} AS bm25
      FROM tf JOIN df ON tf.tok = df.tok JOIN dl ON tf.doc_id = dl.doc_id
    )
    SELECT doc_id, tok, bm25, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    priority="P2",
    tags=("llm", "text", "bm25"),
)
def q_bm25_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75): top-3 terms per document for doc_id <
    30, corpus statistics (df, avgdl, N) computed over ALL documents.
    The retrieval-grade refinement of tf-idf: tf saturation (k1) and
    document-length normalization (b).

    Scale: df/avgdl/N are one linear agg pass each, broadcast to the
    scoring join; scoring shuffles on tok once. The doc_id < 30 slice
    bounds the t2 result, not the statistics.

    Measured note (r7, sf0.1, min-of-4): a shared (doc_id, tok, tf)
    grain feeding dl/stats/df — one explode instead of four — is
    SLOWER here both checkpointed (0.84 s) and via AQE exchange reuse
    (0.82 s) than the four independent single-shuffle legs (0.70 s):
    each leg is a map-side-collapsed partial agg straight off the
    scan, while the shared grain serializes into chained shuffles
    ((doc,tok) → by-tok and by-doc re-shuffles). At 100 TB the
    scan-count trade flips — the grain form is sketched in SCALE.md
    §6 with `partitionBy` reuse — but at bench scale the scan is not
    the bottleneck and four parallel legs win.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # r10 rework (guide §2.3/§2.4) — doc_id is UNIQUE in documents, so
    # two of the four r7 legs never needed their corpus explode at all:
    # - dl: COUNT(*) per doc over the exploded stream ≡ size(split(text))
    #   — a pure projection; the explode + doc_id shuffle are gone.
    # - stats: COUNT(DISTINCT doc_id) / COUNT(*) over the stream ≡
    #   COUNT(text) / SUM(size(...)) over documents — a narrow 1-row agg
    #   straight off the scan; the 4th corpus explode AND the mixed
    #   distinct-aggregate Expand (2× the token stream) are gone. The
    #   `where(text IS NOT NULL)` guards keep the doc set identical to
    #   the exploded form's (explode of split(NULL) emits nothing).
    # - df: per-token doc counts over a per-doc array_distinct'ed
    #   explode — plain partial-aggregable COUNT(*), no
    #   distinct-aggregate expand (the q_decontaminate §9 trick).
    # - tf: explodes only the doc_id < 30 slice (filter below the
    #   generate, pushed to the parquet scan).
    # Values are identical integers feeding identical double arithmetic
    # (frame-equal at 3 SFs + oracle hash). Measured 0.57/0.64 →
    # 0.39/0.43 s noop min/median-of-7 interleaved A/B at sf0.1;
    # 11 → 8 jobs/run.
    nn = d.where(F.col("text").isNotNull())
    dl = nn.select("doc_id", F.size(toks).cast("bigint").alias("dl"))
    stats = nn.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.size(toks)).cast("double") / F.count(F.lit(1))).alias(
            "avgdl"
        ),
    )
    df_ = (
        nn.select("doc_id", F.explode(F.array_distinct(toks)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    tf = (
        nn.where(F.col("doc_id") < 30)
        .select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    k1, b = F.lit(1.2), F.lit(0.75)
    scored = (
        tf.join(df_, "tok")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.log(
                    (F.col("n").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                4,
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "tok", "bm25", "rn")
    )


@register(
    "q_winnow",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               tok -> CAST(17 * length(tok) + ascii(substring(tok, 1, 1))
                           AS BIGINT)) AS vals
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(vals) - 2),
               i -> ((vals[i] * 131 + vals[i+1]) * 131 + vals[i+2])
                    % {_FP_MOD}) AS gh
      FROM t WHERE len(vals) >= 3
    )
    SELECT doc_id, unnest(fps) AS fp FROM (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(gh) - LEAST(4, len(gh)) + 1),
               j -> list_min(list_slice(gh, j,
                                        j + LEAST(4, len(gh)) - 1)))) AS fps
      FROM g
    )
    """,
    priority="P2",
    tags=("llm", "text", "fingerprint", "winnow"),
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD'03): hash
    every 3-token shingle, slide a w=4 window over the hash stream, keep
    each window's minimum, emit the distinct selected hashes per doc — the
    guarantee-bearing subset fingerprint (any shared run ≥ k+w-1 tokens
    shares a selected hash).

    Scale shape: entirely per-row array math (transform/slice/array_min)
    — ZERO shuffles to fingerprint, like `q_dedup_minhash_lsh`'s signature
    stage; only the exploded (doc, fp) output shuffles if joined later.
    """
    d = spread(load(spark, sf_dir, "documents"))
    vals = F.transform(
        F.split("text", " "),
        lambda tok: (17 * F.length(tok) + F.ascii(F.substring(tok, 1, 1))).cast(
            "bigint"
        ),
    )
    d = d.select("doc_id", vals.alias("vals")).where(F.size("vals") >= 3)
    gh = F.transform(
        F.sequence(F.lit(1), F.size("vals") - 2),
        lambda i: (
            (F.element_at("vals", i) * 131 + F.element_at("vals", i + 1)) * 131
            + F.element_at("vals", i + 2)
        )
        % F.lit(_FP_MOD),
    )
    d = d.select("doc_id", gh.alias("gh"))
    wl = F.least(F.lit(4), F.size("gh"))
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("gh") - wl + 1),
            lambda j: F.array_min(F.slice("gh", j, wl)),
        )
    )
    return d.select("doc_id", F.explode(sel).alias("fp"))


@register(
    "q_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT lang, tok, COUNT(*) AS n FROM tf GROUP BY lang, tok
    ), ranked AS (
      SELECT lang, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn,
             SUM(n) OVER (PARTITION BY lang ORDER BY n DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(n) OVER (PARTITION BY lang) AS total
      FROM freq
    )
    SELECT lang,
           CAST(MIN(rn) AS BIGINT) AS vocab_size,
           CAST(MIN_BY(cum, rn) AS BIGINT) AS covered_tokens,
           CAST(MIN(total) AS BIGINT) AS total_tokens,
           {R4('MIN_BY(cum, rn) * 1.0 / MIN(total)')} AS coverage
    FROM ranked
    WHERE cum >= 0.9 * total
    GROUP BY lang
    """,
    priority="P2",
    tags=("llm", "text", "vocab"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary budget: per language, the smallest frequency-ranked
    vocabulary covering ≥ 90% of token occurrences (the Zipf question a
    tokenizer budget starts from), with the exact coverage achieved.

    Scale: term frequencies are one explode + map-side-combined groupBy;
    the ranking window partitions by lang over the (already tiny)
    per-term counts — never the token stream.
    """
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wo = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    ranked = freq.select(
        "lang",
        "n",
        F.row_number().over(wo).alias("rn"),
        F.sum("n")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("n").over(Window.partitionBy("lang")).alias("total"),
    )
    return (
        ranked.where(F.col("cum") >= 0.9 * F.col("total"))
        .groupBy("lang")
        .agg(
            F.min("rn").cast("bigint").alias("vocab_size"),
            F.min_by("cum", "rn").cast("bigint").alias("covered_tokens"),
            F.min("total").cast("bigint").alias("total_tokens"),
            r4(F.min_by("cum", "rn") * 1.0 / F.min("total")).alias(
                "coverage"
            ),
        )
    )


@register(
    "q_bigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i])) AS w1,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i + 1])) AS w2
      FROM t WHERE len(toks) > 1
    ), big AS (
      SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY w1, w2
    ), uni AS (
      SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM big GROUP BY w1
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           {R4('AVG(ln(b.n12 * 1.0 / u.n1))')} AS avg_logprob
    FROM bg
    JOIN big b ON bg.w1 = b.w1 AND bg.w2 = b.w2
    JOIN uni u ON bg.w1 = u.w1
    GROUP BY bg.doc_id
    """,
    priority="P2",
    tags=("llm", "text", "language-model"),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language model scoring: P(w2|w1) = count(w1 w2) /
    count(w1 ·) estimated from the whole corpus, each document scored by
    its mean bigram log-probability — the statistical-LM fluency signal
    (low = improbable token transitions) quality pipelines use beside
    the rule-based `q_quality_score`.

    Scale: model = two aggregations over the exploded bigrams (map-side
    combined); scoring joins each doc's bigrams to the model on the
    bigram key — well-distributed, and at 100 TB you'd broadcast the
    top-M-pruned model instead of shuffle-joining the full one (the
    tail of the model barely moves scores).
    """
    d = spread(load(spark, sf_dir, "documents"))
    # Named token-array column: a split captured inside the lambda would
    # re-evaluate per bigram (O(tokens²); see pipeline._per_doc_bigram_counts).
    tk = d.select("doc_id", F.split("text", " ").alias("t"))
    bg = tk.where(F.size("t") > 1).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i).alias("w1"),
                    F.element_at(F.col("t"), i + 1).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    uni = big.groupBy("w1").agg(F.sum("n12").cast("bigint").alias("n1"))
    return (
        bg.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            r4(F.avg(F.log(F.col("n12") * 1.0 / F.col("n1")))).alias(
                "avg_logprob"
            ),
        )
    )


@register(
    "q_inverted_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    )
    SELECT lang, tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM toks
    GROUP BY lang, tok
    HAVING COUNT(*) >= 3
    """,
    priority="P2",
    tags=("llm", "text", "index", "retrieval"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the retrieval-side artifact `q_doc_chunks`
    feeds): per (lang, token) the document frequency and the SORTED
    posting list of doc_ids, restricted to tokens appearing in ≥ 3 docs
    (singleton/pair postings are the long tail a first-stage retriever
    prunes). Postings are emitted as a comma-joined STRING of
    numerically-sorted doc_ids — scalar output columns only, because the
    driver's canonicalizer sorts raw cells and crashes on array values
    (CORRECTNESS_r04.json: `unhashable type: numpy.ndarray`); the string
    form is equally deterministic and hash-comparable cross-engine.

    Scale: distinct-tokens projection is per-row (array_distinct before
    the explode, so each (doc, tok) ships once), then ONE shuffle on
    (lang, tok) builds df + postings together. The df ≥ 3 HAVING runs
    post-agg where it must (df isn't known scan-side). At 100 TB the
    only extra care is posting-list skew for stop-ish tokens — the same
    df-cap discipline as MinHash-LSH (SCALE.md §6) applies before
    collect_list, and postings page to fixed-size blocks."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    return (
        toks.groupBy("lang", "tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)),"
                " x -> cast(x as string)), ',')"
            ).alias("postings"),
        )
        .where(F.col("df") >= 3)
    )


_PMI_ORACLE = f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    nn AS (SELECT COUNT(*) AS n FROM tok),
    nt AS (SELECT term, COUNT(*) AS n_t FROM tok GROUP BY term),
    ns AS (SELECT source, COUNT(*) AS n_s FROM tok GROUP BY source),
    nts AS (SELECT term, source, COUNT(*) AS n_ts FROM tok GROUP BY term, source),
    scored AS (
      SELECT nts.source, nts.term, nts.n_ts,
             {R4('LN((CAST(n_ts AS DOUBLE) * nn.n) / (CAST(n_t AS DOUBLE) * n_s))')} AS pmi
      FROM nts JOIN nt USING (term) JOIN ns USING (source) CROSS JOIN nn
      WHERE nts.n_ts >= 5
    )
    SELECT source, term, n_ts, pmi, rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY pmi DESC, term
      ) AS rk
      FROM scored
    ) WHERE rk <= 3
"""


@register(
    "q_term_pmi",
    oracle=_PMI_ORACLE,
    priority="P2",
    tags=("llm", "text", "pmi"),
)
def q_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 source-distinctive terms by pointwise mutual information
    PMI(term, source) = ln(p(t,s)/(p(t)·p(s))) over distinct doc-term
    incidences (min support 5) — the domain-signature profiler used to
    spot corpus contamination and source drift. Ranking on the ROUNDED
    PMI with term tiebreak keeps top-3 engine-exact.

    Scale: all four count legs are partial-agg shuffles off ONE shared
    tokenization; the per-term and per-source marginals join back on
    their own keys; N rides a 1-row broadcast cross join. No pair
    explosion anywhere — cost is O(distinct (term,source))."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    # ONE tokenization pass: the (term, source) joint counts are the
    # finest grain, so all three marginals (per-term, per-source, grand
    # total) derive from the checkpointed nts by summation — without
    # this each marginal re-runs the corpus explode (4 fact scans).
    nts = (
        tok.groupBy("term", "source")
        .agg(F.count(F.lit(1)).alias("n_ts"))
        .localCheckpoint(eager=False)
    )
    nn = nts.agg(F.sum("n_ts").alias("n"))
    nt = nts.groupBy("term").agg(F.sum("n_ts").alias("n_t"))
    ns = nts.groupBy("source").agg(F.sum("n_ts").alias("n_s"))
    scored = (
        nts.where(F.col("n_ts") >= 5)
        .join(nt, "term")
        .join(ns, "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "term",
            "n_ts",
            r4(
                F.log(
                    (F.col("n_ts").cast("double") * F.col("n"))
                    / (F.col("n_t").cast("double") * F.col("n_s"))
                )
            ).alias("pmi"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("pmi"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("source", "term", "n_ts", "pmi", "rk")
    )


@register(
    "q_token_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY source, tok
    ), tots AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS nt, COUNT(*) AS vocab FROM tf GROUP BY source
    )
    SELECT tf.source, tots.vocab, tots.nt AS n_tokens,
           {R4('LN(CAST(tots.nt AS DOUBLE)) - SUM(n * LN(CAST(n AS DOUBLE))) / tots.nt')} AS entropy
    FROM tf JOIN tots USING (source)
    GROUP BY tf.source, tots.vocab, tots.nt
    """,
    priority="P2",
    tags=("llm", "text", "entropy"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon token entropy per source, H = ln N − (Σ n·ln n)/N over
    the source's token-frequency table — the lexical-diversity /
    degenerate-text screen (spam and template farms sit far below
    natural text). The ln-N-minus-integer-moment form keeps every
    aggregate input an exact-integer-derived double, the same
    order-exactness trick as the rolling-z integer moments.

    Scale: tokenize → (source, tok) partial-agg shuffle →
    source-grain combine; entropy runs on the frequency table, never
    the corpus. Vocabulary per source bounds state; no pairs, no
    windows."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # totals AND the entropy agg read it
    )
    tots = tf.groupBy("source").agg(
        F.sum("n").alias("nt"), F.count(F.lit(1)).alias("vocab")
    )
    nd = F.col("nt").cast("double")
    return (
        tf.join(F.broadcast(tots), "source")
        .groupBy("source", "vocab", F.col("nt").alias("n_tokens"))
        .agg(
            r4(
                F.log(nd)
                - F.sum(F.col("n") * F.log(F.col("n").cast("double"))) / nd
            ).alias("entropy")
        )
    )


_CMS_W = 256  # buckets per hash row
_CMS_ROWS = ((1, 0), (977, 13), (3191, 29), (7817, 101))  # (a_j, b_j)

_CMS_TOKF_SQL = f"""(
      (1315423911 * length(tok)
       + 961 * ascii(substring(tok, 1, 1))
       + 31 * ascii(substring(tok, greatest(1, (length(tok) + 1) // 2), 1))
       + ascii(substring(tok, length(tok), 1))) % {_FP_MOD}
    )"""

_CMS_ORACLE = f"""
    WITH tf AS (
      SELECT tok, COUNT(*) AS n, {_CMS_TOKF_SQL} AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY tok
    ), cms AS (
      SELECT j, ((a * f + b) % {_FP_MOD}) % {_CMS_W} AS bucket,
             CAST(SUM(n) AS BIGINT) AS cnt
      FROM tf CROSS JOIN (VALUES
        {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_ROWS))}
      ) h(j, a, b)
      GROUP BY 1, 2
    ), top AS (
      SELECT tok, n, f FROM (
        SELECT *, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM tf
      ) WHERE rk <= 10
    )
    SELECT t.tok, t.n AS true_n, MIN(c.cnt) AS est_n,
           MIN(c.cnt) - t.n AS overcount
    FROM top t
    JOIN (VALUES
      {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_ROWS))}
    ) h(j, a, b) ON TRUE
    JOIN cms c ON c.j = h.j AND c.bucket = ((h.a * t.f + h.b) % {_FP_MOD}) % {_CMS_W}
    GROUP BY t.tok, t.n
"""


@register(
    "q_count_min",
    oracle=_CMS_ORACLE,
    priority="P2",
    tags=("llm", "sketch", "count-min"),
)
def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (4 rows × 256 buckets, fixed universal-hash
    constants) over the token stream, audited against truth: the top-10
    exact heavy hitters joined with their CMS estimates and overcount
    (≥ 0 by the CMS one-sided guarantee — the oracle re-derives the
    sketch, so a hash-row bug, a min over the wrong axis, or an
    undercount all fail the hash). Integer token hash shared with
    `q_fingerprint`'s char-arithmetic family ⇒ fully SQL-expressible.

    Scale: the sketch is built from the TOKEN-GRAIN aggregate (vocab
    rows), not the raw stream — the 4× row explode costs O(4·vocab),
    then collapses to a FIXED 1024-cell table regardless of corpus
    size; that constant-size property (mergeable across shards by cell
    sum) is the whole point of CMS at 100 TB. Heavy-hitter probe is a
    broadcast join against the 1024 cells."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    L = F.length("tok")
    fexpr = (
        (
            F.lit(1315423911).cast("bigint") * L
            + 961 * F.ascii(F.substring(F.col("tok"), 1, 1))
            + 31
            * F.ascii(
                F.expr("substring(tok, greatest(1, (length(tok) + 1) div 2), 1)")
            )
            + F.ascii(F.expr("substring(tok, length(tok), 1)"))
        )
        % _FP_MOD
    ).cast("bigint")
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).withColumn("f", fexpr)
    rows = spark.createDataFrame(
        [(j, a, b) for j, (a, b) in enumerate(_CMS_ROWS)], "j INT, a INT, b INT"
    )
    cms = (
        tf.crossJoin(F.broadcast(rows))
        .groupBy(
            "j",
            ((F.col("a") * F.col("f") + F.col("b")) % _FP_MOD % _CMS_W).alias(
                "bucket"
            ),
        )
        .agg(F.sum("n").alias("cnt"))
    )
    # TakeOrdered top-10 (orderBy+limit), not a single-partition window
    # over the whole vocab table.
    top = tf.orderBy(F.desc("n"), "tok").limit(10)
    probe = top.crossJoin(F.broadcast(rows)).withColumn(
        "bucket", (F.col("a") * F.col("f") + F.col("b")) % _FP_MOD % _CMS_W
    )
    return (
        probe.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("tok", F.col("n").alias("true_n"))
        .agg(F.min("cnt").alias("est_n"))
        .select(
            "tok",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).alias("overcount"),
        )
    )


_RRF_K = 60
_RRF_TOPN = 50


_RRF_ORACLE = f"""
    WITH q AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS df,
               row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
        FROM (
          SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents
        ) GROUP BY tok
      ) WHERE rk <= 3
    ), overlap AS (
      SELECT d.doc_id, COUNT(DISTINCT t.tok) AS hits
      FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) t
      JOIN q ON t.tok = q.tok
      JOIN documents d ON d.doc_id = t.doc_id
      GROUP BY d.doc_id
    ), ra AS (
      SELECT doc_id, row_number() OVER (ORDER BY hits DESC, doc_id) AS r
      FROM overlap QUALIFY r <= {_RRF_TOPN}
    ), rb AS (
      SELECT doc_id, row_number() OVER (ORDER BY ABS(n_chars - 500), doc_id) AS r
      FROM documents QUALIFY r <= {_RRF_TOPN}
    ), fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             {R(f'COALESCE(1.0 / ({_RRF_K} + ra.r), 0) + COALESCE(1.0 / ({_RRF_K} + rb.r), 0)', 6)} AS rrf,
             ra.r IS NOT NULL AS in_a,
             rb.r IS NOT NULL AS in_b
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT doc_id, rrf, in_a, in_b, rk FROM (
      SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk FROM fused
    ) WHERE rk <= 10
"""


@register(
    "q_rank_fusion",
    oracle=_RRF_ORACLE,
    priority="P2",
    tags=("llm", "retrieval", "rrf"),
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrieval rankings — the
    standard hybrid-search combiner (lexical ∪ semantic): ranking A is
    query-token overlap (query = the corpus's own top-3 df tokens, so
    the row is self-contained), ranking B a length-target proximity
    signal; each contributes 1/(k+rank) over its TOP-{_RRF_TOPN} list
    only, docs outside a list contribute 0 from it — the real RRF
    contract (fuse top-k lists, never full-corpus ranks).

    Scale: each leg ends in a TakeOrdered top-{_RRF_TOPN}; the fusion
    join and final top-10 run on ≤2·{_RRF_TOPN} rows. The corpus-sized
    work is the overlap aggregate (one explode + broadcast of 3 query
    tokens); ranks are never materialized beyond the lists."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    q = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "tok")
        .limit(3)
        .select("tok")
    )
    overlap = (
        tok.join(F.broadcast(q), "tok")
        .groupBy("doc_id")
        .agg(F.count_distinct("tok").alias("hits"))
    )
    top_a = overlap.orderBy(F.desc("hits"), "doc_id").limit(_RRF_TOPN)
    top_b = d.select("doc_id", F.abs(F.col("n_chars") - 500).alias("dist")).orderBy(
        "dist", "doc_id"
    ).limit(_RRF_TOPN)
    ra = top_a.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("hits"), "doc_id")).alias("r_a"),
    )
    rb = top_b.select(
        "doc_id",
        F.row_number().over(Window.orderBy("dist", "doc_id")).alias("r_b"),
    )
    fused = (
        ra.join(rb, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("r_a")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("r_b")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            F.col("r_a").isNotNull().alias("in_a"),
            F.col("r_b").isNotNull().alias("in_b"),
        )
    )
    top = fused.orderBy(F.desc("rrf"), "doc_id").limit(10)
    return top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rrf"), "doc_id"))
    )


@register(
    "q_compression_ratio",
    oracle=None,  # zlib is not expressible in the oracle engine; laws
    # (determinism, repetition ⇒ smaller ratio) are unit-tested instead
    priority="P3",
    tags=("llm", "quality", "compression"),
)
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio (compressed bytes / raw
    bytes, level 6) — the classic cheap quality/degeneracy signal:
    template farms and repeated boilerplate compress far below natural
    text, random noise sits near 1. Computed in an Arrow-batched
    pandas UDF (deflate is pure CPU over local bytes — exactly the
    work that belongs in a vectorized Python stage when the engine has
    no native codec expression).

    Scale: map-only — no shuffle, no state; ratio rides the scan and
    the downstream filter (`ratio < τ` → drop) pushes into the same
    stage. Deterministic: zlib output is fixed for (bytes, level), so
    the column is stable across partitionings and retries."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def zratio(texts: pd.Series) -> pd.Series:
        import zlib

        def one(t: str) -> float:
            raw = (t or "").encode("utf-8")
            if not raw:
                return 1.0
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(one)

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_text"),
        zratio(F.col("text")).alias("ratio"),
    )


@register(
    "q_unicode_normalize",
    oracle="""
    WITH decomposed AS (
      SELECT doc_id,
             replace(text, 'e', 'e' || chr(769)) AS txt
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id,
           CAST(length(txt) AS BIGINT) AS len_decomposed,
           CAST(length(nfc_normalize(txt)) AS BIGINT) AS len_nfc,
           sha256(nfc_normalize(txt)) AS nfc_sha
    FROM decomposed
    """,
    priority="P2",
    tags=("llm", "text", "unicode"),
)
def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization — the dedup prerequisite for any
    multi-source corpus: visually identical strings with different
    codepoint sequences ('é' vs 'e'+COMBINING ACUTE) hash differently
    until normalized, so exact-dedup silently misses cross-source
    duplicates. A decomposed variant is synthesized deterministically
    (every 'e' gains U+0301), normalized back with NFC, and the
    post-NFC sha256 is hash-matched against DuckDB's independent
    `nfc_normalize` — two unrelated Unicode implementations (Python
    `unicodedata` / utf8proc) agreeing on composition is the check.

    Scale: map-only — normalization is a per-row pandas-UDF pass
    (Spark exposes no NFC builtin; the Arrow batch path keeps it
    vectorized-ish), hashing stays JVM-side. In a production dedup this
    runs once in the canonicalization stage before `q_dedup_exact`'s
    hash — linear, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(texts: pd.Series) -> pd.Series:
        import unicodedata

        return texts.map(lambda t: unicodedata.normalize("NFC", t or ""))

    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    decomposed = d.select(
        "doc_id",
        F.replace(F.col("text"), F.lit("e"), F.lit("e\u0301")).alias("txt"),
    )
    return decomposed.select(
        "doc_id",
        F.length("txt").cast("bigint").alias("len_decomposed"),
        F.length(nfc(F.col("txt"))).cast("bigint").alias("len_nfc"),
        F.sha2(nfc(F.col("txt")), 256).alias("nfc_sha"),
    )


_NB_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT lang, tok, COUNT(*) AS n FROM tok GROUP BY lang, tok
    ), totals AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS nt FROM tf GROUP BY lang
    ), vocab AS (
      SELECT COUNT(DISTINCT tok) AS v FROM tf
    ), priors AS (
      SELECT lang, COUNT(*) AS nd FROM documents GROUP BY lang
    ), nd_all AS (
      SELECT CAST(SUM(nd) AS BIGINT) AS total FROM priors
    ), scores AS (
      SELECT t.doc_id, m.lang AS model_lang,
             {R(
                 '''LN(CAST(p.nd AS DOUBLE) / a.total)
                  + SUM(LN((COALESCE(tf.n, 0) + 1.0) / (m.nt + v.v)))''',
                 6,
             )} AS loglik
      FROM tok t
      CROSS JOIN totals m
      JOIN priors p ON p.lang = m.lang
      CROSS JOIN nd_all a
      CROSS JOIN vocab v
      LEFT JOIN tf ON tf.lang = m.lang AND tf.tok = t.tok
      GROUP BY t.doc_id, m.lang, p.nd, a.total, m.nt, v.v
    )
    SELECT doc_id, model_lang AS pred_lang, loglik FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY loglik DESC, model_lang
      ) AS rn
      FROM scores
    ) WHERE rn = 1
"""


@register(
    "q_naive_bayes",
    oracle=_NB_ORACLE,
    priority="P2",
    tags=("llm", "text", "classify", "bayes"),
)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and applied
    in one relational plan: per-lang token likelihoods with Laplace
    smoothing (+1 / (n_lang + |V|)), doc-level log-likelihood as a SUM
    over token positions, argmax with (score, lang) tiebreak — the
    classical supervised-text baseline (`q_lang_id` is the heuristic
    profile version; this is the probabilistic one). The per-doc log
    sums are r6-rounded so the argmax compares identical doubles
    cross-engine.

    Scale: the model IS two aggregates (per-(lang, tok) counts + per-
    lang totals), both partial-agg shuffles; scoring joins each token
    occurrence against the |langs|-wide model — at 100 TB the model
    table broadcasts (vocab × langs counts) and scoring is map-side.
    The token⋈model join here is the LEFT JOIN giving smoothed zeros
    for unseen (lang, tok) pairs — the part naive implementations get
    wrong by dropping them."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    tf = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    totals = tf.groupBy("lang").agg(F.sum("n").alias("nt"))
    vocab = tf.agg(F.count_distinct("tok").alias("v"))
    # priors from the doc-grain table directly — a tok-based
    # count_distinct would re-explode the whole corpus a third time
    priors = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    nd_all = priors.agg(F.sum("nd").alias("total"))
    m = totals.withColumnRenamed("lang", "model_lang")
    tfm = tf.select(
        F.col("lang").alias("ml2"), F.col("tok").alias("mtok"), "n"
    )
    scores = (
        tok.crossJoin(F.broadcast(m))
        .join(
            F.broadcast(tfm),
            (F.col("model_lang") == F.col("ml2")) & (F.col("tok") == F.col("mtok")),
            "left",
        )
        .drop("ml2")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "model_lang", "nt", "v")
        .agg(
            F.sum(
                F.log((F.coalesce(F.col("n"), F.lit(0)) + 1.0) / (F.col("nt") + F.col("v")))
            ).alias("tok_ll")
        )
        .join(F.broadcast(priors.withColumnRenamed("lang", "model_lang")), "model_lang")
        .crossJoin(F.broadcast(nd_all))
        .select(
            "doc_id",
            "model_lang",
            F.round(
                F.log(F.col("nd").cast("double") / F.col("total")) + F.col("tok_ll"), 6
            ).alias("loglik"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("loglik"), "model_lang")
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("model_lang").alias("pred_lang"), "loglik")
    )


_CONFUSION_ORACLE = f"""
    WITH {_LANG_ID_PREDS_CTES}, joined AS (
      SELECT d.lang AS true_lang, p.pred_lang
      FROM documents d JOIN preds p USING (doc_id)
    ), cells AS (
      SELECT true_lang, pred_lang, COUNT(*) AS n FROM joined GROUP BY 1, 2
    ), per_class AS (
      SELECT true_lang AS lang,
             CAST(SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(n) AS BIGINT) AS n_true
      FROM cells GROUP BY true_lang
    ), per_pred AS (
      SELECT pred_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_pred FROM cells GROUP BY pred_lang
    )
    SELECT c.lang, c.tp, c.n_true, COALESCE(p.n_pred, 0) AS n_pred,
           {R4('CAST(c.tp AS DOUBLE) / NULLIF(p.n_pred, 0)')} AS precision,
           {R4('CAST(c.tp AS DOUBLE) / c.n_true')} AS recall
    FROM per_class c LEFT JOIN per_pred p USING (lang)
"""


@register(
    "q_eval_confusion",
    oracle=_CONFUSION_ORACLE,
    priority="P2",
    tags=("llm", "eval", "confusion"),
)
def q_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation: per-class precision/recall of the
    `q_lang_id` token-profile classifier against the true labels —
    the confusion-matrix rollup every model-quality dashboard needs,
    here composed ON TOP of another registered operator (the preds
    feed straight from q_lang_id's plan) so evaluation is an engine
    query, not a post-hoc script. NULL precision where a class is
    never predicted (0/0), the honest convention.

    Scale: the eval adds one doc-grain join + two #classes-sized
    aggregates to whatever the classifier costs — evaluation rides
    the same plan, amortizing the corpus scan."""
    preds = q_lang_id(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", F.col("lang").alias("true_lang"))
    cells = (
        d.join(preds, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # both marginals read the cells
    )
    per_class = cells.groupBy(F.col("true_lang").alias("lang")).agg(
        F.sum(F.when(F.col("true_lang") == F.col("pred_lang"), F.col("n")).otherwise(0)).alias("tp"),
        F.sum("n").alias("n_true"),
    )
    per_pred = cells.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n").alias("n_pred")
    )
    return (
        per_class.join(per_pred, "lang", "left")
        .select(
            "lang",
            "tp",
            "n_true",
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            r4(F.col("tp").cast("double") / F.nullif(F.col("n_pred"), F.lit(0))).alias("precision"),
            r4(F.col("tp").cast("double") / F.col("n_true")).alias("recall"),
        )
    )


_COLLOC_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), bg AS (
      SELECT tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM t
    ), pairs AS (
      SELECT w1, w2, COUNT(*) AS n FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2
    ), uni AS (
      SELECT w1 AS w, CAST(SUM(n) AS BIGINT) AS nw FROM pairs GROUP BY w1
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn FROM pairs
    ), scored AS (
      SELECT p.w1, p.w2, p.n,
             {R4('LN((CAST(p.n AS DOUBLE) * t.nn) / (CAST(u1.nw AS DOUBLE) * u2.nw))')} AS pmi
      FROM pairs p
      JOIN uni u1 ON p.w1 = u1.w
      JOIN uni u2 ON p.w2 = u2.w
      CROSS JOIN tot t
      WHERE p.n >= 5
    )
    SELECT w1, w2, n, pmi, rk FROM (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk FROM scored
    ) WHERE rk <= 15
"""


@register(
    "q_collocations",
    oracle=_COLLOC_ORACLE,
    priority="P2",
    tags=("llm", "text", "collocation"),
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-15 adjacent word pairs by pointwise
    mutual information over the bigram stream (min support 5, first-word
    marginals as left-position counts) — the phrase-mining step that
    feeds tokenizer merge rules and stopphrase lists; `q_term_pmi`
    associates terms with SOURCES, this associates terms with EACH
    OTHER. Deterministic: integer counts, one r4-rounded PMI, rank
    tiebroken on the pair.

    Scale: bigrams come from a posexplode + lead window partitioned by
    doc (heavy side, map-side combined into pair counts); marginals
    and the total DERIVE from the checkpointed pair table — one corpus
    pass total, same discipline as `q_term_pmi`. Top-15 is TakeOrdered."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        t.withColumn("w2", F.lead("tok").over(wd))
        .where(F.col("w2").isNotNull())
        .groupBy(F.col("tok").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # marginals + total + scoring read it
    )
    uni = pairs.groupBy(F.col("w1").alias("w")).agg(F.sum("n").alias("nw"))
    tot = pairs.agg(F.sum("n").alias("nn"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("nw").alias("nw1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("nw").alias("nw2"))
    scored = (
        pairs.where(F.col("n") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n",
            r4(
                F.log(
                    (F.col("n").cast("double") * F.col("nn"))
                    / (F.col("nw1").cast("double") * F.col("nw2"))
                )
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), "w1", "w2").limit(15)
    return top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("pmi"), "w1", "w2"))
    )


@register(
    "q_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok GROUP BY lang, tok
    ), ranked AS (
      SELECT lang, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
      FROM freq
    ), pts AS (
      SELECT lang, ln(rk) AS x, ln(n) AS y FROM ranked
    ), s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_types,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
      FROM pts GROUP BY lang
    )
    SELECT lang, n_types,
           {R4('(n_types * sxy - sx * sy) / (n_types * sxx - sx * sx)')} AS slope,
           {R4('(sy - (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx) * sx) / n_types')} AS intercept
    FROM s
    """,
    priority="P2",
    tags=("llm", "text", "zipf", "banded"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: rank the vocabulary by frequency and
    OLS-fit ln(freq) on ln(rank) — the slope (~−1 for natural text) is
    the classic sanity check that a corpus hasn't degenerated into
    boilerplate (too steep) or synthetic noise (too flat), and the
    per-language comparison flags domains whose token distribution
    diverges before they poison a training mix.

    Scale: frequencies are one explode → partial-agg shuffle to (lang,
    token) grain; the VOCABULARY rank uses `operators.banded`
    (`with_banded_order` grouped by lang) — exact global row numbers
    without serializing a web-scale vocabulary (10⁸+ types) through one
    task, the same machinery as the `_scaled` twins. The OLS reduces to
    five sums per language; the ln() points never materialize beyond
    the agg."""
    from modforms_db_spark.operators.banded import with_banded_order

    # spread(): the token explode must not inherit a few-split input's
    # parallelism (see io.spread / §6 measured note).
    d = spread(load(spark, sf_dir, "documents"))
    freq = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Band on ln(n), not n: frequency is Zipf-distributed, so equal-width
    # bands in VALUE space would dump nearly the whole vocabulary (every
    # type with n ≤ max/32) into one band and re-serialize the rank the
    # banding exists to parallelize. ln(n) is order-preserving (rank
    # unchanged) and spreads the head across bands; the hapax/low-count
    # tail still dominates one log-band at web scale, so the true 10⁸-type
    # form would feed rank-space cutpoints (frequency-histogram prefix
    # sums — the band boundaries don't affect correctness, only balance)
    # into the same shape.
    ranked = with_banded_order(
        freq.withColumn("log_n", F.log("n")),
        "log_n",
        ["tok"],
        descending=True,
        group_cols=["lang"],
        rn_name="rk",
    )
    pts = ranked.select(
        "lang", F.log(F.col("rk")).alias("x"), F.log(F.col("n")).alias("y")
    )
    s = pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n_types") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n_types") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "lang",
        "n_types",
        r4(slope).alias("slope"),
        r4((F.col("sy") - slope * F.col("sx")) / F.col("n_types")).alias(
            "intercept"
        ),
    )


@register(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re
      FROM documents
    ), f AS (
      SELECT lang, ws, re, re * 1.0 / ws AS fert FROM per_doc WHERE ws > 0
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {R4('AVG(fert)')} AS mean_fertility,
           {R4('quantile_cont(fert, 0.5)')} AS p50_fertility,
           {R4('quantile_cont(fert, 0.9)')} AS p90_fertility
    FROM f GROUP BY lang
    """,
    priority="P2",
    tags=("llm", "text", "tokenizer"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: subword-ish tokens per
    whitespace word (the BPE-ish regex tokenizer vs the whitespace
    split, both already pinned cross-engine by `q_token_count`),
    reported as mean/p50/p90 per lang — the standard tokenizer-equity
    metric (a language with 2× fertility pays 2× context length for the
    same text, and a data card reports exactly this distribution).

    Scale: per-doc arithmetic is map-only; the per-lang summary is one
    partial-agg pass plus exact per-group percentiles (group sort —
    swap for the GK sketch path at 100 TB, `q_agg_approx_percentile`)."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("ws"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0))
        .cast("bigint")
        .alias("re"),
    ).where(F.col("ws") > 0)
    f = per_doc.withColumn("fert", F.col("re") * 1.0 / F.col("ws"))
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        r4(F.avg("fert")).alias("mean_fertility"),
        r4(F.percentile("fert", F.lit(0.5))).alias("p50_fertility"),
        r4(F.percentile("fert", F.lit(0.9))).alias("p90_fertility"),
    )


_XLING_N = 5  # shingle width for cross-lingual overlap


@register(
    "q_cross_lingual_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT lang,
             unnest(list_transform(
               generate_series(1, len(t) - {_XLING_N - 1}),
               i -> array_to_string(t[i:i+{_XLING_N - 1}], ' '))) AS shingle
      FROM toks WHERE len(t) >= {_XLING_N}
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang < b.lang
    GROUP BY a.lang, b.lang
    """,
    priority="P2",
    tags=("llm", "text", "contamination", "cross-lingual"),
)
def q_cross_lingual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual passage overlap: for every language pair, how many
    distinct 5-token shingles appear in BOTH languages'
    documents — the detector for mislabeled language splits, copied
    boilerplate, and translationese leaking across a supposedly
    language-partitioned corpus (a nonzero en↔zh 5-gram overlap is
    almost always a labeling bug worth auditing).

    Scale: the join runs on the DISTINCT (lang, shingle) grain, so a
    shingle's fan-out is bounded by #langs² (≤ 25 here) regardless of
    how many documents repeat it — boilerplate cannot blow up the
    pair join the way a raw (doc, shingle) self-join would; the pair
    aggregate is #lang² rows."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select("lang", F.split("text", " ").alias("t"))
    sh = (
        toks.where(F.size("t") >= _XLING_N)
        .select(
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_XLING_N - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, _XLING_N)),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    b = sh.select(F.col("lang").alias("lang_b"), "shingle")
    return (
        sh.select(F.col("lang").alias("lang_a"), "shingle")
        .join(b, "shingle")
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


# Shared shingle -> first-seen derivation for the novelty/saturation pair
# (one definition on each side so shingle width / guards cannot drift
# between the two "companion" operators — the _doc_shingles discipline).
_FIRST_SEEN_SQL = """toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, len(t) - 4),
               i -> array_to_string(t[i:i+4], ' '))) AS shingle
      FROM toks WHERE len(t) >= 5
    ), first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )"""


def _shingle_first_seen(spark, sf_dir):
    """(sh, first_seen) DataFrames: the distinct (doc, shingle) grain —
    CHECKPOINTED, because both consumers fan two computations out of it
    (first-seen agg + join-back / bucket histogram) and without the
    checkpoint the tokenize+explode+distinct would run once per branch
    (round-4 review finding: 2 FileScans, 0 ReusedExchange)."""
    from modforms_db_spark.llm.pipeline import _doc_shingles

    d = spread(load(spark, sf_dir, "documents"))
    sh = (
        _doc_shingles(d.select("doc_id", F.split("text", " ").alias("t")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return sh, first_seen


@register(
    "q_ngram_novelty",
    oracle=f"""
    WITH {_FIRST_SEEN_SQL}
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           {R4('SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) * 1.0 / COUNT(*)')}
             AS novelty
    FROM sh s JOIN first_seen f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    """,
    priority="P2",
    tags=("llm", "text", "novelty", "dedup"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram NOVELTY curve: per document (doc_id = ingestion order),
    the fraction of its distinct 5-token shingles never seen in any
    earlier document — the diversity-over-time diagnostic that shows a
    crawl going stale (novelty decays toward 0 as the frontier
    re-visits boilerplate) and the quantity deduped-corpus audits
    plot before deciding how much more data is worth ingesting.

    Scale: one distinct (doc, shingle) projection; first-seen is a
    min-aggregate keyed on shingle (partial-agg combines map-side);
    the join back is shingle-keyed against that same grain and the
    final agg returns to doc grain. No pass is quadratic, nothing
    compares doc PAIRS — global first-seen replaces the all-pairs
    overlap question entirely."""
    sh, first_seen = _shingle_first_seen(spark, sf_dir)
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("bigint")
            .alias("n_new"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_new",
            r4(F.col("n_new") * 1.0 / F.col("n_shingles")).alias("novelty"),
        )
    )


_SAT_BUCKET = 50  # docs per ingestion bucket for the saturation curve


@register(
    "q_corpus_saturation",
    oracle=f"""
    WITH {_FIRST_SEEN_SQL}, per_bucket AS (
      SELECT CAST(first_doc // {_SAT_BUCKET} AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY 1
    ), spine AS (
      SELECT unnest(generate_series(0, (SELECT MAX(bucket) FROM per_bucket)))
        AS bucket
    ), dense AS (
      SELECT s.bucket, CAST(COALESCE(p.n_new, 0) AS BIGINT) AS n_new
      FROM spine s LEFT JOIN per_bucket p ON s.bucket = p.bucket
    )
    SELECT bucket, n_new,
           CAST(SUM(n_new) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_distinct
    FROM dense
    """,
    priority="P2",
    tags=("llm", "text", "novelty", "saturation"),
)
def q_corpus_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-SATURATION curve — the corpus-level companion of
    `q_ngram_novelty`: cumulative count of distinct 5-token shingles as
    ingestion progresses (doc_id order, bucketed per 50 docs). The
    flattening of this curve is the "is more data still buying
    diversity?" answer that decides when to stop a crawl.

    Cumulative-distinct-over-a-prefix is normally the hard part (a
    distinct per prefix is quadratic); attributing each shingle to its
    FIRST document makes it exact and linear — new-per-bucket is a
    shingle-keyed min-agg histogram and the cumulative runs over the
    tiny bucket grain (docs/50 rows)."""
    _sh, first_seen = _shingle_first_seen(spark, sf_dir)
    per_bucket = first_seen.groupBy(
        # F.floor, not cast('bigint'): cast truncates toward zero while
        # the oracle's // floors — equivalent only for non-negative ids
        # below 2^53 (round-4 advisory; floor matches unconditionally).
        F.floor(F.col("first_doc") / _SAT_BUCKET).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    # Dense bucket spine: a bucket in which no shingle is first-seen must
    # still appear (n_new = 0) — those zero rows are exactly where the
    # curve flattens, which is the condition this operator exists to
    # show (review finding: the sparse form had holes there).
    spine = per_bucket.agg(F.max("bucket").alias("mx")).select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("mx"))).alias("bucket")
    )
    dense = spine.join(per_bucket, "bucket", "left").select(
        "bucket", F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return dense.select(
        "bucket", "n_new", F.sum("n_new").over(w).cast("bigint").alias("cum_distinct")
    )


_JSD_IN_SQL = """0.5 * p * ln(p / m) + 0.5 * q * ln(q / m)"""


@register(
    "q_text_js_divergence",
    oracle=f"""
    WITH lt AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY lang, tok
    ), lt_tot AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS tl FROM lt GROUP BY lang
    ), ct AS (
      SELECT tok, CAST(SUM(c) AS BIGINT) AS cc FROM lt GROUP BY tok
    ), c_tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS t FROM ct),
    terms AS (
      SELECT lt.lang,
             lt.c * 1.0 / lt_tot.tl AS p,
             ct.cc * 1.0 / c_tot.t AS q,
             (lt.c * 1.0 / lt_tot.tl + ct.cc * 1.0 / c_tot.t) / 2 AS m
      FROM lt
      JOIN lt_tot ON lt.lang = lt_tot.lang
      JOIN ct ON lt.tok = ct.tok
      CROSS JOIN c_tot
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           {R4('SUM(q)')} AS q_coverage,
           {R4(f'SUM({_JSD_IN_SQL}) + 0.5 * ln(2) * (1 - SUM(q))')} AS jsd
    FROM terms GROUP BY lang
    """,
    priority="P2",
    tags=("llm", "text", "drift", "divergence"),
)
def q_text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each language's token distribution
    from the corpus-wide distribution — the TEXT-space drift/domain-shift
    monitor next to `q_embedding_drift`'s vector-space one: a language
    whose JSD spikes between snapshots changed character (new domain,
    new boilerplate, mislabeled ingest). Tokens absent from a language
    contribute 0.5·ln2·(their corpus mass) — folded in exactly via the
    language's corpus-coverage ΣQ, so the sum runs ONLY over (lang, tok)
    pairs that exist, never the full langs×vocab cross product.

    Scale: one explode → (lang, tok) partial-agg grain (checkpointed);
    the per-lang totals, corpus marginals and the scalar total all
    re-derive from that grain — one corpus pass total. The term join is
    keyed on tok against the vocab-grain marginal."""
    d = spread(load(spark, sf_dir, "documents"))
    lt = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    lt_tot = lt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("tl"))
    ct = lt.groupBy("tok").agg(F.sum("c").cast("bigint").alias("cc"))
    c_tot = ct.agg(F.sum("cc").cast("bigint").alias("t"))
    p = F.col("c") * 1.0 / F.col("tl")
    q = F.col("cc") * 1.0 / F.col("t")
    m = (p + q) / 2
    terms = (
        lt.join(F.broadcast(lt_tot), "lang")
        .join(ct, "tok")
        .crossJoin(F.broadcast(c_tot))
        .select(
            "lang",
            p.alias("p"),
            q.alias("q"),
            m.alias("m"),
        )
    )
    jsd_in = 0.5 * F.col("p") * F.log(F.col("p") / F.col("m")) + 0.5 * F.col(
        "q"
    ) * F.log(F.col("q") / F.col("m"))
    import math

    return terms.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        r4(F.sum("q")).alias("q_coverage"),
        r4(F.sum(jsd_in) + 0.5 * math.log(2) * (1 - F.sum("q"))).alias("jsd"),
    )


_VOWEL_RE = "[aeiouy]+"


@register(
    "q_readability",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), syl AS (
      SELECT doc_id, lang, word,
             GREATEST(1, len(regexp_extract_all(word, '{_VOWEL_RE}'))) AS syll
      FROM w
    )
    SELECT doc_id, lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(syll) AS BIGINT) AS n_syllables,
           CAST(SUM(CASE WHEN syll >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_polysyllabic,
           {R4('SUM(syll) * 1.0 / COUNT(*)')} AS syll_per_word,
           {R4('SUM(CASE WHEN syll >= 3 THEN 1 ELSE 0 END) * 100.0 / COUNT(*)')}
             AS poly_pct,
           {R4('206.835 - 84.6 * (SUM(syll) * 1.0 / COUNT(*))')}
             AS flesch_proxy
    FROM syl GROUP BY doc_id, lang
    """,
    priority="P2",
    tags=("llm", "text", "quality", "readability"),
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability profile: syllables approximated as
    vowel-group runs (`[aeiouy]+` matches, min 1 per word — the
    standard dictionary-free estimator), emitting words, syllables,
    polysyllabic count (>= 3 syllables, the SMOG ingredient),
    syllables/word, polysyllable %, and a Flesch-reading-ease proxy
    (206.835 − 84.6 x syllables/word; the sentence-length term is
    dropped because this corpus has no sentence boundaries — documented
    proxy, monotone in the syllable load). Complements the rule-based
    `q_quality_score` (length/stopword/punct) with the complexity axis
    a readability-filtered training mix cuts on.

    Cross-engine determinism: syllable counts are integer regexp-match
    counts (`regexp_extract_all` in both engines, same RE2-class
    pattern); all ratios are r4-rounded. Scale: one explode to word
    grain, map-side-combinable agg straight back to doc grain — one
    shuffle, no model table, no window."""
    d = spread(load(spark, sf_dir, "documents"))
    w = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    syll = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all("word", F.lit(_VOWEL_RE), 0))
    )
    return (
        w.select("doc_id", "lang", syll.alias("syll"))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("syll").cast("bigint").alias("n_syllables"),
            F.sum((F.col("syll") >= 3).cast("int"))
            .cast("bigint")
            .alias("n_polysyllabic"),
            r4(F.sum("syll") * 1.0 / F.count(F.lit(1))).alias("syll_per_word"),
            r4(
                F.sum((F.col("syll") >= 3).cast("int"))
                * 100.0
                / F.count(F.lit(1))
            ).alias("poly_pct"),
            r4(
                F.lit(206.835) - F.lit(84.6) * (F.sum("syll") * 1.0 / F.count(F.lit(1)))
            ).alias("flesch_proxy"),
        )
    )


@register(
    "q_ppl_bucket",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i])) AS w1,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i + 1])) AS w2
      FROM t WHERE len(toks) > 1
    ), mbg AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
      FROM bg WHERE lang = 'en' GROUP BY w1, w2
    ), uni AS (
      SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM mbg GROUP BY w1
    ), v AS (
      SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM mbg
    ), sc AS (
      SELECT bg.doc_id, bg.lang,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             {R4("AVG(ln((COALESCE(b.n12, 0) + 1.0)"
                 " / (COALESCE(u.n1, 0) + v.v)))")} AS avg_lp
      FROM bg
      LEFT JOIN mbg b ON bg.w1 = b.w1 AND bg.w2 = b.w2
      LEFT JOIN uni u ON bg.w1 = u.w1
      CROSS JOIN v
      GROUP BY bg.doc_id, bg.lang, v.v
    )
    SELECT doc_id, lang, n_bigrams, avg_lp,
           CAST(NTILE(3) OVER (ORDER BY avg_lp DESC, doc_id) AS BIGINT)
             AS bucket_id,
           CASE NTILE(3) OVER (ORDER BY avg_lp DESC, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM sc
    """,
    priority="P2",
    tags=("llm", "text", "language-model", "quality", "banded"),
)
def q_ppl_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019): a bigram
    LM is trained on the TARGET-domain slice only (lang='en' — the
    Wikipedia side of CCNet's KenLM), every document is scored by its
    add-one-smoothed mean bigram log-likelihood under that model, and
    the corpus is split into equal-population head / middle / tail
    terciles (head = most target-like). Downstream mixes keep head+
    middle and drop or downweight tail — the standard LM-based quality
    gate beside the rule-based `q_quality_score` and the importance-
    weighted `q_dsir_weights`.

    Smoothing: P(w2|w1) = (n12 + 1) / (n1 + V), V = model vocabulary
    (distinct continuations) — finite for bigrams UNSEEN in the target
    slice (the whole point: off-domain docs score low, not -inf).
    Terciles assign on the ROUNDED score with a doc_id tiebreak, so an
    ulp of cross-engine noise cannot move a document across buckets.

    Scale: the model is two map-side-combined aggregations over the
    en slice of the bigram stream and is broadcast to the scorer
    (vocab² is tiny by Zipf; a 100 TB corpus prunes to top-M first).
    The global tercile is a BANDED rank (`operators.banded`) + exact
    ntile arithmetic — no single-task window at any scale."""
    from modforms_db_spark.operators.banded import (
        ntile_from_rn,
        with_banded_order,
    )

    d = spread(load(spark, sf_dir, "documents"))
    tk = d.select("doc_id", "lang", F.split("text", " ").alias("t"))
    bg = (
        tk.where(F.size("t") > 1)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w1"),
                        F.element_at(F.col("t"), i + 1).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    mbg = (
        bg.where(F.col("lang") == "en")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n12"))
    )
    uni = mbg.groupBy("w1").agg(F.sum("n12").cast("bigint").alias("n1"))
    v = mbg.agg(F.countDistinct("w2").cast("bigint").alias("v"))
    scored = (
        bg.join(F.broadcast(mbg), ["w1", "w2"], "left")
        .join(F.broadcast(uni), "w1", "left")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            r4(
                F.avg(
                    F.log(
                        (F.coalesce("n12", F.lit(0)) + 1.0)
                        / (F.coalesce("n1", F.lit(0)) + F.col("v"))
                    )
                )
            ).alias("avg_lp"),
        )
    )
    scored = scored.localCheckpoint(eager=False)  # banding legs + total count
    ranked = with_banded_order(
        scored, "avg_lp", ["doc_id"], descending=True, checkpoint_input=False
    )
    n = scored.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    tile = ntile_from_rn(F.col("rn"), F.col("_n"), 3)
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "avg_lp",
            tile.cast("bigint").alias("bucket_id"),
            F.when(tile == 1, "head")
            .when(tile == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


_TRUNC_LENGTHS = (32, 64, 128)  # fixture-scaled context lengths (docs <=99)
_TRUNC_SQL_ARR = "[" + ", ".join(str(x) for x in _TRUNC_LENGTHS) + "]"


@register(
    "q_truncation_loss",
    oracle=f"""
    WITH t AS (
      SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ), x AS (
      SELECT lang, n, unnest({_TRUNC_SQL_ARR}) AS ctx_len FROM t
    )
    SELECT lang, CAST(ctx_len AS BIGINT) AS ctx_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(GREATEST(n - ctx_len, 0)) AS BIGINT) AS tokens_lost,
           CAST(SUM(CASE WHEN n > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_truncated,
           {R4('SUM(GREATEST(n - ctx_len, 0)) * 1.0 / SUM(n)')} AS loss_frac
    FROM x GROUP BY lang, ctx_len
    """,
    priority="P2",
    tags=("llm", "text", "tokenization", "planning"),
)
def q_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation loss curve: for each candidate context
    length, the tokens and documents a hard-truncation policy would
    discard, per language — the planning table behind choosing a
    training sequence length (vs packing, `q_pack_sequences`, which
    loses nothing but pays cross-doc attention). Lengths are
    fixture-scaled ({_TRUNC_LENGTHS}; production uses 2k-128k) so all
    three regimes are live at the gate scale: ~no loss at 128, heavy
    loss at 32. Counts are exact integers; the one float is the final
    rounded ratio.

    Scale: one scan to (lang, n) — the token count is per-row
    arithmetic — then a ×{len(_TRUNC_LENGTHS)} literal explode into ONE
    map-side-combined aggregation on the (lang, ctx_len) grain (≤ langs
    × lengths rows). The explode multiplies 2-column rows, not text."""
    d = spread(load(spark, sf_dir, "documents"))
    t = d.select(
        "lang", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    x = t.select(
        "lang",
        "n",
        F.explode(
            F.array(*[F.lit(v) for v in _TRUNC_LENGTHS])
        ).alias("ctx_len"),
    )
    lost = F.greatest(F.col("n") - F.col("ctx_len"), F.lit(0))
    return x.groupBy("lang", F.col("ctx_len").cast("bigint").alias("ctx_len")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum(lost).cast("bigint").alias("tokens_lost"),
        F.sum((F.col("n") > F.col("ctx_len")).cast("int"))
        .cast("bigint")
        .alias("docs_truncated"),
        r4(F.sum(lost) * 1.0 / F.sum("n")).alias("loss_frac"),
    )


@register(
    "q_heaps_law",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri
      FROM t WHERE len(w) > 2
    ), fs AS (
      SELECT tri, MIN(doc_id) AS fd FROM g GROUP BY tri
    ), nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t
    ), ms AS (
      SELECT CAST(1 AS BIGINT) << CAST(k AS INT) AS m
      FROM nd, unnest(generate_series(4,
           CAST(FLOOR(log2(n_docs)) AS BIGINT))) AS u(k)
    ), vc AS (
      SELECT m, CAST(COUNT(CASE WHEN fd < m THEN 1 END) AS BIGINT) AS v
      FROM ms, fs GROUP BY m
    ), xy AS (
      SELECT m, v, {R4('ln(m * 1.0)')} AS x, {R4('ln(v * 1.0)')} AS y
      FROM vc WHERE v > 0
    ), fit AS (
      SELECT m, v, x, y,
             COUNT(*) OVER () AS s,
             SUM(x) OVER () AS sx, SUM(y) OVER () AS sy,
             SUM(x * y) OVER () AS sxy, SUM(x * x) OVER () AS sxx
      FROM xy
    )
    SELECT m, v, x, y,
           {R4('(sxy - sx * sy / s) / (sxx - sx * sx / s)')} AS beta,
           {R4("exp(sy / s - (sxy - sx * sy / s)"
               " / (sxx - sx * sx / s) * sx / s)")} AS k_coef
    FROM fit
    """,
    priority="P2",
    tags=("llm", "text", "scaling-law", "banded"),
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β of vocabulary growth over the
    document stream (Heaps 1978) — the corpus-planning companion to
    `q_zipf_fit` (they are asymptotically dual) and the closed form
    under `q_corpus_saturation`'s empirical curve: how much NEW
    vocabulary each marginal slice of corpus buys, the question behind
    "is more of this source worth tokenizing". The unit-vocabulary is
    3-grams (the 31-word fixture token vocabulary saturates within 3
    docs — degenerate; the trigram space grows through the whole corpus,
    828 → 16k across milestones at sf0.01).

    V(m) milestones at powers of two (16 … 2^⌊log₂ n_docs⌋, derived
    from a broadcast 1-row count — no collect); per-milestone V = exact
    integer count of first-seen-before-m; the OLS fit runs in log-log
    space on r4-rounded coordinates over the milestone frame.

    Scale: first-seen = one map-side-combined min per distinct trigram
    (vocabulary-bounded, Zipf-tiny vs corpus); milestones are
    O(log corpus) rows (47 at 100 TB), so the fit window is bounded by
    construction — the `q_srm_check` bounded-frame discipline."""
    d = spread(load(spark, sf_dir, "documents"))
    tk = d.select("doc_id", F.split("text", " ").alias("w"))
    g = tk.where(F.size("w") > 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("w"), i),
                    F.element_at(F.col("w"), i + 1),
                    F.element_at(F.col("w"), i + 2),
                ),
            )
        ).alias("tri"),
    )
    fs = g.groupBy("tri").agg(F.min("doc_id").alias("fd"))
    nd = tk.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    # Guard: sequence(4, k) turns DESCENDING for k < 4 (corpus under 16
    # docs) where the oracle's generate_series(4, k) is EMPTY — the
    # documented house trap; the filter matches the oracle's emptiness.
    ms = (
        nd.where(F.col("n_docs") >= 16)
        .select(
            F.explode(
                F.sequence(F.lit(4), F.floor(F.log2("n_docs")).cast("int"))
            ).alias("k")
        )
        .select(F.expr("shiftleft(CAST(1 AS BIGINT), k)").alias("m"))
    )
    vc = (
        fs.crossJoin(F.broadcast(ms))
        .groupBy("m")
        .agg(
            F.sum((F.col("fd") < F.col("m")).cast("int"))
            .cast("bigint")
            .alias("v")
        )
    )
    xy = vc.where(F.col("v") > 0).select(
        "m",
        "v",
        r4(F.log(F.col("m") * 1.0)).alias("x"),
        r4(F.log(F.col("v") * 1.0)).alias("y"),
    )
    w = Window.partitionBy()
    fit = xy.select(
        "m",
        "v",
        "x",
        "y",
        F.count(F.lit(1)).over(w).alias("s"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("s")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("s")
    )
    return fit.select(
        "m",
        "v",
        "x",
        "y",
        r4(beta).alias("beta"),
        r4(F.exp(F.col("sy") / F.col("s") - beta * F.col("sx") / F.col("s"))).alias(
            "k_coef"
        ),
    )


_BURST_TOP = 20


@register(
    "q_text_burstiness",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), pc AS (
      SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ), ts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS cf,
             CAST(SUM(c * c) AS BIGINT) AS ss
      FROM pc GROUP BY 1
    ), top AS (
      SELECT * FROM ts ORDER BY cf DESC, tok LIMIT {_BURST_TOP}
    )
    SELECT tok, df, cf,
           {R4('cf * 1.0 / df')} AS burstiness,
           {R4('((ss - cf * 1.0 * cf / df) / df) / (cf * 1.0 / df)')} AS vmr
    FROM top
    """,
    priority="P2",
    tags=("llm", "text", "statistics"),
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness profile (Church & Gale 1995): for the
    {_BURST_TOP} highest-frequency terms — document frequency,
    collection frequency, burstiness cf/df (mean occurrences in the
    docs that contain the term — content words recur within a
    document, function words spread evenly), and the variance-to-mean
    ratio of per-doc counts (VMR > 1 = over-dispersed vs Poisson).
    The corpus statistic that separates topical from glue vocabulary
    when a stopword list is unavailable — e.g. picking tf-idf
    candidates or spotting template-stamped boilerplate (uniform
    high-cf, low-VMR terms).

    All moments (df, cf, Σc²) are exact BIGINTs; the two ratios are
    fixed double formulas over them, r4-rounded.

    Scale: explode to the (term, doc) grain with map-side count
    combine, one term-grain moment aggregate, then
    `orderBy().limit()` TakeOrdered for the top slice — never a
    vocabulary-wide window; the ratio math runs on {_BURST_TOP} rows.
    """
    d = spread(load(spark, sf_dir, "documents"))
    pc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ts = pc.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("cf"),
        F.sum(d38("c") * F.col("c")).alias("ss"),
    )
    top = ts.orderBy(F.desc("cf"), "tok").limit(_BURST_TOP)
    mean = F.col("cf") * 1.0 / F.col("df")
    return top.select(
        "tok",
        "df",
        "cf",
        r4(mean).alias("burstiness"),
        r4(
            ((F.col("ss") - F.col("cf") * 1.0 * F.col("cf") / F.col("df"))
             / F.col("df"))
            / mean
        ).alias("vmr"),
    )


_NEG_POW = 0.75  # Mikolov et al. 2013 unigram damping exponent


@register(
    "q_negative_sampling",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), cf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf FROM tok GROUP BY 1
    ), w AS (
      SELECT tok, cf, POW(cf, {_NEG_POW!r}) AS w FROM cf
    ), tot AS (SELECT SUM(w) AS sw FROM w
    ), r AS (
      SELECT tok, cf, w,
             SUM(w) OVER (ORDER BY w DESC, tok) AS cum_w
      FROM w
    )
    SELECT tok, cf,
           {R("w / sw", 6)} AS p,
           {R("cum_w / sw", 6)} AS cum_p
    FROM r CROSS JOIN tot
    """,
    priority="P2",
    tags=("llm", "text", "sampling"),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling distribution (word2vec, Mikolov et al. 2013):
    the unigram distribution damped to the ¾ power — p ∝ cf^0.75 — so
    frequent glue words are down-weighted and rare words up-weighted
    as contrastive negatives, with the cumulative mass in sampling
    order (the inverse-CDF table a sampler binary-searches). The
    contrastive-training sibling of `q_sample_temperature`'s
    corpus-level damping and `q_hard_negatives`' model-based mining.

    Scale: one explode to the token grain with map-side count combine;
    the cumulative mass runs through the banded-order device
    (`operators/banded.py`, bands on ln w — the variance-stabilizing
    transform for Zipf-shaped weights) so a 10M-term vocabulary never
    meets a single-task window; the normalizer is a 1-row broadcast.
    """
    d = spread(load(spark, sf_dir, "documents"))
    cf = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    )
    w = cf.select(
        "tok", "cf", F.pow(F.col("cf"), _NEG_POW).alias("w"),
        F.log(F.pow(F.col("cf"), _NEG_POW)).alias("lnw"),
    )
    from modforms_db_spark.operators.banded import with_banded_order

    r = with_banded_order(
        w,
        "lnw",
        ["tok"],
        descending=True,
        cumsum_col="w",
        rn_name="rn",
        cum_name="cum_w",
    )
    tot = r.agg(F.sum("w").alias("sw"))
    return r.crossJoin(F.broadcast(tot)).select(
        "tok",
        "cf",
        F.round(F.col("w") / F.col("sw"), 6).alias("p"),
        F.round(F.col("cum_w") / F.col("sw"), 6).alias("cum_p"),
    )


@register(
    "q_hill_tail",
    oracle=f"""
    WITH ranked AS (
      SELECT n_chars, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
      ORDER BY n_chars DESC, doc_id LIMIT 101
    ), ks AS (
      SELECT UNNEST([25, 50, 100]) AS k
    ), thr AS (
      SELECT ks.k, ranked.n_chars AS x_k1
      FROM ks JOIN ranked ON ranked.rn = ks.k + 1
    ), terms AS (
      SELECT thr.k, thr.x_k1,
             CAST(ROUND({R4('LN(CAST(ranked.n_chars AS DOUBLE) / thr.x_k1)')}
                  * 10000) AS BIGINT) AS term_q
      FROM thr JOIN ranked ON ranked.rn <= thr.k
    )
    SELECT k AS tail_k, CAST(x_k1 AS BIGINT) AS x_tail_min,
           CAST(SUM(term_q) AS BIGINT) AS sum_log_q,
           CASE WHEN SUM(term_q) > 0
                THEN {R4('k * 10000.0 / SUM(term_q)')} END AS alpha_hill
    FROM terms GROUP BY 1, 2
    """,
    priority="P2",
    tags=("text", "tail", "powerlaw"),
)
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (Hill 1975) of the document-length
    distribution at three tail depths k ∈ {25, 50, 100}:
    α̂(k) = k / Σᵢ₌₁..k ln(x⁽ⁱ⁾/x⁽ᵏ⁺¹⁾) over the k largest lengths —
    the standard heavy-tail diagnostic beside `q_zipf_fit` (rank-
    frequency slope) and `q_heaps_law` (vocabulary growth): a stable
    α̂ across k says the tail is genuinely power-law with that index;
    α̂ INFLATED at shallow k and falling as k deepens (as on this
    bounded synthetic corpus — spacings near the truncated maximum
    are compressed, so the smallest-k estimate overshoots) says the
    apparent tail is truncated. Reporting the k-profile rather
    than one point IS the diagnostic.

    Determinism: the tail sample is the TOP-101 frame under the total
    order (n_chars DESC, doc_id) — ties broken by id, so x⁽ᵏ⁺¹⁾ is
    unique; each log term is r4-rounded then carried as exact integer
    ten-thousandths, so the k-term sum is order-exact BIGINT and α̂
    is one double division under r4. Σ=0 (all tail values equal)
    null-guards α̂.

    Scale: the ONLY full-data touch is a global top-101 —
    TakeOrdered, per-partition heaps, no shuffle of the corpus; the
    101-row frame then feeds all three k panels (window + joins on a
    driver-broadcast frame). At 100 TB the same plan reads the
    length column only (column pruning) and moves 101 rows.
    """
    d = load(spark, sf_dir, "documents").select("n_chars", "doc_id")
    top = d.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(101)
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    ranked = top.select(
        "n_chars", F.row_number().over(w).alias("rn")
    ).localCheckpoint(eager=False)  # threshold + term legs off one frame
    ks = spark.createDataFrame([(25,), (50,), (100,)], "k int")
    thr = ks.join(
        ranked.withColumnRenamed("n_chars", "x_k1"),
        F.col("rn") == F.col("k") + 1,
    ).select("k", "x_k1")
    term_q = (
        F.round(
            r4(F.log(F.col("n_chars").cast("double") / F.col("x_k1")))
            * 10000,
            0,
        )
        .cast("bigint")
        .alias("term_q")
    )
    terms = (
        F.broadcast(thr)
        .join(ranked, F.col("rn") <= F.col("k"))
        .select("k", "x_k1", term_q)
    )
    sum_q = F.sum("term_q").cast("bigint")
    return terms.groupBy(
        F.col("k").cast("bigint").alias("tail_k"),
        F.col("x_k1").cast("bigint").alias("x_tail_min"),
    ).agg(
        sum_q.alias("sum_log_q"),
        F.when(
            sum_q > 0, r4(F.col("tail_k") * 10000.0 / sum_q)
        ).alias("alpha_hill"),
    )


@register(
    "q_nucleus_vocab",
    oracle="""
    WITH tok AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS token
      FROM documents
    ), tf AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS f
      FROM tok GROUP BY 1, 2
    ), cum AS (
      SELECT lang, token, f,
             CAST(SUM(f) OVER (
               PARTITION BY lang ORDER BY f DESC, token) AS BIGINT) AS cum
      FROM tf
    ), tot AS (
      SELECT lang, CAST(SUM(f) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_vocab
      FROM tf GROUP BY 1
    ), sel AS (
      SELECT cum.lang, cum.f,
             cum.cum - cum.f < (9 * tot.total + 9) // 10 AS selected
      FROM cum JOIN tot ON tot.lang = cum.lang
    )
    SELECT tot.lang, tot.n_vocab, tot.total AS total_tokens,
           CAST(SUM(CASE WHEN sel.selected THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nucleus,
           CAST(SUM(CASE WHEN sel.selected THEN sel.f ELSE 0 END) AS BIGINT)
             AS nucleus_tokens
    FROM sel JOIN tot ON tot.lang = sel.lang
    GROUP BY 1, 2, 3
    """,
    priority="P2",
    tags=("text", "vocab", "nucleus"),
)
def q_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus, p = 0.9) vocabulary selection per language —
    the mass-based cut behind nucleus sampling and
    coverage-targeted vocabulary builds: the SMALLEST prefix of the
    frequency-ranked vocabulary whose cumulative mass reaches 90% of
    the language's tokens (`q_rare_collapse` keeps a top-K COUNT;
    this keeps a top-p MASS, which adapts to how peaked each
    language's distribution is — the whole point of nucleus over
    top-k). The boundary is exact-integer: a token is in the
    nucleus iff the mass BEFORE it is under ⌈0.9·total⌉, so the
    crossing token is included and the prefix is minimal.

    Deterministic: ranking order is (freq DESC, token) — total; the
    threshold is exact ceil-division; all masses BIGINT.

    Scale: one pass to the (lang, token) grain; the cumulative runs
    in per-language partitions (vocabulary-bounded — for a
    vocabulary too large per partition, band the cumsum inside each
    language with the `operators/banded.py` device on ln f, the
    `q_zipf_fit` transform); output is one row per language.
    """
    tf = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .localCheckpoint(eager=False)  # totals + cumulative, one scan
    )
    w = Window.partitionBy("lang").orderBy(F.col("f").desc(), "token")
    cum = tf.select(
        "lang", "token", "f",
        F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
    )
    tot = tf.groupBy("lang").agg(
        F.sum("f").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
    )
    sel = cum.join(F.broadcast(tot), "lang").select(
        "lang",
        "f",
        "n_vocab",
        "total",
        (
            F.col("cum") - F.col("f")
            < F.expr("(9 * total + 9) div 10")
        ).alias("selected"),
    )
    return sel.groupBy("lang", "n_vocab", F.col("total").alias("total_tokens")).agg(
        F.sum(F.when(F.col("selected"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nucleus"),
        F.sum(F.when(F.col("selected"), F.col("f")).otherwise(0))
        .cast("bigint")
        .alias("nucleus_tokens"),
    )
