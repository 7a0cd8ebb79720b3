"""Training-data-pipeline operators — SURVEY.md §2.11 extension: benchmark
decontamination, PII redaction, repetition (boilerplate) filtering, and
sequence packing.

These are the corpus-preparation steps a 100 TB pretraining pipeline runs
after dedup (llm/dedup.py) and quality scoring (llm/text_stats.py):
remove eval-set overlap, scrub PII, drop repetitive boilerplate, and pack
variable-length documents into fixed token budgets for the trainer.

All but packing are pure JVM-side (split/explode/transform/agg); packing
is inherently sequential per shard, so it runs as one Arrow-batched
`applyInPandas` per lang — the canonical "stateful scan inside a
partition, embarrassingly parallel across partitions" shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modforms_db_spark.io import load, spread
from modforms_db_spark.oracle_dialect import R, R2, R4
from modforms_db_spark.parity import r4
from modforms_db_spark.registry import register

# Held-out split: the top 10% of doc ids play the role of the benchmark /
# eval set (450 at sf0.01); everything below is training data to be
# decontaminated. Fraction-relative so the eval side stays the SMALL side
# at every scale factor — the broadcast direction must not flip at 100 TB.
_EVAL_FRACTION = 0.9
_SHINGLE_N = 5


def _doc_shingles(side: DataFrame, *, distinct_per_doc: bool = False) -> DataFrame:
    """(doc_id, shingle) stream of overlapping ``_SHINGLE_N``-token
    shingles from a ``(doc_id, t: array<string>)`` side. Shared by
    q_decontaminate / q_eval_leakage (one definition so guards can't
    drift between them).

    ``distinct_per_doc`` dedups each doc's shingle array BEFORE the
    explode (r10, q_decontaminate): consumers that only care about the
    distinct per-doc shingle set (its n_hits is COUNT(DISTINCT ..))
    then count plain rows — the grouped distinct-aggregate expand
    disappears and repeated passages stop fanning into the join. Frame-
    equal at all 3 shipped SFs; min-of-7 floor unchanged at sf0.1
    (job-count-bound), median −10%; at scale this is guide §2.2
    (fewer shuffled/probed rows for boilerplate-heavy corpora).

    The ``size >= _SHINGLE_N`` guard is semantic AND protective: docs
    too short to shingle contribute no rows (matching the oracles'
    ``generate_series``, which is empty for a non-positive stop), and
    without it Spark's ``F.sequence(1, size-4)`` would produce a
    DESCENDING sequence for short docs (sequence defaults to step -1
    when start > stop) and ``slice(t, 0, …)`` then throws — a crash
    the shipped fixtures (min 10 tokens) never trip but a real corpus
    would."""
    arr = F.transform(
        F.sequence(F.lit(1), F.size("t") - (_SHINGLE_N - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, _SHINGLE_N)),
    )
    if distinct_per_doc:
        arr = F.array_distinct(arr)
    return side.where(F.size("t") >= _SHINGLE_N).select(
        "doc_id", F.explode(arr).alias("shingle")
    )


def _per_doc_bigram_counts(d):
    """(doc_id, top_n, total) over each doc's bigram multiset: explode →
    (doc, bigram) counts → per-doc max/sum.

    Measured note (sf0.1, this machine): a "zero-shuffle" per-row
    formulation — array_sort + an `aggregate` fold tracking the longest
    equal-run — is 5-6× SLOWER than this explode form. Higher-order
    functions with struct state evaluate interpreted (outside codegen),
    and a shuffle-free plan also inherits the input's partitioning, which
    for few-split inputs means no parallelism at all. The explode form
    keeps every operator inside codegen and partial aggregation collapses
    each doc's bigrams map-side; `spread()` on the raw docs first buys
    full parallelism for the fan-out.
    """
    # Project the token array to a NAMED column before the lambda consumes
    # it: an outer expression captured inside transform()'s lambda is
    # re-evaluated per ELEMENT (O(tokens²) character work per doc), while a
    # bound attribute is computed once per row. CollapseProject keeps the
    # projection because the alias is referenced more than once.
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bg = toks.where(F.size("t") > 1).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 2)),
            )
        ).alias("bigram"),
    )
    return (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_n"), F.sum("n").alias("total"))
    )


@register(
    "q_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(t) - {_SHINGLE_N - 1}),
               i -> array_to_string(t[i:i+{_SHINGLE_N - 1}], ' '))) AS shingle
      FROM toks
    ), b AS (
      SELECT CAST(FLOOR({_EVAL_FRACTION} * (MAX(doc_id) + 1)) AS BIGINT)
        AS eval_from FROM documents
    ), eval_sh AS (
      SELECT DISTINCT shingle FROM sh
      WHERE doc_id >= (SELECT eval_from FROM b)
    )
    SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_hits
    FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
    WHERE s.doc_id < (SELECT eval_from FROM b)
    GROUP BY s.doc_id
    ORDER BY doc_id
    """,
    priority="P2",
    tags=("llm", "pipeline", "decontamination"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (bottom 90% of doc ids)
    that share at least one 5-token shingle with the held-out eval split
    (top 10% of doc ids; = doc_id >= 450 at sf0.01), with the count of
    distinct overlapping shingles — the standard n-gram-overlap
    test-set-leakage check run before pretraining.

    Scale: the eval set is small BY CONSTRUCTION at every scale factor
    (fraction-relative split — benchmarks are KBs-MBs vs a 100 TB
    corpus), so its distinct-shingle set broadcast-joins against the
    exploded training side — no shuffle of the big side at all; the
    explode is combined map-side into per-doc distinct counts. The split
    threshold derives from a one-row aggregate broadcast into both
    filters, never a collected literal.
    """
    d = spread(load(spark, sf_dir, "documents"))
    split = d.agg(
        F.floor(_EVAL_FRACTION * (F.max("doc_id") + 1))
        .cast("bigint")
        .alias("eval_from")
    )
    # Token array projected to a named column first — a split captured
    # inside the lambda would re-run per shingle (measured 15× slower at
    # sf0.1; see _per_doc_bigram_counts note). The split filter is
    # applied BELOW the explode on each branch: filtering the exploded
    # stream instead would shingle the whole corpus once per branch
    # (Catalyst can't push a predicate through the generate when its
    # threshold arrives via the crossJoin) — measured ~2× the explode
    # work at sf0.1.
    toks = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .crossJoin(F.broadcast(split))
    )
    eval_sh = (
        _doc_shingles(
            toks.where(F.col("doc_id") >= F.col("eval_from")),
            distinct_per_doc=True,
        )
        .select("shingle")
        .distinct()
    )
    return (
        _doc_shingles(
            toks.where(F.col("doc_id") < F.col("eval_from")),
            distinct_per_doc=True,
        )
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        # Per-doc shingles are distinct at the source (see
        # _doc_shingles), so COUNT(DISTINCT shingle) ≡ COUNT(*) — the
        # plain count partial-aggregates map-side with no distinct
        # expand (r10; frame-equal at 3 SFs).
        .agg(F.count(F.lit(1)).alias("n_hits"))
        # No trailing orderBy: the result is a set (driver + tests sort
        # before hashing) and a global sort costs a range-sampling job.
    )


_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "q_pii_redact",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact ' || source || '@mail' || CAST(doc_id % 3 AS VARCHAR)
                  || '.com or 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM enriched
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
    priority="P2",
    tags=("llm", "pipeline", "pii"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: scrub email addresses and phone-shaped numbers from
    document text, reporting per-doc match counts and the redacted text.
    (The synthetic corpus contains no PII, so the query deterministically
    plants one email + one phone per doc from key columns first — the
    regex machinery under test is exactly the production scrubbing pass.)

    Scale: pure per-row projection — no shuffle, no state; whole-stage
    codegen over regexp_replace/regexp_extract_all at scan speed.
    """
    d = load(spark, sf_dir, "documents")
    enriched = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.col("source"),
            F.lit("@mail"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com or 555-"),
            (1000 + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    return (
        enriched.where(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias(
                "n_emails"
            ),
            F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias(
                "n_phones"
            ),
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
                _PHONE_RE,
                "[PHONE]",
            ).alias("redacted"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(t) - 1),
               i -> array_to_string(t[i:i+1], ' '))) AS bigram
      FROM toks WHERE len(t) > 1
    ), freq AS (
      SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram
    ), per_doc AS (
      SELECT doc_id, MAX(n) AS top_n, CAST(SUM(n) AS BIGINT) AS total
      FROM freq GROUP BY doc_id
    )
    SELECT doc_id, top_n, total,
           CAST(ROUND(CAST(CAST((top_n * 1.0 / total) AS VARCHAR)
                           AS DECIMAL(38,18)), 4) AS DOUBLE)
             AS top_bigram_ratio
    FROM per_doc
    WHERE top_n * 1.0 / total > 0.1
    ORDER BY doc_id
    """,
    priority="P2",
    tags=("llm", "pipeline", "quality"),
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition (boilerplate) filter, Gopher-style: per document, the
    fraction of all bigrams taken by the single most frequent bigram;
    flag documents where that ratio exceeds 0.1 — the standard signal
    for templated / machine-generated boilerplate.

    Scale: explode → two-level agg keyed by doc_id; partial aggregation
    collapses each doc's bigrams map-side, so the shuffle carries
    per-(doc, bigram) counts, never raw token streams. Input is
    `spread()` first: the bigram fan-out is the expensive stage, and it
    must not inherit a few-split input's parallelism (see io.spread and
    the measured note on `_per_doc_bigram_counts`).
    """
    d = spread(load(spark, sf_dir, "documents"))
    return (
        _per_doc_bigram_counts(d)
        .where(F.col("top_n") * 1.0 / F.col("total") > 0.1)
        .select(
            "doc_id",
            "top_n",
            "total",
            F.round(F.col("top_n") * 1.0 / F.col("total"), 4).alias(
                "top_bigram_ratio"
            ),
        )
        # No trailing orderBy — set-semantics result; a global sort here
        # measured +0.09 s at sf0.1 (range-sampling job) for presentation
        # order nobody consumes (driver + tests sort before comparing).
    )


_PACK_BUDGET = 64


_PACK_SHARD_DOCS = 256  # docs per (lang, shard) packing group — see below


def _make_pack_pdf():
    """Factory for the greedy next-fit packer of one shard (Arrow
    batch): walk docs in doc_id order, open a new bin when the doc
    would overflow the budget; an oversize doc occupies a bin alone
    (never splits). A FACTORY (round 6) because applyInPandas ships the
    callable via cloudpickle: a module-level function pickles BY
    REFERENCE and dies on workers that can't import modforms_db_spark
    (the driver harness loads the entry file by path — neutral-cwd
    sweep catch, see SCALE.md §9j); the nested function pickles by
    value. Tests call this same factory, so they still drive the EXACT
    code executors run.

    Bin ids are unique WITHIN a lang without cross-shard coordination:
    each shard owns the id range [shard_id·_PACK_SHARD_DOCS, …) — a shard
    of ≤ N docs opens ≤ N bins (every bin holds ≥ 1 doc), so two shards of
    the same lang can never collide. Shard_id = doc_id // _PACK_SHARD_DOCS
    is shared ACROSS langs, so a bin is identified by (lang, bin) — which
    is how every consumer (and the output grouping) keys it."""
    shard_docs, budget = _PACK_SHARD_DOCS, _PACK_BUDGET  # closure-local

    def pack_pdf(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        base = int(pdf["shard_id"].iloc[0]) * shard_docs if len(pdf) else 0
        bins, fill, b = [], 0, base
        for n in pdf["n_toks"]:
            if fill and fill + n > budget:
                b, fill = b + 1, 0
            fill += n
            bins.append(b)
        pdf["bin"] = bins
        return pdf

    return pack_pdf


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks,
             doc_id // {_PACK_SHARD_DOCS} AS shard_id
      FROM documents
    ), ordered AS (
      SELECT doc_id, lang, n_toks, shard_id,
             row_number() OVER (PARTITION BY lang, shard_id ORDER BY doc_id) AS rn
      FROM toks
    ), packed AS (
      SELECT doc_id, lang, n_toks, shard_id, rn, n_toks AS fill,
             shard_id * {_PACK_SHARD_DOCS} AS bin
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.doc_id, o.lang, o.n_toks, o.shard_id, o.rn,
             CASE WHEN p.fill + o.n_toks > {_PACK_BUDGET}
                  THEN o.n_toks ELSE p.fill + o.n_toks END,
             CASE WHEN p.fill + o.n_toks > {_PACK_BUDGET}
                  THEN p.bin + 1 ELSE p.bin END
      FROM ordered o JOIN packed p
        ON o.lang = p.lang AND o.shard_id = p.shard_id AND o.rn = p.rn + 1
    )
    SELECT lang, bin, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS bin_tokens
    FROM packed
    GROUP BY lang, bin
    ORDER BY lang, bin
    """,
    priority="P2",
    tags=("llm", "pipeline", "packing"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy next-fit packing of documents (ordered by
    doc_id within each (lang, shard) group) into 64-token training bins —
    a doc that would overflow the current bin opens the next one. Emits
    per-bin doc count and token total, the shape a trainer's data loader
    consumes.

    Scale: packing is a sequential recurrence, so it cannot distribute
    WITHIN a group — the scale lever is the group key. Groups are
    pre-chunked (lang, shard_id) with shard_id = doc_id // 256: row-local
    (no window / global sequence needed to assign it), deterministic
    (retried tasks re-derive the same shards), and bounded (≤ 256 docs
    per group, so pandas memory per task is O(shard), never O(corpus)).
    Parallelism = Σ_lang ⌈docs/256⌉, growing linearly with data instead
    of capping at #languages. Bin ids stay unique within a lang via
    per-shard id ranges (see _make_pack_pdf; consumers key bins by
    (lang, bin)) — no cross-shard coordination, no second
    pass. The oracle runs the SAME sharded recurrence as a recursive CTE
    partitioned by (lang, shard_id), which also bounds its recursion
    depth at 256. State per group is two integers (fill, bin), never the
    document list.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.expr(f"doc_id div {_PACK_SHARD_DOCS}").alias("shard_id"),
    )
    packed = toks.groupBy("lang", "shard_id").applyInPandas(
        _make_pack_pdf(),
        "doc_id long, lang string, n_toks int, shard_id long, bin long",
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("bin_tokens"),
        )
        # No trailing orderBy — set-semantics result (see q_decontaminate).
    )


@register(
    "q_pipeline_e2e",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS toks
      FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> array_to_string(toks[i:i+1], ' '))) AS bigram
      FROM t WHERE len(toks) > 1
    ), rep AS (
      SELECT doc_id, MAX(n) * 1.0 / SUM(n) AS ratio
      FROM (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram)
      GROUP BY doc_id
    ), clean AS (
      SELECT t.* FROM t JOIN rep ON t.doc_id = rep.doc_id
      WHERE rep.ratio <= 0.1
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   sha256(array_to_string(list_sort(list_distinct(toks)), ' ')) AS h
            FROM clean)
      GROUP BY h
    )
    SELECT c.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(c.toks)) AS BIGINT) AS total_tokens
    FROM clean c JOIN keep k ON c.doc_id = k.doc_id
    GROUP BY c.lang
    """,
    priority="P1",
    tags=("llm", "pipeline", "e2e"),
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep pipeline END-TO-END as one composed plan:
    (1) repetition filter (drop docs whose top bigram exceeds 10% of all
    bigrams), (2) exact near-dup collapse (canonical token-set hash, keep
    min doc_id), (3) the per-language training-mix report (docs + tokens
    surviving). This is the query a data engineer actually ships — the
    stages are the already-proven operators composed, and Catalyst fuses
    them into one job.

    Scale: stage shuffles key on doc_id then hash — both well-distributed;
    the bigram explode is collapsed map-side (partial agg) before its
    shuffle; nothing materializes between stages. The dedup stage keeps
    the min-doc_id representative per canonical hash via ONE `min_by`
    aggregation (r7: replaces a groupBy + join-back-to-clean — doc_id is
    unique, so "keep rows whose doc_id is the group min" ≡ "take the
    min-doc_id row per group"; same result, two fewer shuffles and no
    second pass over `clean`).

    r11 (guide §2.3/§8): the repetition-filter join attaches `rep` to a
    SLIM doc-grain frame — (doc_id, lang, n_toks, canonical hash), all
    computed scan-side BEFORE the join — instead of to the raw document
    rows. At 100 TB `rep` is doc-grain (billions of rows, far past any
    broadcast), so that join becomes an SMJ; joining slim means the
    exchange carries ~80-byte rows, never the document text. Measured
    at sf0.1 (interleaved min/med-of-7, noop): 0.76/0.89 → 0.68/0.81 s
    — projecting early also shrinks the bench-scale broadcast. A FUSED
    single-pass variant (carry lang/n_toks/h through the bigram
    aggregation as first() aggregates, drop the join entirely) was
    probed per the r10 verdict and REJECTED: it wins ~5% locally (8 → 6
    jobs, 0.84/0.90 → 0.79/0.87 s) but ships the 64-char canonical hash
    with every distinct (doc, bigram) row through the pipeline's
    dominant exchange — ~10× the per-row key bytes of this form's slim
    join at corpus scale.
    """
    d = spread(load(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    rep = _per_doc_bigram_counts(d).select(
        "doc_id", (F.col("top_n") * 1.0 / F.col("total")).alias("ratio")
    )
    canon = F.sha2(
        F.array_join(F.array_sort(F.array_distinct(toks)), " "), 256
    )
    slim = d.select(
        "doc_id", "lang", F.size(toks).alias("n_toks"), canon.alias("h")
    )
    clean = slim.join(rep, "doc_id").where(F.col("ratio") <= 0.1)
    reps = clean.groupBy("h").agg(
        F.min_by(F.struct("lang", "n_toks"), "doc_id").alias("r")
    )
    return (
        reps.groupBy(F.col("r.lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("r.n_toks").cast("bigint").alias("total_tokens"),
        )
    )


@register(
    "q_eval_leakage",
    oracle=f"""
    WITH split AS (
      SELECT CAST(FLOOR({_EVAL_FRACTION} * (MAX(doc_id) + 1)) AS BIGINT) AS eval_from
      FROM documents
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(t) - {_SHINGLE_N - 1}),
               i -> array_to_string(t[i:i+{_SHINGLE_N - 1}], ' '))) AS shingle
      FROM toks CROSS JOIN split
      WHERE len(t) >= {_SHINGLE_N}
    ), ev AS (
      SELECT DISTINCT doc_id, shingle FROM sh, split WHERE doc_id >= eval_from
    ), tr AS (
      SELECT DISTINCT shingle FROM sh, split WHERE doc_id < eval_from
    ), own AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM ev GROUP BY doc_id
    ), hits AS (
      SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM ev JOIN tr ON ev.shingle = tr.shingle
      GROUP BY ev.doc_id
    )
    SELECT own.doc_id, own.n_shingles,
           COALESCE(hits.n_hits, 0) AS n_hits,
           {R4('COALESCE(hits.n_hits, 0) * 1.0 / own.n_shingles')} AS leak_ratio
    FROM own LEFT JOIN hits ON own.doc_id = hits.doc_id
    """,
    priority="P2",
    tags=("llm", "pipeline", "contamination"),
)
def q_eval_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity report — the flip side of `q_decontaminate`: for
    every HELD-OUT doc, what fraction of its 5-token shingles also
    appears anywhere in the training split (which benchmark items are
    compromised and by how much, the number an eval card publishes —
    vs decontaminate's training-side "which docs to drop").

    Scale: join direction is the one that survives 100 TB — the eval
    side is small by construction, so its (doc, shingle) index
    BROADCASTS while the training shingle stream flows map-side into
    the join (never a shuffle of the big side, plan-asserted for the
    decontaminate twin); per-eval-doc distinct-hit counts partial-agg.
    Training shingles are NOT pre-deduplicated — countDistinct after
    the join absorbs duplicates without a corpus-wide distinct."""
    d = spread(load(spark, sf_dir, "documents"))
    split = d.agg(
        F.floor(_EVAL_FRACTION * (F.max("doc_id") + 1))
        .cast("bigint")
        .alias("eval_from")
    )
    toks = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .crossJoin(F.broadcast(split))
    )

    ev = _doc_shingles(toks.where(F.col("doc_id") >= F.col("eval_from"))).distinct()
    own = ev.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"))
    tr = _doc_shingles(toks.where(F.col("doc_id") < F.col("eval_from"))).select("shingle")
    hits = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").cast("bigint").alias("n_hits"))
    )
    return own.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        r4(F.coalesce("n_hits", F.lit(0)) * 1.0 / F.col("n_shingles")).alias(
            "leak_ratio"
        ),
    )


_BOILER_N = 3  # n-gram width for the cross-document boilerplate model
_BOILER_DF = 3  # an n-gram is "boilerplate" once >= 3 distinct docs carry it


@register(
    "q_boilerplate_ngrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), ng AS (
      SELECT DISTINCT doc_id, lang, g FROM (
        SELECT doc_id, lang,
               unnest(list_transform(
                 generate_series(1, len(t) - {_BOILER_N - 1}),
                 i -> array_to_string(t[i:i+{_BOILER_N - 1}], ' '))) AS g
        FROM t WHERE len(t) >= {_BOILER_N})
    ), freq AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM ng GROUP BY g
    ), pd AS (
      SELECT ng.doc_id, ng.lang,
             CAST(COUNT(*) AS BIGINT) AS n_ngrams,
             CAST(SUM(CASE WHEN f.df >= {_BOILER_DF} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_common
      FROM ng JOIN freq f ON ng.g = f.g
      GROUP BY ng.doc_id, ng.lang
    )
    SELECT doc_id, lang, n_ngrams, n_common,
           {R4('n_common * 1.0 / n_ngrams')} AS common_frac,
           {R4('n_common * 1.0 / n_ngrams')} > 0.5 AS is_boilerplate
    FROM pd
    """,
    priority="P2",
    tags=("llm", "pipeline", "boilerplate", "dedup"),
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the RefinedWeb / C4
    "repeated n-gram" cut, CROSS-doc where `q_repetition_filter` is
    WITHIN-doc): an n-gram is boilerplate once >= _BOILER_DF distinct
    documents carry it; each document is scored by the fraction of its
    DISTINCT 3-grams that are boilerplate, and flagged when the
    (rounded) fraction exceeds 0.5 — headers, footers, and templated
    text score high, original prose low. On the shipped fixtures the
    flag is non-vacuous in both directions (~40 flagged of 500 at
    sf0.01, the planted re-ingest duplicates at fraction 1.0).

    Threshold on the ROUNDED fraction so the 0.5 boundary cannot flip
    cross-engine; counts are exact integers (DISTINCT n-grams per doc,
    distinct-doc frequency per n-gram).

    Scale: the (doc, n-gram) stream is distinct-ed once and
    checkpointed — the document-frequency model and the per-doc score
    both read it, ONE documents scan; the model join shuffles on the
    n-gram key (map-side combined counts). At 100 TB you'd threshold
    the model FIRST and broadcast only the >= df slice (it's the tiny
    side by Zipf), turning the scoring pass into a scan + broadcast
    lookup — same two-aggregation shape, no new primitive."""
    d = spread(load(spark, sf_dir, "documents"))
    tk = d.select("doc_id", "lang", F.split("text", " ").alias("t"))
    ng = (
        tk.where(F.size("t") >= _BOILER_N)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_BOILER_N - 1)),
                    lambda i: F.array_join(
                        F.slice("t", i, _BOILER_N), " "
                    ),
                )
            ).alias("g"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # df model + per-doc score — one scan
    )
    freq = ng.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    frac = F.col("n_common") * 1.0 / F.col("n_ngrams")
    return (
        ng.join(freq, "g")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum((F.col("df") >= _BOILER_DF).cast("int"))
            .cast("bigint")
            .alias("n_common"),
        )
        .select(
            "doc_id",
            "lang",
            "n_ngrams",
            "n_common",
            r4(frac).alias("common_frac"),
            (r4(frac) > 0.5).alias("is_boilerplate"),
        )
    )


_BADWORDS = ("slow", "big")  # deterministic blocklist over the fixture vocab
_BAD_DENSITY = 0.05  # density variant: drop when > 5% of tokens are listed


@register(
    "q_badwords_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), pd AS (
      SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(t, x -> x IN ('slow', 'big')))
               AS BIGINT) AS n_bad
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_drop_strict,
           CAST(SUM(CASE WHEN {R4('n_bad * 1.0 / n_tokens')} > {_BAD_DENSITY}
             THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_density,
           {R4("AVG(CASE WHEN n_bad > 0 THEN 0.0 ELSE 1.0 END)")}
             AS strict_retention,
           {R4(f"AVG(CASE WHEN {R4('n_bad * 1.0 / n_tokens')} > {_BAD_DENSITY}"
               " THEN 0.0 ELSE 1.0 END)")} AS density_retention
    FROM pd GROUP BY source
    """,
    priority="P2",
    tags=("llm", "pipeline", "filter", "quality"),
)
def q_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist ("badwords") filtering report — the C4 cleanup rule
    (Raffel et al. 2020: drop any page containing a listed word) beside
    the density variant RefinedWeb-style pipelines prefer (drop only
    when listed tokens exceed ``_BAD_DENSITY`` of the document): per
    source, the document count, how many each rule would drop, and the
    retention rates. The two columns quantify the known C4 failure mode
    — strict dropping is far more aggressive than density dropping
    (~93% vs ~65% of fixture docs hit, both directions non-vacuous).

    The density threshold applies to the ROUNDED token fraction so the
    boundary cannot flip cross-engine; all counts are exact integers.

    Scale: the blocklist test is a per-row array filter (no explode, no
    join — a real blocklist of a few hundred words stays a scan-side
    literal or broadcast set), then ONE map-side-combined aggregation
    to the source grain. This is the cheapest possible shape: a single
    pass, projection-pruned to (source, text)."""
    d = spread(load(spark, sf_dir, "documents"))
    t = d.select(
        "source", F.split("text", " ").alias("t")
    ).select(
        "source",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size(
            F.filter("t", lambda x: x.isin(*_BADWORDS))
        ).cast("bigint").alias("n_bad"),
    )
    density4 = r4(F.col("n_bad") * 1.0 / F.col("n_tokens"))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_bad") > 0).cast("int")).cast("bigint").alias(
            "n_drop_strict"
        ),
        F.sum((density4 > _BAD_DENSITY).cast("int")).cast("bigint").alias(
            "n_drop_density"
        ),
        r4(F.avg(F.when(F.col("n_bad") > 0, 0.0).otherwise(1.0))).alias(
            "strict_retention"
        ),
        r4(F.avg(F.when(density4 > _BAD_DENSITY, 0.0).otherwise(1.0))).alias(
            "density_retention"
        ),
    )


# Gopher rule thresholds (Rae et al. 2021, Table A1), adapted to the
# fixture corpus so every rule is non-vacuous in BOTH directions at the
# sf0.01 gate scale (production values in parentheses):
_GOPHER_WC_LO, _GOPHER_WC_HI = 20, 80  # word count (50 .. 100k)
_GOPHER_MWL_LO, _GOPHER_MWL_HI = 4.0, 5.0  # mean word length (3 .. 10)
_GOPHER_MIN_STOP = 2  # required stopword hits (>= 2 of a fixed list)
_GOPHER_MIN_UNIQ = 0.4  # distinct-word fraction (repetition proxy)
_GOPHER_STOPWORDS = ("the", "a")  # fixture slice of Gopher's 8-word list
_GOPHER_STOP_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)


@register(
    "q_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ), s AS (
      SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS n_words,
             {R4("list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w)")}
               AS mean_word_len,
             CAST(len(list_filter(w, x -> x IN ({_GOPHER_STOP_SQL})))
               AS BIGINT) AS n_stopwords,
             {R4("len(list_distinct(w)) * 1.0 / len(w)")} AS uniq_frac
      FROM t
    )
    SELECT doc_id, source, n_words, mean_word_len, n_stopwords, uniq_frac,
           n_words BETWEEN {_GOPHER_WC_LO} AND {_GOPHER_WC_HI} AS pass_word_count,
           mean_word_len BETWEEN {_GOPHER_MWL_LO} AND {_GOPHER_MWL_HI}
             AS pass_word_len,
           n_stopwords >= {_GOPHER_MIN_STOP} AS pass_stopwords,
           uniq_frac >= {_GOPHER_MIN_UNIQ} AS pass_uniq,
           (n_words BETWEEN {_GOPHER_WC_LO} AND {_GOPHER_WC_HI})
             AND (mean_word_len BETWEEN {_GOPHER_MWL_LO} AND {_GOPHER_MWL_HI})
             AND n_stopwords >= {_GOPHER_MIN_STOP}
             AND uniq_frac >= {_GOPHER_MIN_UNIQ} AS pass_all
    FROM s
    """,
    priority="P2",
    tags=("llm", "pipeline", "filter", "quality"),
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, Table A1):
    the published heuristic rule-set applied per document — word-count
    bounds, mean-word-length bounds, a minimum stopword count, and a
    minimum distinct-word fraction (the repetition proxy) — with one
    boolean per rule plus the conjunction. This is the NAMED filter set
    between the generic `q_quality_score` composite and the model-based
    gates (`q_ppl_bucket`, `q_dsir_weights`); thresholds are adapted to
    the fixture corpus (documented beside each constant) so every rule
    fires both ways at the gate scale: 142/112/172 docs fail the
    count/stopword/uniqueness rules and 207/500 pass all four at sf0.01.

    Both float features (mean word length, distinct fraction) are
    ROUNDED before their threshold comparison so an ulp of cross-engine
    noise cannot flip a rule flag.

    Scale: pure scan-side arithmetic — split, three array folds, zero
    shuffles, zero joins; the projection prunes to (doc_id, source,
    text). At 100 TB this is the cheapest pass in the pipeline and runs
    fused with ingestion; the stopword list stays a literal (Gopher's
    real list is 8 words)."""
    d = spread(load(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    s = d.select(
        "doc_id",
        "source",
        F.size(w).cast("bigint").alias("n_words"),
        r4(
            F.aggregate(
                F.transform(w, lambda x: F.length(x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            * 1.0
            / F.size(w)
        ).alias("mean_word_len"),
        F.size(F.filter(w, lambda x: x.isin(*_GOPHER_STOPWORDS)))
        .cast("bigint")
        .alias("n_stopwords"),
        r4(F.size(F.array_distinct(w)) * 1.0 / F.size(w)).alias("uniq_frac"),
    )
    pass_wc = F.col("n_words").between(_GOPHER_WC_LO, _GOPHER_WC_HI)
    pass_mwl = F.col("mean_word_len").between(_GOPHER_MWL_LO, _GOPHER_MWL_HI)
    pass_stop = F.col("n_stopwords") >= _GOPHER_MIN_STOP
    pass_uniq = F.col("uniq_frac") >= _GOPHER_MIN_UNIQ
    return s.select(
        "doc_id",
        "source",
        "n_words",
        "mean_word_len",
        "n_stopwords",
        "uniq_frac",
        pass_wc.alias("pass_word_count"),
        pass_mwl.alias("pass_word_len"),
        pass_stop.alias("pass_stopwords"),
        pass_uniq.alias("pass_uniq"),
        (pass_wc & pass_mwl & pass_stop & pass_uniq).alias("pass_all"),
    )


def _qc_weights(b: int = 64) -> list[float]:
    """Deterministic linear-classifier weights, one per hashed-feature
    bucket — md5("qw_{b}") first 6 hex chars scaled to [-1, 1), rounded
    to 6 dp so the literal embeds identically in both engines."""
    import hashlib

    return [
        round(
            int(hashlib.md5(f"qw_{i}".encode()).hexdigest()[:6], 16)
            / 16777216.0
            * 2.0
            - 1.0,
            6,
        )
        for i in range(b)
    ]


_QC_B = 64
_QC_W = _qc_weights(_QC_B)
_QC_W_SQL = "[" + ", ".join(f"{w!r}" for w in _QC_W) + "]"

# ONE definition of the hashed-classifier scored frame — the classifier
# itself AND its evaluations (q_roc_auc, q_calibration_ece) all read
# this, so the evaluations can never audit a stale scoring rule (review
# finding — the same no-inline-copy discipline as the split-leakage
# constants). Columns: doc_id, source, n_tokens, score (r4 mean bucket
# weight), label (C4 strict-blocklist verdict: doc is clean).
_QC_BAD_SQL = ", ".join(f"'{b}'" for b in _BADWORDS)
_QC_SCORED_SQL = f"""
      SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS n_tokens,
             {{score_expr}} AS score,
             len(list_filter(w, x -> x IN ({_QC_BAD_SQL}))) = 0 AS label
      FROM (SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents)
"""


def _qc_scored_sql() -> str:
    score_expr = R4(
        f"list_sum(list_transform(w, x -> ({_QC_W_SQL})["
        f"CAST(('0x' || substr(md5(x), 1, 6)) AS BIGINT)"
        f" % {_QC_B} + 1])) / len(w)"
    )
    return _QC_SCORED_SQL.format(score_expr=score_expr)


def _qc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    warr = F.array(*[F.lit(wt) for wt in _QC_W])
    tokens = F.split("text", " ")
    weights_of = F.transform(
        tokens,
        lambda x: F.element_at(
            warr,
            (
                F.conv(F.substring(F.md5(x), 1, 6), 16, 10).cast("bigint")
                % _QC_B
                + 1
            ).cast("int"),
        ),
    )
    score = r4(
        F.aggregate(weights_of, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(tokens)
    )
    label = F.size(F.filter(tokens, lambda x: x.isin(*_BADWORDS))) == 0
    return d.select(
        "doc_id",
        "source",
        F.size(tokens).cast("bigint").alias("n_tokens"),
        score.alias("score"),
        label.alias("label"),
    )


@register(
    "q_quality_classifier",
    oracle=f"""
    WITH s AS ({{scored}}
    )
    SELECT doc_id, source, n_tokens, score,
           {R4('1.0 / (1.0 + exp(-score))')} AS prob,
           score > 0 AS keep
    FROM s
    """.format(scored=_qc_scored_sql()),
    priority="P2",
    tags=("llm", "pipeline", "classifier", "quality"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring with a hashed linear classifier —
    the fastText-style gate GPT-3/LLaMA pipelines run against a
    "looks-like-Wikipedia" model (Brown et al. 2020 §A; Touvron et al.
    2023): every token hashes to one of {_QC_B} feature buckets, the
    document score is the mean bucket weight over its token
    occurrences, and keep = score > 0 (equivalently sigmoid prob >
    0.5). The weight vector here is a deterministic md5-derived
    stand-in — the Spark-side PLUMBING (hashed features, literal
    weight vector, scan-side scoring) is exactly what a real exported
    linear model needs; swapping in trained weights changes only the
    literal. Completes the quality-gate triad: rules
    (`q_gopher_rules`), target-domain LM (`q_ppl_bucket`), classifier
    (this).

    Determinism: md5 bucketing is bit-identical cross-engine (the
    `q_dsir_weights` precedent); weights are 6-dp literals embedded in
    BOTH engines; the score is an element-order fold over the token
    array (identical summation order), r4-rounded before the sigmoid
    and the keep threshold.

    Scale: zero shuffles, zero joins — a {_QC_B}-double literal rides
    the plan (a production 10^5-bucket model broadcasts instead) and
    scoring is one fused projection over the pruned (doc_id, source,
    text) scan. The cheapest possible classifier-inference shape."""
    s = _qc_scored(spark, sf_dir)
    return s.select(
        "doc_id",
        "source",
        "n_tokens",
        "score",
        r4(1.0 / (1.0 + F.exp(-F.col("score")))).alias("prob"),
        (F.col("score") > 0).alias("keep"),
    )


# The audited split rule IS q_split_assign's — import its constants so
# the audit can never drift from the split it claims to audit (review
# finding: an inline copy would silently keep auditing a stale rule).
from modforms_db_spark.llm.curation import _KNUTH as _SPLIT_KNUTH  # noqa: E402
from modforms_db_spark.llm.curation import _MOD as _SPLIT_MOD  # noqa: E402


@register(
    "q_split_leakage",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             sha256(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS group_key,
             CASE WHEN (doc_id * {_SPLIT_KNUTH}) % {_SPLIT_MOD} % 100 < 96
                    THEN 'train'
                  WHEN (doc_id * {_SPLIT_KNUTH}) % {_SPLIT_MOD} % 100 < 98
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT group_key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_val,
           CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test,
           CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
           COUNT(DISTINCT split) > 1 AS is_leaky
    FROM t GROUP BY group_key HAVING COUNT(*) >= 2
    """,
    priority="P2",
    tags=("llm", "pipeline", "split", "leakage", "dedup"),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit through duplicate clusters (the Lee et
    al. 2021 "Deduplicating Training Data" concern: near-dups of a test
    document sitting in train inflate eval): compose the canonical
    duplicate grouping (`q_dedup_canonical`'s token-set key) with the
    hash split (`q_split_assign`'s 96/2/2 rule) and report, per
    duplicate group, its per-split membership and whether it STRADDLES
    splits (`is_leaky`). 21 real groups at sf0.01, 3 of them leaky —
    the fix is splitting by group_key instead of doc_id, which this
    audit is the acceptance test for.

    Both composed rules are exact integer/string computations (sha256
    token-set key — the SAME key q_dedup_canonical emits, so the two
    outputs join; split constants imported from q_split_assign's
    module), so the output is deterministic with no float step at all.

    Scale: one scan projected to (doc_id, text) → per-row key + split
    derivation (pure projection) → ONE groupBy on the canonical key
    with conditional counts. Group count is bounded by the dup rate;
    HAVING ≥ 2 keeps only actual duplicate clusters. At 100 TB the
    same pass runs after MinHash-LSH components, grouping on the
    component id instead of the exact key — identical shape."""
    d = spread(load(spark, sf_dir, "documents"))
    b = (F.col("doc_id") * F.lit(_SPLIT_KNUTH)) % F.lit(_SPLIT_MOD) % 100
    t = d.select(
        F.sha2(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split("text", " ")))
            ),
            256,
        ).alias("group_key"),
        F.when(b < 96, "train").when(b < 98, "val").otherwise("test").alias(
            "split"
        ),
    )
    g = t.groupBy("group_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("split") == "train").cast("int"))
        .cast("bigint")
        .alias("n_train"),
        F.sum((F.col("split") == "val").cast("int"))
        .cast("bigint")
        .alias("n_val"),
        F.sum((F.col("split") == "test").cast("int"))
        .cast("bigint")
        .alias("n_test"),
        F.countDistinct("split").cast("bigint").alias("n_splits"),
    )
    return g.where(F.col("n_docs") >= 2).select(
        "group_key",
        "n_docs",
        "n_train",
        "n_val",
        "n_test",
        "n_splits",
        (F.col("n_splits") > 1).alias("is_leaky"),
    )


@register(
    "q_roc_auc",
    oracle=f"""
    WITH s AS ({{scored}}
    ), g AS (
      SELECT source, score,
             CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS nn
      FROM s GROUP BY source, score
    ), c AS (
      SELECT source, score, np, nn,
             CAST(COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS nn_below
      FROM g
    )
    SELECT source,
           CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg,
           CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
             {R4('SUM(np * (2 * nn_below + nn)) * 1.0'
                 ' / (2.0 * SUM(np) * SUM(nn))')}
           END AS auc
    FROM c GROUP BY source
    """.format(scored=_qc_scored_sql()),
    priority="P2",
    tags=("llm", "pipeline", "evaluation", "classifier"),
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC of the hashed quality classifier
    (`q_quality_classifier`'s score) against the C4 strict-blocklist
    verdict as ground truth, per source — the Mann-Whitney rank-sum
    identity AUC = P(score_pos > score_neg) + ½P(tie), computed from
    integer counts only: group to the (source, score) grain, cumulative
    negatives below each score, numerator Σ np·(2·nn_below + nn) in
    exact BIGINT halves — the single float step is the final division,
    r4-rounded. Sources with a degenerate class (no positives or no
    negatives) report NULL, the textbook undefined case.

    Scale: one scan → (source, score) grain aggregation (map-side
    combined; grain bounded by 4-dp score quantization × sources, NOT
    by row count) → source-partitioned cumulative window → per-source
    fold. The same shape computes AUC over billions of rows because
    only the quantized-score grain ever enters the window — the
    banded-rank trick applied to classifier evaluation."""
    s = _qc_scored(spark, sf_dir)
    g = s.groupBy("source", "score").agg(
        F.sum(F.col("label").cast("int")).cast("bigint").alias("np"),
        F.sum((~F.col("label")).cast("int")).cast("bigint").alias("nn"),
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.withColumn(
        "nn_below", F.coalesce(F.sum("nn").over(wc), F.lit(0)).cast("bigint")
    )
    num2 = F.sum(F.col("np") * (2 * F.col("nn_below") + F.col("nn")))
    return c.groupBy("source").agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.when(
            (F.sum("np") > 0) & (F.sum("nn") > 0),
            r4(num2 * 1.0 / (2.0 * F.sum("np") * F.sum("nn"))),
        ).alias("auc"),
    )


@register(
    "q_calibration_ece",
    oracle=f"""
    WITH s AS ({{scored}}
    ), p AS (
      SELECT source, label,
             {R4('1.0 / (1.0 + exp(-score))')} AS prob
      FROM s
    ), b AS (
      SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS BIGINT) AS bin_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             {R4('AVG(prob)')} AS avg_prob,
             {R4("AVG(CASE WHEN label THEN 1.0 ELSE 0.0 END)")} AS frac_pos
      FROM p GROUP BY 1
    ), spine AS (
      SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin_id
    ), g AS (
      SELECT spine.bin_id, CAST(COALESCE(n, 0) AS BIGINT) AS n,
             avg_prob, frac_pos,
             {R4('avg_prob - frac_pos')} AS gap
      FROM spine LEFT JOIN b USING (bin_id)
    )
    SELECT bin_id, n, avg_prob, frac_pos, gap,
           {R4('SUM(COALESCE(n * ABS(gap), 0.0)) OVER ()'
               ' / SUM(n) OVER ()')} AS ece
    FROM g
    """.format(scored=_qc_scored_sql()),
    priority="P2",
    tags=("llm", "pipeline", "evaluation", "calibration"),
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error (Guo et al.
    2017) for the hashed quality classifier: sigmoid probabilities
    bucketed into 10 equal-width bins, each bin reporting its count,
    mean predicted probability, and observed positive rate (C4
    strict-blocklist verdict as truth); ECE = Σ (n_b/N)·|gap_b| rides
    every row. The md5-derived stand-in weights make the EXPECTED
    readout "miscalibrated" — which is exactly what the audit must show
    for an untrained model; swap in trained weights and this becomes
    the production calibration gate next to `q_roc_auc`.

    Binning happens on the r4-ROUNDED probability (identical double in
    both engines) so a boundary-straddling prob cannot change bins
    cross-engine; the gap is rounded before |·| and the ECE sum runs
    over the ≤10-row bin frame (`q_srm_check`'s rounded-term-sum
    precedent).

    Scale: one scan → per-row score/prob arithmetic → ONE
    map-side-combined groupBy to the 10-row bin grain; the ECE window
    touches 10 rows at any corpus size."""
    s = _qc_scored(spark, sf_dir)
    p = s.select(
        "label", r4(1.0 / (1.0 + F.exp(-F.col("score")))).alias("prob")
    )
    b = (
        p.select(
            F.least(F.floor(F.col("prob") * 10), F.lit(9))
            .cast("bigint")
            .alias("bin_id"),
            "label",
            "prob",
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            r4(F.avg("prob")).alias("avg_prob"),
            r4(F.avg(F.col("label").cast("double"))).alias("frac_pos"),
        )
    )
    # Dense zero-filled bin spine (house curve-op discipline): the
    # untrained weights concentrate probs near 0.5, and the diagram must
    # SHOW the empty bins as n=0 rows rather than omit them.
    spine = spark.range(10).select(F.col("id").cast("bigint").alias("bin_id"))
    g = (
        spine.join(b, "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            "avg_prob",
            "frac_pos",
            r4(F.col("avg_prob") - F.col("frac_pos")).alias("gap"),
        )
    )
    wall = Window.partitionBy()
    return g.select(
        "bin_id",
        "n",
        "avg_prob",
        "frac_pos",
        "gap",
        r4(
            F.sum(F.coalesce(F.col("n") * F.abs(F.col("gap")), F.lit(0.0))).over(wall)
            / F.sum("n").over(wall)
        ).alias("ece"),
    )


# q_filter_ensemble treats five shipped filter rules as independent
# raters and reports their agreement. The rules import the SAME
# constants as their source operators (_GOPHER_*, _BADWORDS) — an
# inline copy would silently ensemble a stale rule (house shared-rule
# discipline).
_ENS_RATERS = 5
_ENS_MAJORITY = 3


@register(
    "q_filter_ensemble",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ), s AS (
      SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS n_words,
             {R4("list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w)")}
               AS mwl,
             CAST(len(list_filter(w, x -> x IN ({_GOPHER_STOP_SQL})))
               AS BIGINT) AS n_stop,
             {R4("len(list_distinct(w)) * 1.0 / len(w)")} AS uniq_frac,
             CAST(len(list_filter(w, x -> x IN ('slow', 'big')))
               AS BIGINT) AS n_bad
      FROM t
    ), v AS (
      SELECT source,
             CASE WHEN n_words BETWEEN {_GOPHER_WC_LO} AND {_GOPHER_WC_HI}
                  THEN 1 ELSE 0 END AS p1,
             CASE WHEN mwl BETWEEN {_GOPHER_MWL_LO} AND {_GOPHER_MWL_HI}
                  THEN 1 ELSE 0 END AS p2,
             CASE WHEN n_stop >= {_GOPHER_MIN_STOP} THEN 1 ELSE 0 END AS p3,
             CASE WHEN uniq_frac >= {_GOPHER_MIN_UNIQ} THEN 1 ELSE 0 END AS p4,
             CASE WHEN n_bad = 0 THEN 1 ELSE 0 END AS p5
      FROM s
    ), d AS (
      SELECT source, p1, p2, p3, p4, p5,
             p1 + p2 + p3 + p4 + p5 AS votes
      FROM v
    ), agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(p1) AS BIGINT) AS pass_word_count,
             CAST(SUM(p2) AS BIGINT) AS pass_word_len,
             CAST(SUM(p3) AS BIGINT) AS pass_stopwords,
             CAST(SUM(p4) AS BIGINT) AS pass_uniq,
             CAST(SUM(p5) AS BIGINT) AS pass_badwords,
             CAST(SUM(CASE WHEN votes = {_ENS_RATERS} THEN 1 ELSE 0 END)
                  AS BIGINT) AS pass_all_docs,
             CAST(SUM(CASE WHEN votes >= {_ENS_MAJORITY} THEN 1 ELSE 0 END)
                  AS BIGINT) AS pass_majority_docs,
             CAST(SUM(votes) AS BIGINT) AS sum_v,
             CAST(SUM(votes * votes) AS BIGINT) AS sum_v2
      FROM d GROUP BY source
    )
    SELECT source, n_docs, pass_word_count, pass_word_len, pass_stopwords,
           pass_uniq, pass_badwords, pass_all_docs, pass_majority_docs,
           {R4(f'sum_v / ({_ENS_RATERS}.0 * n_docs) * {_ENS_RATERS}')}
             AS mean_votes,
           CASE WHEN POW(sum_v / ({_ENS_RATERS}.0 * n_docs), 2)
                     + POW(1.0 - sum_v / ({_ENS_RATERS}.0 * n_docs), 2) = 1.0
                THEN NULL
                ELSE {R4(
                    f'((2.0 * sum_v2 - 10.0 * sum_v + 20.0 * n_docs)'
                    f' / (20.0 * n_docs)'
                    f' - (POW(sum_v / ({_ENS_RATERS}.0 * n_docs), 2)'
                    f'    + POW(1.0 - sum_v / ({_ENS_RATERS}.0 * n_docs), 2)))'
                    f' / (1.0 - (POW(sum_v / ({_ENS_RATERS}.0 * n_docs), 2)'
                    f'    + POW(1.0 - sum_v / ({_ENS_RATERS}.0 * n_docs), 2)))'
                )} END AS fleiss_kappa
    FROM agg
    """,
    priority="P2",
    tags=("llm", "pipeline", "filter", "quality"),
)
def q_filter_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ensemble agreement report: five shipped quality rules —
    Gopher's four (word count, mean word length, stopwords, distinct
    fraction; SAME `_GOPHER_*` constants as `q_gopher_rules`) plus the
    strict badwords rule (SAME `_BADWORDS` as `q_badwords_filter`) —
    treated as independent raters per document. Per source: each
    rule's pass count, unanimous and majority-vote keep counts, mean
    votes, and Fleiss' kappa (1971) over the five raters — the
    filter-disagreement diagnostic a curation pipeline reads before
    deciding whether to AND its rules (unanimity) or vote them
    (majority): kappa near 0 means the rules cut along independent
    axes and AND-ing multiplies their losses.

    Kappa is computed from three exact BIGINT scalars (n, Σv, Σv²):
    P̄ = (2Σv² − 10Σv + 20n)/(20n) for 5 raters × 2 categories, with
    the Pe = 1 degenerate case (all raters unanimous on every doc)
    null-guarded. r4 rounds only the final statistic.

    Scale: one scan-side pass computes every rule (array folds, no
    explode), then ONE map-side-combined aggregation to the source
    grain — the ensemble costs the same single pass as its cheapest
    member; adding raters adds columns, not shuffles.
    """
    d = spread(load(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    s = d.select(
        "source",
        F.size(w).cast("bigint").alias("n_words"),
        r4(
            F.aggregate(
                F.transform(w, lambda x: F.length(x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            * 1.0
            / F.size(w)
        ).alias("mwl"),
        F.size(F.filter(w, lambda x: x.isin(*_GOPHER_STOPWORDS)))
        .cast("bigint")
        .alias("n_stop"),
        r4(F.size(F.array_distinct(w)) * 1.0 / F.size(w)).alias("uniq_frac"),
        F.size(F.filter(w, lambda x: x.isin(*_BADWORDS)))
        .cast("bigint")
        .alias("n_bad"),
    )
    p1 = F.col("n_words").between(_GOPHER_WC_LO, _GOPHER_WC_HI).cast("int")
    p2 = F.col("mwl").between(_GOPHER_MWL_LO, _GOPHER_MWL_HI).cast("int")
    p3 = (F.col("n_stop") >= _GOPHER_MIN_STOP).cast("int")
    p4 = (F.col("uniq_frac") >= _GOPHER_MIN_UNIQ).cast("int")
    p5 = (F.col("n_bad") == 0).cast("int")
    v = s.select(
        "source",
        p1.alias("p1"),
        p2.alias("p2"),
        p3.alias("p3"),
        p4.alias("p4"),
        p5.alias("p5"),
        (p1 + p2 + p3 + p4 + p5).alias("votes"),
    )
    agg = v.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("p1").cast("bigint").alias("pass_word_count"),
        F.sum("p2").cast("bigint").alias("pass_word_len"),
        F.sum("p3").cast("bigint").alias("pass_stopwords"),
        F.sum("p4").cast("bigint").alias("pass_uniq"),
        F.sum("p5").cast("bigint").alias("pass_badwords"),
        F.sum(F.when(F.col("votes") == _ENS_RATERS, 1).otherwise(0))
        .cast("bigint")
        .alias("pass_all_docs"),
        F.sum(F.when(F.col("votes") >= _ENS_MAJORITY, 1).otherwise(0))
        .cast("bigint")
        .alias("pass_majority_docs"),
        F.sum("votes").cast("bigint").alias("sum_v"),
        F.sum(F.col("votes") * F.col("votes")).cast("bigint").alias("sum_v2"),
    )
    p = F.col("sum_v") / (float(_ENS_RATERS) * F.col("n_docs"))
    pe = F.pow(p, 2) + F.pow(1.0 - p, 2)
    pbar = (
        2.0 * F.col("sum_v2") - 10.0 * F.col("sum_v") + 20.0 * F.col("n_docs")
    ) / (20.0 * F.col("n_docs"))
    return agg.select(
        "source",
        "n_docs",
        "pass_word_count",
        "pass_word_len",
        "pass_stopwords",
        "pass_uniq",
        "pass_badwords",
        "pass_all_docs",
        "pass_majority_docs",
        r4(p * _ENS_RATERS).alias("mean_votes"),
        F.when(pe == 1.0, F.lit(None).cast("double"))
        .otherwise(r4((pbar - pe) / (1.0 - pe)))
        .alias("fleiss_kappa"),
    )


# Deterministic URL synthesis for the canonicalization row: 13 logical
# pages per source, five surface variants per page (keyed off doc_id//20
# = the source-local row index, so variants VARY within a source at every SF) (host case, www
# prefix, tracking query, fragment, trailing slash). SQL and Spark
# builders share these rule strings.
_URL_RAW_SQL = """
      CASE (doc_id // 20) % 5
        WHEN 0 THEN 'https://' || source || '.example.com/a/' || ((doc_id // 20) % 13)
        WHEN 1 THEN 'https://' || upper(source) || '.EXAMPLE.com/a/' || ((doc_id // 20) % 13)
        WHEN 2 THEN 'https://www.' || source || '.example.com/a/' || ((doc_id // 20) % 13)
        WHEN 3 THEN 'https://' || source || '.example.com/a/' || ((doc_id // 20) % 13)
                    || '?utm_source=feed&utm_campaign=x'
        ELSE 'https://' || source || '.example.com/a/' || ((doc_id // 20) % 13) || '/#sec'
      END
"""


@register(
    "q_url_canonicalize",
    oracle=f"""
    WITH u AS (
      SELECT source, {_URL_RAW_SQL} AS url FROM documents
    ), c AS (
      SELECT source, url,
             rtrim(
               replace(
                 regexp_replace(
                   regexp_replace(lower(url), '#.*$', ''),
                   '\\?utm_[a-z_=&]*$', ''),
                 '://www.', '://'),
               '/') AS canon
      FROM u
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_distinct,
           CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canon_distinct,
           {R4('1.0 - COUNT(DISTINCT canon) * 1.0 / COUNT(DISTINCT url)')}
             AS dup_reduction
    FROM c GROUP BY 1
    """,
    priority="P2",
    tags=("llm", "pipeline", "dedup"),
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + duplicate collapse — the FIRST dedup
    pass every web-corpus pipeline runs, before any content hashing
    (CommonCrawl-style: the same page arrives as case variants, with
    `www.`, with `utm_*` tracking params, with fragments, with
    trailing slashes): lowercase, strip fragment, strip tracking
    query, drop `www.`, trim the trailing slash, then count how many
    surface URLs collapse per canonical page. URLs are synthesized
    deterministically from (source, doc_id//20) — 13 logical pages and
    five surface variants per source, keyed off the source-LOCAL row
    index so variant classes mix within each source at every SF — so
    the expected collapse is structural, and
    the per-source reduction ratio is the audit. Sits one step before
    `q_dedup_exact` (content) and `q_dedup_canonical` (token-set) in
    the dedup ladder.

    Scale: per-row string rewrites inside codegen + one two-level
    distinct aggregate per source; no joins. At 100 TB the distincts
    are the only shuffles and both are map-side partially aggregated.
    """
    d = load(spark, sf_dir, "documents")
    k = F.floor(F.col("doc_id") / 20)
    page = (k % 13).cast("string")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    base = F.concat(F.lit("https://"), host, F.lit("/a/"), page)
    url = (
        F.when(k % 5 == 0, base)
        .when(
            k % 5 == 1,
            F.concat(
                F.lit("https://"),
                F.upper(F.col("source")),
                F.lit(".EXAMPLE.com/a/"),
                page,
            ),
        )
        .when(
            k % 5 == 2,
            F.concat(F.lit("https://www."), host, F.lit("/a/"), page),
        )
        .when(
            k % 5 == 3,
            F.concat(base, F.lit("?utm_source=feed&utm_campaign=x")),
        )
        .otherwise(F.concat(base, F.lit("/#sec")))
    )
    canon = F.regexp_replace(
        F.replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), "#.*$", ""),
                r"\?utm_[a-z_=&]*$",
                "",
            ),
            F.lit("://www."),
            F.lit("://"),
        ),
        "/+$",
        "",
    )
    c = d.select("source", url.alias("url")).select(
        "source", "url", canon.alias("canon")
    )
    return c.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("url").cast("bigint").alias("n_raw_distinct"),
        F.countDistinct("canon").cast("bigint").alias("n_canon_distinct"),
        r4(
            1.0
            - F.countDistinct("canon") * 1.0 / F.countDistinct("url")
        ).alias("dup_reduction"),
    )


@register(
    "q_lift_gains",
    oracle=f"""
    WITH s AS ({{scored}}
    ), r AS (
      SELECT source, doc_id, label,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM s
    ), d AS (
      SELECT source, ((rn - 1) * 10) // n_src + 1 AS decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM r GROUP BY 1, 2
    ), c AS (
      SELECT source, CAST(decile AS BIGINT) AS decile, n, n_pos,
             CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
             CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
             CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS tot_n,
             CAST(SUM(n_pos) OVER (PARTITION BY source) AS BIGINT) AS tot_pos
      FROM d
      WINDOW w AS (PARTITION BY source ORDER BY decile)
    )
    SELECT source, decile, n, n_pos,
           {R4('n_pos * 1.0 / n')} AS pos_rate,
           cum_pos,
           CASE WHEN tot_pos > 0 THEN
             {R4('(cum_pos * 1.0 / cum_n) / (tot_pos * 1.0 / tot_n)')}
           END AS cum_lift
    FROM c
    """.format(scored=_qc_scored_sql()),
    priority="P2",
    tags=("llm", "pipeline", "evaluation", "classifier"),
)
def q_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table for the hashed quality classifier —
    the third leg of the classifier-evaluation tripod beside
    `q_roc_auc` (ranking) and `q_calibration_ece` (probability): rank
    each source's documents by score, cut into ten equal-count
    deciles (ties broken by doc_id — a total order, so the cut is
    deterministic), and report per-decile positive rate plus
    cumulative lift over the source's base rate — "how much better
    than random is keeping only the top k/10 of the corpus", the
    exact curve a data-curation budget decision reads. Score/label
    frame SHARED with `q_roc_auc` (`_qc_scored` — an inline copy
    would silently audit a stale rule). Degenerate sources (no
    positives) report NULL lift.

    All counts are exact integers; rates and lifts are single
    divisions of integer counts, r4-rounded.

    Scale: the ranking window partitions by source; at 100 TB the
    decile cut switches to the banded-order device (the
    `q_win_ranking_scaled` twin discipline) — the per-source window
    here is the bounded-grain contract form.
    """
    s = _qc_scored(spark, sf_dir)
    wrank = Window.partitionBy("source").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    wsrc = Window.partitionBy("source")
    r = s.select(
        "source",
        "label",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wsrc).alias("n_src"),
    )
    d = r.groupBy(
        "source",
        (((F.col("rn") - 1) * 10 / F.col("n_src")).cast("bigint") + 1).alias(
            "decile"
        ),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("label").cast("int")).cast("bigint").alias("n_pos"),
    )
    wcum = Window.partitionBy("source").orderBy("decile")
    c = d.select(
        "source",
        F.col("decile").cast("bigint").alias("decile"),
        "n",
        "n_pos",
        F.sum("n").over(wcum).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(wcum).cast("bigint").alias("cum_pos"),
        F.sum("n").over(wsrc).cast("bigint").alias("tot_n"),
        F.sum("n_pos").over(wsrc).cast("bigint").alias("tot_pos"),
    )
    return c.select(
        "source",
        "decile",
        "n",
        "n_pos",
        r4(F.col("n_pos") * 1.0 / F.col("n")).alias("pos_rate"),
        "cum_pos",
        F.when(
            F.col("tot_pos") > 0,
            r4(
                (F.col("cum_pos") * 1.0 / F.col("cum_n"))
                / (F.col("tot_pos") * 1.0 / F.col("tot_n"))
            ),
        ).alias("cum_lift"),
    )


_CODE_SYM_RE = r"[;{}()=<>\[\]#:*]"
_CODE_KW_RE = r"\b(def|return|import|elif|lambda)\b"
_CODE_SYM_SQL = f"""(length(text) - length(regexp_replace(
                 text, '{_CODE_SYM_RE}', '', 'g')))
                 * 1.0 / length(text)"""
_CODE_SHARE_SQL = """COUNT(*) * 1.0
               / SUM(COUNT(*)) OVER (PARTITION BY source)"""


@register(
    "q_code_detect",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, 'code-plant' AS source,
             'def fn_' || CAST(doc_id AS VARCHAR) || '(n): # auto' ||
             chr(10) || '    total = n * 2;' || chr(10) ||
             '    if total > ' || CAST(n_chars AS VARCHAR) ||
             ': return total;' || chr(10) ||
             '    return fn_' || CAST(doc_id AS VARCHAR) || '(n + 1)'
               AS text
      FROM documents WHERE doc_id % 37 = 0
    ), pool AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL SELECT doc_id, source, text FROM planted
    ), feat AS (
      SELECT source,
             CAST(ROUND({R4(_CODE_SYM_SQL)} * 10000) AS BIGINT) AS sym_q,
             CAST(len(regexp_extract_all(text, '{_CODE_KW_RE}', 1))
                  AS BIGINT) AS kw
      FROM pool
    ), flagged AS (
      SELECT source, sym_q, kw,
             (sym_q >= 300 AND kw >= 2) AS is_code
      FROM feat
    )
    SELECT source, is_code,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sym_q) AS BIGINT) AS sum_sym_q,
           CAST(SUM(kw) AS BIGINT) AS sum_kw,
           {R4(_CODE_SHARE_SQL)}
             AS share_of_source
    FROM flagged GROUP BY 1, 2
    """,
    priority="P2",
    tags=("llm", "filter", "code"),
)
def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection over the corpus — the code-filtering
    gate every pre-training pipeline runs (route code to a code
    pipeline, keep prose corpora clean; the `q_gopher_rules` /
    `q_badwords_filter` sibling for the code axis). Two r4-rounded
    features, thresholded AFTER rounding (house boundary rule):
    symbol density (share of ;{{}}()=<>[]#:* characters — prose ≈ 0,
    code ≫ 0) and a count of code-only keywords (def/return/import/
    elif/lambda — deliberately EXCLUDES English words like 'if'/'for'
    so prose can't hit it); is_code = density ≥ 3% AND ≥ 2 keywords.
    The fixture corpus is symbol-free prose, so a deterministic
    planted set of code-ified docs (every doc_id ≡ 0 mod 37, rendered
    through a def/return template parameterized by the doc's own id
    and length) keeps BOTH verdicts live at every SF — vacuity
    discipline; recall on the plant is pinned by the law test.

    Output is the (source, is_code) audit grain: doc counts, exact
    integer feature masses (sym density rides as integer
    ten-thousandths), and each source's flagged share.

    Scale: one pass over the corpus — both features are per-row
    regex projections inside codegen, no UDF; the aggregate is
    partial+final on a low-cardinality grain; the share window runs
    on the ≤(sources×2)-row result, not the corpus.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text", "n_chars")
        .localCheckpoint(eager=False)  # organic + planted legs, one scan
    )
    planted = d.where(F.col("doc_id") % 37 == 0).select(
        "doc_id",
        F.lit("code-plant").alias("source"),
        F.concat(
            F.lit("def fn_"),
            F.col("doc_id").cast("string"),
            F.lit("(n): # auto\n    total = n * 2;\n    if total > "),
            F.col("n_chars").cast("string"),
            F.lit(": return total;\n    return fn_"),
            F.col("doc_id").cast("string"),
            F.lit("(n + 1)"),
        ).alias("text"),
    )
    pool = d.select("doc_id", "source", "text").unionByName(planted)
    length = F.length("text")
    sym = length - F.length(F.regexp_replace("text", _CODE_SYM_RE, ""))
    sym_q = (
        F.round(r4(sym * 1.0 / length) * 10000, 0).cast("bigint").alias("sym_q")
    )
    kw = F.size(F.regexp_extract_all("text", F.lit(_CODE_KW_RE), F.lit(1)))
    feat = pool.select("source", sym_q, kw.cast("bigint").alias("kw"))
    flagged = feat.select(
        "source",
        "sym_q",
        "kw",
        ((F.col("sym_q") >= 300) & (F.col("kw") >= 2)).alias("is_code"),
    )
    g = flagged.groupBy("source", "is_code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("sym_q").cast("bigint").alias("sum_sym_q"),
        F.sum("kw").cast("bigint").alias("sum_kw"),
    )
    w = Window.partitionBy("source")
    return g.select(
        "source",
        "is_code",
        "n_docs",
        "sum_sym_q",
        "sum_kw",
        r4(F.col("n_docs") * 1.0 / F.sum("n_docs").over(w)).alias(
            "share_of_source"
        ),
    )


_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


@register(
    "q_mojibake_audit",
    oracle=f"""
    WITH planted AS (
      SELECT source,
             chr(65533) || substr(text, 1, 40) || chr(7) ||
             substr(text, 41) || chr(65533) AS text
      FROM documents WHERE doc_id % 41 = 0
    ), pool AS (
      SELECT 'organic' AS variant, source, text FROM documents
      UNION ALL SELECT 'planted', source, text FROM planted
    ), feat AS (
      SELECT variant, source,
             CAST(length(text) - length(replace(text, chr(65533), ''))
                  AS BIGINT) AS n_repl,
             CAST(length(text) - length(regexp_replace(
                  text, '{_CTRL_RE}', '', 'g')) AS BIGINT) AS n_ctrl
      FROM pool
    )
    SELECT variant, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_repl + n_ctrl > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(SUM(n_repl) AS BIGINT) AS sum_repl,
           CAST(SUM(n_ctrl) AS BIGINT) AS sum_ctrl
    FROM feat GROUP BY 1, 2
    """,
    priority="P2",
    tags=("llm", "quality", "encoding"),
)
def q_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-glitch (mojibake) audit per source: counts of U+FFFD
    replacement characters (the tombstone a lossy decode leaves
    behind) and C0 control characters (minus tab/newline/CR) — the
    ingest-time health check every text pipeline runs before
    tokenization (`q_unicode_normalize` fixes normalization FORMS;
    this finds bytes that were already destroyed upstream). The
    fixture corpus is clean ASCII, so a planted variant (every
    doc_id ≡ 0 mod 41, with U+FFFD at both ends and a BEL in the
    middle — derived from the doc's own text, house planted-ground-
    truth rule) keeps the flagged branch live at every SF; the law
    test pins 100% plant detection and 0 organic flags.

    Counts are exact length deltas after targeted character
    removal — CHAR semantics on both engines (DuckDB `length`, not
    byte-`strlen`), no floats anywhere.

    Scale: per-row projections inside codegen (one replace + one
    regex), partial+final aggregate on the bounded
    (variant, source) grain; one documents scan (checkpointed base
    feeds both legs).
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=False)  # organic + planted legs, one scan
    )
    planted = d.where(F.col("doc_id") % 41 == 0).select(
        F.lit("planted").alias("variant"),
        "source",
        F.concat(
            F.lit("�"),
            F.substring("text", 1, 40),
            F.lit("\x07"),
            F.expr("substring(text, 41)"),
            F.lit("�"),
        ).alias("text"),
    )
    pool = d.select(
        F.lit("organic").alias("variant"), "source", "text"
    ).unionByName(planted)
    length = F.length("text")
    n_repl = (
        (length - F.length(F.replace(F.col("text"), F.lit("�"), F.lit(""))))
        .cast("bigint")
        .alias("n_repl")
    )
    n_ctrl = (
        (length - F.length(F.regexp_replace("text", _CTRL_RE, "")))
        .cast("bigint")
        .alias("n_ctrl")
    )
    feat = pool.select("variant", "source", n_repl, n_ctrl)
    return feat.groupBy("variant", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("n_repl") + F.col("n_ctrl") > 0, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_flagged"),
        F.sum("n_repl").cast("bigint").alias("sum_repl"),
        F.sum("n_ctrl").cast("bigint").alias("sum_ctrl"),
    )


_PAK_N = 10                     # samples per task
_PAK_KS = (1, 5, 10)            # k values reported
_PAK_FACT = (1, 1, 2, 6, 24, 120, 720, 5040, 40320, 362880, 3628800)
_PAK_FACT_SQL = (  # ::BIGINT on the head promotes the whole list
    "[1::BIGINT, " + ", ".join(str(f) for f in _PAK_FACT[1:]) + "]"
)


@register(
    "q_pass_at_k",
    oracle=f"""
    WITH tasks AS (
      SELECT doc_id AS task, (doc_id % 5) * 25 AS diff
      FROM documents WHERE doc_id < 200
    ), samples AS (
      SELECT task, diff, unnest(generate_series(0, {_PAK_N - 1})) AS s
      FROM tasks
    ), per_task AS (
      SELECT task,
             CAST(SUM(CASE WHEN ((task * 31 + s) * 2654435761) % 100 < diff
                           THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM samples GROUP BY task
    ), ks AS (
      SELECT unnest(ARRAY{list(_PAK_KS)}) AS k
    ), pk AS (
      SELECT k, task,
             CASE WHEN {_PAK_N} - c < k THEN 10000
                  ELSE CAST({R(f'(1.0 - CAST(({_PAK_FACT_SQL})[{_PAK_N} - c + 1]'
                              f' * ({_PAK_FACT_SQL})[{_PAK_N} - k + 1] AS DOUBLE)'
                              f' / (({_PAK_FACT_SQL})[{_PAK_N} - c - k + 1]'
                              f' * ({_PAK_FACT_SQL})[{_PAK_N + 1}])) * 10000', 0)}
                    AS BIGINT)
             END AS pass_q4
      FROM per_task CROSS JOIN ks
    )
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_tasks,
           {R4('SUM(pass_q4) * 1.0 / COUNT(*) / 10000')} AS mean_pass4
    FROM pk GROUP BY k
    """,
    priority="P2",
    tags=("llm", "evaluation", "pass-at-k"),
)
def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (Chen et al. 2021, the Codex estimator) over a
    synthetic eval harness: 200 tasks × 10 deterministic samples each
    (sample s of task t "passes" iff a Knuth hash clears the task's
    planted difficulty tier — 0/25/50/75/100%, so all-fail and
    all-pass tasks both exist at every SF), then
    pass@k = 1 − C(n−c, k)/C(n, k) per task and the mean over tasks
    for k = 1, 5, 10. THE sampled-eval metric of LLM pipelines; the
    naive "fraction of tasks with ≥1 pass in the first k" is biased —
    this combinatorial form is not.

    Determinism: the binomial ratio is computed from a SHARED literal
    factorial table — C(n−c,k)/C(n,k) = (n−c)!·(n−k)!/((n−c−k)!·n!),
    all products exact bigints (≤ 3628800², well inside range) — and
    each task's pass@k quantizes to integer ten-thousandths before the
    mean (order-independent sums); n−c < k short-circuits to exactly 1.

    Scale: sample fan-out is a per-task projection (n = 10 rows per
    task, map-side combined back to one row); everything downstream is
    per-(task, k) arithmetic — evaluation cost is linear in tasks."""
    tasks = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select(
            F.col("doc_id").alias("task"),
            ((F.col("doc_id") % 5) * 25).alias("diff"),
        )
    )
    samples = tasks.select(
        "task",
        "diff",
        F.explode(F.sequence(F.lit(0), F.lit(_PAK_N - 1))).alias("s"),
    )
    hit = (
        F.pmod(
            (F.col("task") * 31 + F.col("s"))
            * F.lit(2654435761).cast("bigint"),
            F.lit(100),
        )
        < F.col("diff")
    )
    per_task = samples.groupBy("task").agg(
        F.sum(hit.cast("int")).cast("bigint").alias("c")
    )
    fact = F.array(*(F.lit(f).cast("bigint") for f in _PAK_FACT))
    ks = samples.sparkSession.createDataFrame(
        [(k,) for k in _PAK_KS], "k int"
    )
    n = F.lit(_PAK_N)
    num = F.element_at(fact, (n - F.col("c") + 1).cast("int")) * F.element_at(
        fact, F.lit(_PAK_N - 0) - F.col("k") + 1
    )
    den = F.element_at(
        fact, (n - F.col("c") - F.col("k") + 1).cast("int")
    ) * F.lit(_PAK_FACT[_PAK_N]).cast("bigint")
    pass_q4 = F.when(n - F.col("c") < F.col("k"), F.lit(10000)).otherwise(
        F.round((1.0 - num.cast("double") / den) * 10000, 0).cast("bigint")
    )
    pk = per_task.crossJoin(F.broadcast(ks)).select(
        "k", pass_q4.alias("pass_q4")
    )
    return pk.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
        r4(F.sum("pass_q4") * 1.0 / F.count(F.lit(1)) / 10000).alias(
            "mean_pass4"
        ),
    )


@register(
    "q_bleu_ngram",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < 300
    ), pairs AS (
      SELECT a.doc_id AS pid, b.doc_id AS ref_id,
             a.toks AS ct, b.toks AS rt,
             len(a.toks) AS clen, len(b.toks) AS rlen
      FROM d a JOIN d b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    ), cg AS (
      SELECT pid, 1 AS n, unnest(ct) AS g FROM pairs
      UNION ALL
      SELECT pid, 2 AS n,
             unnest(list_transform(generate_series(1, len(ct) - 1),
               i -> ct[i] || ' ' || ct[i + 1])) AS g
      FROM pairs WHERE len(ct) >= 2
    ), rg AS (
      SELECT pid, 1 AS n, unnest(rt) AS g FROM pairs
      UNION ALL
      SELECT pid, 2 AS n,
             unnest(list_transform(generate_series(1, len(rt) - 1),
               i -> rt[i] || ' ' || rt[i + 1])) AS g
      FROM pairs WHERE len(rt) >= 2
    ), cc AS (
      SELECT pid, n, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM cg GROUP BY 1, 2, 3
    ), rc AS (
      SELECT pid, n, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM rg GROUP BY 1, 2, 3
    ), clip AS (
      SELECT cc.pid, cc.n,
             CAST(SUM(LEAST(cc.c, COALESCE(rc.c, 0))) AS BIGINT) AS hit,
             CAST(SUM(cc.c) AS BIGINT) AS tot
      FROM cc LEFT JOIN rc
        ON cc.pid = rc.pid AND cc.n = rc.n AND cc.g = rc.g
      GROUP BY 1, 2
    ), p AS (
      SELECT pid,
             CAST(MAX(CASE WHEN n = 1 THEN hit END) AS BIGINT) AS h1,
             CAST(MAX(CASE WHEN n = 1 THEN tot END) AS BIGINT) AS t1,
             CAST(COALESCE(MAX(CASE WHEN n = 2 THEN hit END), 0)
               AS BIGINT) AS h2,
             CAST(COALESCE(MAX(CASE WHEN n = 2 THEN tot END), 0)
               AS BIGINT) AS t2
      FROM clip GROUP BY pid
    )
    SELECT p.pid AS cand_id, pr.ref_id,
           {R4('h1 * 1.0 / t1')} AS p1_4,
           CASE WHEN t2 = 0 THEN 0.0 ELSE {R4('h2 * 1.0 / t2')} END AS p2_4,
           {R4('LEAST(1.0, EXP(1.0 - pr.rlen * 1.0 / pr.clen))')} AS bp4,
           CASE WHEN t2 = 0 OR h1 = 0 OR h2 = 0 THEN 0.0
                ELSE {R4('LEAST(1.0, EXP(1.0 - pr.rlen * 1.0 / pr.clen))'
                         ' * SQRT((h1 * 1.0 / t1) * (h2 * 1.0 / t2))')}
           END AS bleu2_4
    FROM p JOIN pairs pr ON p.pid = pr.pid
    """,
    priority="P2",
    tags=("llm", "evaluation", "bleu"),
)
def q_bleu_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 between adjacent same-language documents — modified
    (clipped) n-gram precision for n = 1, 2, brevity penalty, geometric
    mean: the standard generation-eval metric, run candidate-vs-
    reference over the corpus (near-dup fixture pairs score high,
    unrelated neighbors low — the metric's full range is exercised
    organically). Clipping (each candidate n-gram credits at most its
    reference count) is what stops "the the the" from gaming precision;
    the brevity penalty stops one-word candidates.

    Determinism: all n-gram counts are exact integers off per-pair
    grain joins; the only doubles are the final ratios, EXP and SQRT in
    ONE r4-rounded formula each (the `q_bigram_logprob` libm
    precedent). Candidates with no bigrams (len < 2) or zero hits
    null-guard to BLEU 0.

    Scale: pairing is a keyed self-join on doc_id+1 (no cross
    product); gram frames are linear in corpus tokens and collapse
    map-side to per-(pair, gram) counts before the one shuffle."""
    # spread(): the gram legs below explode + transform every token of
    # every pair — compute that must not inherit the single-file scan's
    # (or the bench panel's 4-way shuffle) parallelism (io.spread).
    d = (
        spread(
            load(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
        )
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
    )
    b = d.select(
        F.col("doc_id").alias("ref_id"),
        F.col("lang").alias("lang2"),
        F.col("toks").alias("rt"),
    )
    pairs = (
        d.join(
            b,
            (F.col("ref_id") == F.col("doc_id") + 1)
            & (F.col("lang") == F.col("lang2")),
        )
        .select(
            F.col("doc_id").alias("pid"),
            "ref_id",
            F.col("toks").alias("ct"),
            "rt",
            F.size("toks").alias("clen"),
            F.size("rt").alias("rlen"),
        )
    )
    # spread() AFTER the pair join: the four gram legs explode +
    # per-token transform off this frame, and the join's output would
    # otherwise carry the shuffle-partition count (4 on the bench
    # panel) into all of that compute. ~300 rows of token arrays move.
    pairs = spread(pairs).localCheckpoint(
        eager=False
    )  # gram legs ×4 + final join

    def grams(col: str, pre: str) -> DataFrame:
        uni = pairs.select(
            "pid", F.lit(1).alias("n"), F.explode(col).alias("g")
        )
        bi = pairs.where(F.size(col) >= 2).select(
            "pid",
            F.lit(2).alias("n"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(col) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col(col), i),
                        F.element_at(F.col(col), i + 1),
                    ),
                )
            ).alias("g"),
        )
        return (
            uni.unionByName(bi)
            .groupBy("pid", "n", "g")
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"{pre}c"))
        )

    cc = grams("ct", "c")
    rc = grams("rt", "r")
    clip = (
        cc.join(rc, ["pid", "n", "g"], "left")
        .groupBy("pid", "n")
        .agg(
            F.sum(F.least(F.col("cc"), F.coalesce(F.col("rc"), F.lit(0))))
            .cast("bigint")
            .alias("hit"),
            F.sum("cc").cast("bigint").alias("tot"),
        )
    )
    p = clip.groupBy("pid").agg(
        F.max(F.when(F.col("n") == 1, F.col("hit"))).cast("bigint").alias("h1"),
        F.max(F.when(F.col("n") == 1, F.col("tot"))).cast("bigint").alias("t1"),
        F.coalesce(F.max(F.when(F.col("n") == 2, F.col("hit"))), F.lit(0))
        .cast("bigint")
        .alias("h2"),
        F.coalesce(F.max(F.when(F.col("n") == 2, F.col("tot"))), F.lit(0))
        .cast("bigint")
        .alias("t2"),
    )
    bp = F.least(
        F.lit(1.0), F.exp(1.0 - F.col("rlen") * 1.0 / F.col("clen"))
    )
    p2 = F.col("h2") * 1.0 / F.col("t2")
    return p.join(
        pairs.select("pid", "ref_id", "clen", "rlen"), "pid"
    ).select(
        F.col("pid").alias("cand_id"),
        "ref_id",
        r4(F.col("h1") * 1.0 / F.col("t1")).alias("p1_4"),
        F.when(F.col("t2") == 0, F.lit(0.0)).otherwise(r4(p2)).alias("p2_4"),
        r4(bp).alias("bp4"),
        F.when(
            (F.col("t2") == 0) | (F.col("h1") == 0) | (F.col("h2") == 0),
            F.lit(0.0),
        )
        .otherwise(
            r4(bp * F.sqrt((F.col("h1") * 1.0 / F.col("t1")) * p2))
        )
        .alias("bleu2_4"),
    )


_CONF_ALPHAS = (10, 20)  # miscoverage levels, in percent


@register(
    "q_conformal_interval",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST({R('o_totalprice * 100', 0)} AS BIGINT) AS y2,
             (o_orderkey * 2654435761) % 4294967296 % 4 AS fold
      FROM orders
    ), train AS (SELECT * FROM base WHERE fold < 2),
    cal AS (SELECT * FROM base WHERE fold = 2),
    test AS (SELECT * FROM base WHERE fold = 3),
    model AS (
      SELECT o_orderpriority,
             CAST({R('AVG(y2)', 0)} AS BIGINT) AS yhat2
      FROM train GROUP BY 1
    ), gmean AS (
      SELECT CAST({R('AVG(y2)', 0)} AS BIGINT) AS g2 FROM train
    ), cal_r AS (
      SELECT ABS(c.y2 - COALESCE(m.yhat2, g.g2)) AS r,
             c.o_orderkey
      FROM cal c LEFT JOIN model m ON c.o_orderpriority = m.o_orderpriority
      CROSS JOIN gmean g
    ), cal_rank AS (
      SELECT r, CAST(ROW_NUMBER() OVER (ORDER BY r, o_orderkey) AS BIGINT)
               AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_cal
      FROM cal_r
    ), alphas AS (
      SELECT UNNEST({list(_CONF_ALPHAS)}) AS alpha_pct
    ), qhat AS (
      SELECT a.alpha_pct, cr.n_cal, CAST(cr.r AS BIGINT) AS qhat2
      FROM alphas a JOIN cal_rank cr
        ON cr.rn = CAST(CEIL((cr.n_cal + 1) * (100 - a.alpha_pct) / 100.0)
                        AS BIGINT)
    ), cov AS (
      SELECT q.alpha_pct, q.n_cal, q.qhat2,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(t.y2 - COALESCE(m.yhat2, g.g2))
                                <= q.qhat2
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM test t
      LEFT JOIN model m ON t.o_orderpriority = m.o_orderpriority
      CROSS JOIN gmean g
      JOIN qhat q ON true
      GROUP BY 1, 2, 3
    )
    SELECT alpha_pct, n_cal, n_test,
           {R2('qhat2 / 100.0')} AS qhat_dollars2,
           {R4('n_covered * 1.0 / n_test')} AS coverage4,
           {R4('n_covered * 1.0 / n_test - (100 - alpha_pct) / 100.0')}
             AS gap4
    FROM cov
    """,
    priority="P2",
    tags=("llm", "pipeline", "evaluation", "uncertainty"),
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al.) — the
    DISTRIBUTION-FREE uncertainty wrapper every point predictor in
    this repo lacks: fit any model on a train split (here the
    per-priority mean, deliberately crude — conformal corrects the
    model's confidence, not its accuracy), take the
    ceil((n_cal+1)(1-alpha))-th smallest absolute calibration
    residual as the interval half-width q-hat, and the marginal
    test coverage of [y-hat +/- q-hat] is GUARANTEED >= 1-alpha in
    expectation over exchangeable splits — no normality, no variance
    model (contrast `q_mde_power`'s parametric machinery). Reported
    per alpha in {{10%, 20%}} with the observed test coverage and
    its gap to the nominal level (small-sample fluctuation around a
    guaranteed-in-expectation target, NOT a bug — the law test pins
    the tolerance).

    Folds are a deterministic Knuth-hash split (50/25/25); prices
    carry as exact integer cents, residuals as exact bigints, the
    q-hat selection is a pure integer nearest-rank (never
    interpolated — the `q_tail_latency_slo` device), and coverage is
    one exact ratio r4.

    Scale: model and q-hat are broadcast-sized (5-row model, 2-row
    quantile); the calibration ranking is the banded-window device
    (no global single-task sort); train/cal/test legs are three
    sargable hash-predicate scans of one checkpointed projection."""
    from modforms_db_spark.operators.banded import with_banded_order

    base = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y2"),
            F.pmod(
                F.pmod(
                    F.col("o_orderkey") * F.lit(2654435761).cast("bigint"),
                    F.lit(4294967296),
                ),
                F.lit(4),
            ).alias("fold"),
        )
        .localCheckpoint(eager=False)  # train + cal + test legs — one scan
    )
    train = base.where(F.col("fold") < 2)
    cal = base.where(F.col("fold") == 2)
    test = base.where(F.col("fold") == 3)
    model = train.groupBy("o_orderpriority").agg(
        F.round(F.avg("y2"), 0).cast("bigint").alias("yhat2")
    )
    g2 = F.lit(
        train.agg(F.round(F.avg("y2"), 0).cast("bigint")).collect()[0][0]
    ).cast("bigint")
    cal_r = (
        cal.join(F.broadcast(model), "o_orderpriority", "left")
        .select(
            F.abs(F.col("y2") - F.coalesce(F.col("yhat2"), g2)).alias("r"),
            "o_orderkey",
        )
    )
    ranked = with_banded_order(cal_r, "r", ["o_orderkey"], rn_name="rn")
    n_cal = ranked.count()
    alphas = spark.range(len(_CONF_ALPHAS)).select(
        F.element_at(
            F.array(*[F.lit(a) for a in _CONF_ALPHAS]),
            (F.col("id") + 1).cast("int"),
        ).alias("alpha_pct")
    )
    k = F.ceil((n_cal + 1) * (100 - F.col("alpha_pct")) / 100.0).cast(
        "bigint"
    )
    qhat = (
        alphas.crossJoin(F.broadcast(ranked.select("r", "rn")))
        .where(F.col("rn") == k)
        .select(
            "alpha_pct",
            F.lit(n_cal).cast("bigint").alias("n_cal"),
            F.col("r").cast("bigint").alias("qhat2"),
        )
    )
    cov = (
        test.join(F.broadcast(model), "o_orderpriority", "left")
        .select(
            F.abs(F.col("y2") - F.coalesce(F.col("yhat2"), g2)).alias("r_t")
        )
        .crossJoin(F.broadcast(qhat))
        .groupBy("alpha_pct", "n_cal", "qhat2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("r_t") <= F.col("qhat2"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    coverage = F.col("n_covered") * 1.0 / F.col("n_test")
    return cov.select(
        "alpha_pct",
        "n_cal",
        "n_test",
        F.round(F.col("qhat2") / 100.0, 2).alias("qhat_dollars2"),
        r4(coverage).alias("coverage4"),
        r4(coverage - (100 - F.col("alpha_pct")) / 100.0).alias("gap4"),
    )


@register(
    "q_canary_audit",
    oracle="""
    WITH organic AS (
      SELECT doc_id, text AS payload, 'organic' AS family FROM documents
    ), eval_set AS (
      SELECT doc_id, substr(text, 1, 40) AS probe
      FROM documents WHERE doc_id % 97 = 0
    ), clean AS (
      SELECT -i AS doc_id,
             'canary unique tok' || i || ' alpha beta gamma delta epsilon'
               AS payload,
             'clean' AS family
      FROM (SELECT UNNEST(GENERATE_SERIES(1, 20)) AS i)
    ), dup AS (
      SELECT -(20 + i) AS doc_id,
             'dupcanary tok' || ((i - 1) % 10 + 1)
               || ' zeta eta theta iota kappa' AS payload,
             'duplicate' AS family
      FROM (SELECT UNNEST(GENERATE_SERIES(1, 20)) AS i)
    ), rep AS (
      SELECT -(40 + i) AS doc_id,
             'spam' || i || ' spam' || i || ' spam' || i || ' spam' || i
               || ' spam' || i AS payload,
             'repetitive' AS family
      FROM (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS i)
    ), leak AS (
      SELECT -(50 + ROW_NUMBER() OVER (ORDER BY e.doc_id)) AS doc_id,
             'canaryleak ' || substr(d.text, 1, 60) AS payload,
             'leaked' AS family
      FROM (SELECT doc_id FROM documents WHERE doc_id % 97 = 0
            ORDER BY doc_id LIMIT 10) e
      JOIN documents d ON d.doc_id = e.doc_id
    ), corpus AS (
      SELECT * FROM organic UNION ALL SELECT * FROM clean
      UNION ALL SELECT * FROM dup UNION ALL SELECT * FROM rep
      UNION ALL SELECT * FROM leak
    ), s1 AS (
      SELECT * FROM corpus
      WHERE doc_id IN (SELECT MIN(doc_id) FROM corpus GROUP BY payload)
    ), tok AS (
      SELECT doc_id, SUM(c) AS n_tok, MAX(c) AS max_c
      FROM (SELECT doc_id, t, COUNT(*) AS c
            FROM (SELECT doc_id, UNNEST(string_split(payload, ' ')) AS t
                  FROM s1)
            GROUP BY doc_id, t)
      GROUP BY doc_id
    ), s2 AS (
      SELECT s1.* FROM s1 JOIN tok ON s1.doc_id = tok.doc_id
      WHERE tok.max_c * 2 < tok.n_tok OR tok.n_tok < 2
    ), s3 AS (
      SELECT s2.* FROM s2
      WHERE NOT EXISTS (SELECT 1 FROM eval_set e
                        WHERE contains(s2.payload, e.probe))
    )
    SELECT c.family,
           CAST(COUNT(*) AS BIGINT) AS n_injected,
           CAST(SUM(CASE WHEN s1.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS after_dedup,
           CAST(SUM(CASE WHEN s2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS after_repfilter,
           CAST(SUM(CASE WHEN s3.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS after_decontam
    FROM corpus c
    LEFT JOIN (SELECT doc_id FROM s1) s1 ON c.doc_id = s1.doc_id
    LEFT JOIN (SELECT doc_id FROM s2) s2 ON c.doc_id = s2.doc_id
    LEFT JOIN (SELECT doc_id FROM s3) s3 ON c.doc_id = s3.doc_id
    GROUP BY c.family
    """,
    priority="P2",
    tags=("llm", "pipeline", "audit", "canary"),
)
def q_canary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canary-survival audit of the cleaning pipeline — the
    VALIDATION harness for the cleaning ops themselves (the
    data-side analog of memorization canaries: before trusting a
    pipeline on 100 TB, inject labeled probes and verify each gate
    catches exactly its own family): four planted canary families —
    clean (must survive everything), exact duplicates (the dedup
    gate halves them), repetitive spam (the repetition gate zeroes
    them), and eval-set leaks (the decontamination gate zeroes
    them) — ride through dedup -> repetition-filter -> decontaminate
    beside the organic corpus, with per-family survival counts at
    every stage. A gate that leaks its family, or bites a family it
    shouldn't, shows up as a wrong integer — the audit is exact, not
    statistical.

    Gates are the house rules in miniature: keep-min-id exact dedup
    (`q_dedup_exact`), max-token-frequency >= 1/2 repetition rule
    (`q_repetition_filter`'s family), and 40-char eval-prefix
    containment (`q_decontaminate`'s family). Canary ids are
    negative — disjoint from the corpus by construction.

    Scale: dedup is one hash shuffle on payload; the repetition gate
    is a token explode + two-level agg (map-side combined); the
    containment gate broadcasts the (corpus/97)-sized probe set — at
    100 TB that leg swaps to the bloom/LSH device `q_decontaminate`
    ships. Canary mass is constant (60 docs) at any corpus size."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    organic = docs.select(
        "doc_id", F.col("text").alias("payload"), F.lit("organic").alias("family")
    )
    eval_set = docs.where(F.col("doc_id") % 97 == 0).select(
        "doc_id", F.substring("text", 1, 40).alias("probe")
    )
    r20 = spark.range(1, 21).select(F.col("id").alias("i"))
    clean = r20.select(
        (-F.col("i")).alias("doc_id"),
        F.concat(
            F.lit("canary unique tok"),
            F.col("i"),
            F.lit(" alpha beta gamma delta epsilon"),
        ).alias("payload"),
        F.lit("clean").alias("family"),
    )
    dup = r20.select(
        (-(20 + F.col("i"))).alias("doc_id"),
        F.concat(
            F.lit("dupcanary tok"),
            ((F.col("i") - 1) % 10 + 1),
            F.lit(" zeta eta theta iota kappa"),
        ).alias("payload"),
        F.lit("duplicate").alias("family"),
    )
    r10 = spark.range(1, 11).select(F.col("id").alias("i"))
    spam = F.concat(
        F.lit("spam"), F.col("i"), F.lit(" spam"), F.col("i"),
        F.lit(" spam"), F.col("i"), F.lit(" spam"), F.col("i"),
        F.lit(" spam"), F.col("i"),
    )
    rep = r10.select(
        (-(40 + F.col("i"))).alias("doc_id"),
        spam.alias("payload"),
        F.lit("repetitive").alias("family"),
    )
    w_eval = Window.orderBy("doc_id")
    leak = (
        docs.join(
            F.broadcast(eval_set.select(F.col("doc_id").alias("e_id"))),
            F.col("doc_id") == F.col("e_id"),
        )
        .select("doc_id", "text")
        .withColumn("rn", F.row_number().over(w_eval))
        .where(F.col("rn") <= 10)
        .select(
            (-(50 + F.col("rn"))).cast("bigint").alias("doc_id"),
            F.concat(F.lit("canaryleak "), F.substring("text", 1, 60)).alias(
                "payload"
            ),
            F.lit("leaked").alias("family"),
        )
    )
    corpus = (
        organic.unionByName(clean)
        .unionByName(dup)
        .unionByName(rep)
        .unionByName(leak)
        .localCheckpoint(eager=False)  # stage legs + per-family report
    )
    keep = corpus.groupBy("payload").agg(F.min("doc_id").alias("doc_id"))
    s1 = corpus.join(keep.select("doc_id"), "doc_id")
    tok = (
        s1.select("doc_id", F.explode(F.split("payload", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tok"), F.max("c").alias("max_c"))
    )
    s2 = (
        s1.join(tok, "doc_id")
        .where((F.col("max_c") * 2 < F.col("n_tok")) | (F.col("n_tok") < 2))
        .select("doc_id", "payload")
    )
    probes = eval_set.select("probe")
    hit = (
        s2.join(F.broadcast(probes), F.expr("contains(payload, probe)"))
        .select("doc_id")
        .distinct()
    )
    s3 = s2.join(hit, "doc_id", "left_anti")
    rep_join = (
        corpus.join(
            s1.select(F.col("doc_id").alias("d1")),
            F.col("doc_id") == F.col("d1"),
            "left",
        )
        .join(
            s2.select(F.col("doc_id").alias("d2")),
            F.col("doc_id") == F.col("d2"),
            "left",
        )
        .join(
            s3.select(F.col("doc_id").alias("d3")),
            F.col("doc_id") == F.col("d3"),
            "left",
        )
    )
    return rep_join.groupBy("family").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_injected"),
        F.sum(F.when(F.col("d1").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("after_dedup"),
        F.sum(F.when(F.col("d2").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("after_repfilter"),
        F.sum(F.when(F.col("d3").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("after_decontam"),
    )


@register(
    "q_fairness_parity",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             CAST(n_chars AS BIGINT) AS n_chars,
             CASE WHEN len(string_split(text, ' ')) >= 55
                  THEN 1 ELSE 0 END AS gold
      FROM documents
    ), scoped AS (
      SELECT 'uniform_gate' AS scope, lang, gold,
             CASE WHEN n_chars > 250 THEN 1 ELSE 0 END AS pred
      FROM base
      UNION ALL
      SELECT 'biased_gate' AS scope, lang, gold,
             CASE WHEN n_chars > CASE WHEN lang = 'de' THEN 400 ELSE 250 END
                  THEN 1 ELSE 0 END AS pred
      FROM base
    ), per_group AS (
      SELECT scope, lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pred) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN pred = 1 AND gold = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pred = 1 AND gold = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(gold) AS BIGINT) AS n_gold_pos
      FROM scoped GROUP BY 1, 2
    ), overall AS (
      SELECT scope,
             {R('SUM(n_pos) * 1.0 / SUM(n)', 10)} AS rate_all
      FROM per_group GROUP BY 1
    )
    SELECT g.scope, g.lang, g.n,
           {R4('g.n_pos * 1.0 / g.n')} AS select_rate4,
           {R4('g.n_pos * 1.0 / g.n / o.rate_all')} AS parity_ratio4,
           {R4('g.tp * 1.0 / NULLIF(g.n_gold_pos, 0)')} AS tpr4,
           {R4('g.fp * 1.0 / NULLIF(g.n - g.n_gold_pos, 0)')} AS fpr4,
           {R4('g.n_pos * 1.0 / g.n / o.rate_all')} >= 0.8 AS passes_80pct
    FROM per_group g JOIN overall o ON g.scope = o.scope
    """,
    priority="P2",
    tags=("llm", "pipeline", "fairness", "audit"),
)
def q_fairness_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of a selection gate — demographic parity
    (four-fifths rule) plus equalized-odds ingredients (per-group
    TPR/FPR against a gold label) — the audit every CORPUS FILTER in
    this repo should face before running at 100 TB: a quality gate
    that silently under-selects one language group is a dataset bias
    amplifier (documented repeatedly for web-corpus filters), and
    the 80% rule is the standard first screen.

    Two scopes at every SF: a uniform length gate (every language's
    selection rate within family of the global rate — parity holds,
    honest negative) and a planted gate that holds 'de' to a stricter
    threshold — its parity ratio collapses and the 80% flag fires for
    exactly that group. Gold is the whitespace-token proxy (the
    `q_eval_confusion` device, thresholded above the gate's implied
    token count so all four confusion cells are populated), so
    TPR/FPR are real confusion rates,
    exact integer counts with NULLIF degenerate guards; one r4 ratio
    per metric.

    Scale: one pass to the (scope, lang) conditional-count grain,
    map-side combined; the overall rate joins back broadcast."""
    base = (
        load(spark, sf_dir, "documents")
        .select(
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            (F.size(F.split("text", " ")) >= 55).cast("int").alias("gold"),
        )
        .localCheckpoint(eager=False)  # two scope legs — one scan
    )
    scoped = base.select(
        F.lit("uniform_gate").alias("scope"),
        "lang",
        "gold",
        (F.col("n_chars") > 250).cast("int").alias("pred"),
    ).unionByName(
        base.select(
            F.lit("biased_gate").alias("scope"),
            "lang",
            "gold",
            (
                F.col("n_chars")
                > F.when(F.col("lang") == "de", 400).otherwise(250)
            )
            .cast("int")
            .alias("pred"),
        )
    )
    per_group = scoped.groupBy("scope", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pred").cast("bigint").alias("n_pos"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("gold") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("gold") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum("gold").cast("bigint").alias("n_gold_pos"),
    )
    overall = per_group.groupBy("scope").agg(
        F.round(F.sum("n_pos") * 1.0 / F.sum("n"), 10).alias("rate_all")
    )
    j = per_group.join(F.broadcast(overall), "scope")
    rate = F.col("n_pos") * 1.0 / F.col("n")
    parity = r4(rate / F.col("rate_all"))
    return j.select(
        "scope",
        "lang",
        "n",
        r4(rate).alias("select_rate4"),
        parity.alias("parity_ratio4"),
        r4(
            F.col("tp") * 1.0 / F.nullif(F.col("n_gold_pos"), F.lit(0))
        ).alias("tpr4"),
        r4(
            F.col("fp")
            * 1.0
            / F.nullif(F.col("n") - F.col("n_gold_pos"), F.lit(0))
        ).alias("fpr4"),
        (parity >= 0.8).alias("passes_80pct"),
    )


@register(
    "q_pr_auc",
    oracle=f"""
    WITH s AS ({{scored}}
    ), g AS (
      SELECT source, score,
             CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS nn
      FROM s GROUP BY source, score
    ), c AS (
      SELECT source, score, np, nn,
             CAST(SUM(np) OVER w AS BIGINT) AS tp,
             CAST(SUM(nn) OVER w AS BIGINT) AS fp
      FROM g
      WINDOW w AS (PARTITION BY source ORDER BY score DESC
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT source,
           CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg,
           CASE WHEN SUM(np) > 0 THEN
             {R4('SUM(np * (tp * 1.0 / (tp + fp))) / SUM(np)')}
           END AS ap
    FROM c GROUP BY source
    """.format(scored=_qc_scored_sql()),
    priority="P2",
    tags=("llm", "pipeline", "evaluation", "classifier"),
)
def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) of the hashed quality classifier —
    the IMBALANCE-honest companion to `q_roc_auc`: ROC-AUC stays
    high when negatives dominate because false positives drown in
    the big denominator; average precision scores against the
    positive class only, which is why retrieval and rare-defect
    gates report it. Tie-aware step form: score groups descend
    atomically, AP = sum over groups of np_g * P(at group boundary)
    / n_pos — every term an exact integer ratio off the cumulative
    (tp, fp) walk; one r4 at the end; degenerate no-positive sources
    report NULL (the textbook undefined case).

    Same scored frame, grain, and tiebreaks as `q_roc_auc`, so the
    two read as one evaluation suite.

    Scale: one scan to the (source, score) grain (bounded by 4-dp
    score quantization x sources), a source-partitioned cumulative
    window, a per-source reduce."""
    s = _qc_scored(spark, sf_dir)
    g = s.groupBy("source", "score").agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
        F.sum(F.when(F.col("label"), 0).otherwise(1))
        .cast("bigint")
        .alias("nn"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.select(
        "source",
        "np",
        "nn",
        F.sum("np").over(w).cast("bigint").alias("tp"),
        F.sum("nn").over(w).cast("bigint").alias("fp"),
    )
    ap = r4(
        F.sum(F.col("np") * (F.col("tp") * 1.0 / (F.col("tp") + F.col("fp"))))
        / F.sum("np")
    )
    return c.groupBy("source").agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.when(F.sum("np") > 0, ap).alias("ap"),
    )


@register(
    "q_brier_decomposition",
    oracle=f"""
    WITH s AS ({{scored}}
    ), binned AS (
      SELECT source,
             LEAST(9, GREATEST(0, CAST(FLOOR(score * 10) AS BIGINT))) AS b,
             CASE WHEN label THEN 1 ELSE 0 END AS o,
             score
      FROM s
    ), per_bin AS (
      SELECT source, b, CAST(COUNT(*) AS BIGINT) AS n_k,
             CAST(SUM(o) AS BIGINT) AS o_k,
             {R('AVG(score)', 10)} AS p_k
      FROM binned GROUP BY 1, 2
    ), tot AS (
      SELECT source, CAST(SUM(n_k) AS BIGINT) AS n,
             CAST(SUM(o_k) AS BIGINT) AS o_all
      FROM per_bin GROUP BY 1
    )
    SELECT p.source, t.n,
           {R4('SUM(p.n_k * (p.p_k - p.o_k * 1.0 / p.n_k)'
               '        * (p.p_k - p.o_k * 1.0 / p.n_k)) / MIN(t.n)')}
             AS reliability4,
           {R4('SUM(p.n_k * (p.o_k * 1.0 / p.n_k - t.o_all * 1.0 / t.n)'
               '        * (p.o_k * 1.0 / p.n_k - t.o_all * 1.0 / t.n))'
               ' / MIN(t.n)')} AS resolution4,
           {R4('(t.o_all * 1.0 / t.n) * (1 - t.o_all * 1.0 / t.n)')}
             AS uncertainty4
    FROM per_bin p JOIN tot t ON p.source = t.source
    GROUP BY p.source, t.n, t.o_all
    """.format(scored=_qc_scored_sql()),
    priority="P2",
    tags=("llm", "pipeline", "evaluation", "calibration"),
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — Brier = RELIABILITY
    - RESOLUTION + UNCERTAINTY — the diagnostic layer
    `q_calibration_ece` (which reports only the reliability-ish gap)
    cannot give: reliability says how far the forecast probabilities
    sit from observed rates (lower better), resolution says how much
    the forecasts actually DISCRIMINATE between outcomes (higher
    better), and uncertainty is the irreducible base-rate term — a
    forecaster can be perfectly calibrated and useless (resolution
    0), which is exactly the failure ECE hides.

    Uses the house scored frame (q_quality_classifier's score as
    probability proxy, C4 verdict as outcome) on the ECE 10-bin
    grid; per-bin forecast means r10, observed rates exact integer
    ratios, each component one r4 formula over the 10-row bin frame
    — with the binned forecast as the forecast, the three-term
    identity is exact by construction.

    Scale: one scan to the (source, bin) grain, map-side combined;
    everything downstream is 10-row frames per source."""
    s = _qc_scored(spark, sf_dir)
    binned = s.select(
        "source",
        F.least(
            F.lit(9), F.greatest(F.lit(0), F.floor(F.col("score") * 10))
        )
        .cast("bigint")
        .alias("b"),
        F.when(F.col("label"), 1).otherwise(0).alias("o"),
        "score",
    )
    per_bin = binned.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("o").cast("bigint").alias("o_k"),
        F.round(F.avg("score"), 10).alias("p_k"),
    ).localCheckpoint(eager=False)  # totals leg + component join — one scan
    tot = per_bin.groupBy("source").agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("o_k").cast("bigint").alias("o_all"),
    )
    j = per_bin.join(F.broadcast(tot), "source")
    o_rate = F.col("o_k") * 1.0 / F.col("n_k")
    base = F.col("o_all") * 1.0 / F.col("n")
    rel = r4(
        F.sum(F.col("n_k") * (F.col("p_k") - o_rate) * (F.col("p_k") - o_rate))
        / F.min("n")
    )
    res = r4(
        F.sum(F.col("n_k") * (o_rate - base) * (o_rate - base)) / F.min("n")
    )
    unc = r4(base * (1 - base))
    return j.groupBy("source", "n", "o_all").agg(
        rel.alias("reliability4"),
        res.alias("resolution4"),
        unc.alias("uncertainty4"),
    ).select("source", "n", "reliability4", "resolution4", "uncertainty4")


@register(
    "q_uplift_qini",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST({R('value * 100', 0)} AS BIGINT) AS s,
             (xor((event_id * 2654435761) % 4294967296,
                  ((event_id * 2654435761) % 4294967296) >> 16)) % 2 AS t,
             (xor((event_id * 1013904223) % 4294967296,
                  ((event_id * 1013904223) % 4294967296) >> 13)) % 100 AS u
      FROM events
    ), ranked AS (
      SELECT event_id, s, t, u,
             CAST(ROW_NUMBER() OVER (ORDER BY s DESC, event_id) AS BIGINT)
               AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM base
    ), units AS (
      SELECT t,
             CAST(CEIL(rn * 10.0 / n) AS BIGINT) AS decile,
             CASE WHEN u < 10 + 15 * t * (CASE WHEN rn * 10 <= 3 * n
                                               THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS y
      FROM ranked
    ), cells AS (
      SELECT decile, t, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS c
      FROM units GROUP BY 1, 2
    ), cum AS (
      SELECT a.decile,
             CAST(SUM(b.n) FILTER (b.t = 1) AS BIGINT) AS nt,
             CAST(SUM(b.c) FILTER (b.t = 1) AS BIGINT) AS ct,
             CAST(SUM(b.n) FILTER (b.t = 0) AS BIGINT) AS nc,
             CAST(SUM(b.c) FILTER (b.t = 0) AS BIGINT) AS cc
      FROM (SELECT DISTINCT decile FROM cells) a
      JOIN cells b ON b.decile <= a.decile
      GROUP BY 1
    )
    SELECT decile, nt, nc,
           {R4('ct - cc * nt * 1.0 / nc')} AS qini4,
           {R4(f"(SELECT {R4('ct - cc * nt * 1.0 / nc')}"
               " FROM cum WHERE decile = 10) * decile / 10.0")}
             AS random_baseline4
    FROM cum
    """,
    priority="P2",
    tags=("llm", "pipeline", "evaluation", "uplift"),
)
def q_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift-model evaluation — the INCREMENTALITY
    twin of `q_lift_gains` (gains curves score RESPONSE; Qini scores
    the treatment EFFECT captured by targeting depth k: cumulative
    treated conversions minus scaled control conversions among the
    top-k scored units, against the random-targeting straight line):
    the metric that decides "whom should we treat?" rather than "who
    will convert?".

    Synthetic panel with a known heterogeneous effect at every SF:
    treatment lifts conversion (+15 points) ONLY for the top-30%
    scored units (the score is a real uplift signal by construction),
    so the Qini curve must rise through deciles 1-3 and go FLAT
    after — sitting above the random baseline everywhere in between
    (law-pinned). Treatment and outcome come from independent
    avalanched hashes (the q_ipw_ate lesson); the decile split is an
    exact integer rank bucketing (banded rank in the Spark plan);
    cumulative cell counts are exact bigints; Qini values are single
    r4 formulas.

    Scale: one banded rank pass + a (decile, arm) cell collapse; the
    cumulative walk runs on the 20-row cell frame."""
    from modforms_db_spark.operators.banded import with_banded_order

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
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("s"),
        F.pmod(h(2654435761, 16), F.lit(2)).alias("t"),
        F.pmod(h(1013904223, 13), F.lit(100)).alias("u"),
    )
    ranked = with_banded_order(
        base, "s", ["event_id"], rn_name="rn", descending=True
    )
    n_total = ranked.count()
    units = ranked.select(
        "t",
        F.ceil(F.col("rn") * 10.0 / n_total).cast("bigint").alias("decile"),
        F.when(
            F.col("u")
            < 10
            + 15
            * F.col("t")
            * F.when(F.col("rn") * 10 <= 3 * n_total, 1).otherwise(0),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    cells = units.groupBy("decile", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("c"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wide = (
        cells.groupBy("decile")
        .agg(
            F.sum(F.when(F.col("t") == 1, F.col("n"))).alias("n_t"),
            F.sum(F.when(F.col("t") == 1, F.col("c"))).alias("c_t"),
            F.sum(F.when(F.col("t") == 0, F.col("n"))).alias("n_c"),
            F.sum(F.when(F.col("t") == 0, F.col("c"))).alias("c_c"),
        )
        .select(
            "decile",
            F.sum("n_t").over(w).cast("bigint").alias("nt"),
            F.sum("c_t").over(w).cast("bigint").alias("ct"),
            F.sum("n_c").over(w).cast("bigint").alias("nc"),
            F.sum("c_c").over(w).cast("bigint").alias("cc"),
        )
        .localCheckpoint(eager=False)  # final-point lookup + per-decile rows
    )
    qini = F.col("ct") - F.col("cc") * F.col("nt") * 1.0 / F.col("nc")
    final = wide.where(F.col("decile") == 10).select(
        r4(qini).alias("q_final")
    )
    return wide.crossJoin(F.broadcast(final)).select(
        "decile",
        "nt",
        "nc",
        r4(qini).alias("qini4"),
        r4(F.col("q_final") * F.col("decile") / 10.0).alias(
            "random_baseline4"
        ),
    )
