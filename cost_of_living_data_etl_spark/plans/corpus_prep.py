"""End-to-end training-corpus preparation pipeline.

The individual cleaning passes (exact dedup, n-gram decontamination,
heuristic quality scoring, sequence packing) each exist as standalone
catalog queries; this module composes them in the order a pretraining
data pipeline actually runs them and reports the per-language funnel —
the artifact a data-curation team reviews before a training run:

    input → dedup → (eval slice removed) → decontaminate → quality
          → pack into token-budget bins

Every stage is deterministic (salted-md5 hashing, fixed thresholds, no
RNG), so the WHOLE composite is mirrored as one DuckDB CTE chain and
hash-checked end-to-end — not just stage-by-stage.

Scale shape: stages 1-4 are map-only over the corpus plus shuffles on
8-byte hashes or doc_ids only (never text); the packing window sorts
(lang, doc_id) pairs; the funnel report aggregates per-doc rows into
|langs| output rows. A 100 TB run replaces the in-plan composition
with the same stages checkpointed to parquet between passes (each
stage's output is a doc_id set — tiny next to the corpus), which also
makes the funnel incremental: only new ingest batches re-run stages.

The reference has no multi-stage data-quality pipeline at all
(SURVEY §2.5 — its three transforms are schema conforming only,
reference app.py:33-103); this is a north-star composite.

Corpus length and vocabulary statistics sit beside the pipeline:
exact length order statistics and decile concentration (distributed
ranks, no single-task window), the Hill tail index of document
lengths, tokenizer fertility per language, distinct-n diversity and
the top-k vocabulary coverage curve.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cost_of_living_data_etl_spark.functions.columns import det_sum
from cost_of_living_data_etl_spark.operators.decontam import (
    EVAL_MOD,
    NGRAM_N,
    _HASH_SQL,
    _word_ngrams_sql,
)
from cost_of_living_data_etl_spark.operators.textstats import (
    STOPWORDS_EN,
    quality_score,
)
from cost_of_living_data_etl_spark.plans.catalog import register
from cost_of_living_data_etl_spark.sources.tables import load_table

QUALITY_MIN = 0.52  # ~bottom decile of the fixture corpus in every language
PACK_BUDGET = 2048  # characters per packed bin (token stand-in)

# DuckDB mirror of textstats.quality_score — SAME operation order so
# IEEE arithmetic is bit-identical and the >= threshold cannot flip
# between engines.
_WORDS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"
# single-sourced from textstats.STOPWORDS_EN — a hand-copied list here
# would drift silently on the Python side (the oracle gate only
# catches it after the fact)
_STOPS = "(" + ",".join(f"'{w}'" for w in STOPWORDS_EN) + ")"
_QUALITY_SQL = f"""
    least(length(text) / 500.0, 1.0) * 0.4
    + least((length(list_filter({_WORDS_SQL}, w -> w IN {_STOPS})) * 1.0
             / greatest(length({_WORDS_SQL}), 1)) * 4, 1.0) * 0.2
    + greatest(0.0, 1.0 - (length(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
                           / greatest(length(text), 1)) * 5) * 0.2
    + greatest(0.0, 1.0 - (length(regexp_extract_all(text, '[0-9]')) * 1.0
                           / greatest(length(text), 1)) * 5) * 0.2
"""

_FUNNEL_ORACLE = f"""
WITH kept AS (  -- exact dedup: keeper = min doc_id per content hash
    SELECT min(doc_id) AS doc_id
    FROM documents GROUP BY md5(text)
),
train AS (      -- eval slice is held out, not trained on
    SELECT d.* FROM documents d JOIN kept USING (doc_id)
    WHERE d.doc_id % {EVAL_MOD} <> 0
),
grams AS (
    SELECT doc_id,
           list_distinct(list_transform({_word_ngrams_sql(NGRAM_N)},
                                        g -> {_HASH_SQL})) AS hset
    FROM documents
),
eval_hashes AS (
    SELECT DISTINCT unnest(hset) AS h FROM grams WHERE doc_id % {EVAL_MOD} = 0
),
contaminated AS (
    SELECT DISTINCT g.doc_id
    FROM (SELECT doc_id, unnest(hset) AS h FROM grams
          WHERE doc_id % {EVAL_MOD} <> 0) g
    JOIN eval_hashes e ON g.h = e.h
),
clean AS (
    SELECT t.* FROM train t ANTI JOIN contaminated c ON t.doc_id = c.doc_id
),
final AS (
    SELECT *, {_QUALITY_SQL} AS quality FROM clean
    WHERE {_QUALITY_SQL} >= {QUALITY_MIN}
),
packed AS (
    SELECT lang, doc_id, n_chars,
           CAST(coalesce(sum(n_chars) OVER (
                    PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) // {PACK_BUDGET} AS BIGINT) AS bin_id
    FROM final
),
per_lang AS (
    SELECT lang,
           CAST(count(*) AS BIGINT)          AS n_final,
           CAST(sum(n_chars) AS BIGINT)      AS final_chars,
           CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins
    FROM packed GROUP BY lang
)
SELECT
    i.lang,
    CAST(i.n_input AS BIGINT)                AS n_input,
    CAST(t.n_train AS BIGINT)                AS n_after_dedup,
    CAST(t.n_train - c.n_clean AS BIGINT)    AS n_contaminated,
    p.n_final,
    p.final_chars,
    p.n_bins
FROM (SELECT lang, count(*) AS n_input FROM documents GROUP BY lang) i
JOIN (SELECT lang, count(*) AS n_train FROM train GROUP BY lang) t USING (lang)
JOIN (SELECT lang, count(*) AS n_clean FROM clean GROUP BY lang) c USING (lang)
JOIN per_lang p USING (lang)
"""


def doc_signals(docs: DataFrame) -> DataFrame:
    """ONE map pass over the corpus computing every text-derived signal
    — content hash, quality score, n-gram hash set — then dropping the
    text column: (doc_id, lang, n_chars, h, quality, hset), persisted.

    This is the load-bearing scale decision of the pipeline: document
    text never crosses an exchange. Every downstream shuffle (dedup
    window, contamination probe, funnel aggregates, packing window)
    operates on this slim frame — a few hundred bytes/doc independent
    of document size. Quality is therefore scored for ALL documents
    rather than only dedup survivors; at 100 TB trading ~10% extra
    map-side regex work for text-free shuffles is decisively right.
    At that scale this frame is what gets checkpointed to parquet
    between the corpus scan and everything else.
    """
    from pyspark import StorageLevel

    from cost_of_living_data_etl_spark.operators.decontam import (
        _HASH_LAMBDA_SPARK,
        _word_ngrams_spark,
    )

    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            F.md5("text").alias("h"),
            quality_score(F.col("text")).alias("quality"),
            F.trim(F.col("text")).alias("t"),
        )
        .select("*", F.split("t", r"\s+").alias("ws"))
        .selectExpr(
            "doc_id",
            "lang",
            "n_chars",
            "h",
            "quality",
            f"array_distinct(transform({_word_ngrams_spark(NGRAM_N)}, "
            f"g -> {_HASH_LAMBDA_SPARK})) AS hset",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def contaminated_doc_ids(signals: DataFrame) -> DataFrame:
    """Train doc_ids sharing ≥1 word-NGRAM_N-gram with the eval slice
    (same broadcast-probe shape as q_decontaminate_ngram), read from
    the persisted signal frame — no text pass of its own."""
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_hashes = (
        signals.filter(is_eval).select(F.explode("hset").alias("g")).distinct()
    )
    return (
        signals.filter(~is_eval)
        .select("doc_id", F.explode("hset").alias("g"))
        .join(F.broadcast(eval_hashes), "g")
        .select("doc_id")
        .distinct()
    )


def annotate_docs(docs: DataFrame) -> DataFrame:
    """Slim per-document frame with one flag per pipeline stage:
    (doc_id, lang, n_chars, is_keeper, is_eval, is_contam, quality).

    Built entirely from the single-text-pass signal frame: the keeper
    flag is a row_number over the content-hash partition (keeper =
    lowest doc_id per md5 — one slim shuffle, no join-back), the
    contamination flag a left join of the probe result.
    """
    signals = doc_signals(docs)
    keeper_w = Window.partitionBy("h").orderBy("doc_id")
    contam = contaminated_doc_ids(signals).withColumn("is_contam", F.lit(True))
    return (
        signals.withColumn("is_keeper", F.row_number().over(keeper_w) == 1)
        .withColumn("is_eval", F.col("doc_id") % EVAL_MOD == 0)
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "is_keeper",
            "is_eval",
            F.coalesce("is_contam", F.lit(False)).alias("is_contam"),
            "quality",
        )
    )


def prepare_corpus(docs: DataFrame) -> DataFrame:
    """Cleaned, packed corpus: the per-document output of the funnel
    (doc_id, lang, n_chars, quality, bin_id)."""
    return _pack(_final(annotate_docs(docs)))


def _final(ann: DataFrame) -> DataFrame:
    return ann.filter(
        F.col("is_keeper")
        & ~F.col("is_eval")
        & ~F.col("is_contam")
        & (F.col("quality") >= QUALITY_MIN)
    )


def _pack(final: DataFrame) -> DataFrame:
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return final.select(
        "doc_id",
        "lang",
        "n_chars",
        "quality",
        (F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / PACK_BUDGET)
        .cast("bigint")
        .alias("bin_id"),
    )


@register(
    "q_corpus_prep_funnel",
    oracle=_FUNNEL_ORACLE,
    tags=("training-data", "pipeline", "dedup", "decontam", "quality", "packing"),
)
def q_corpus_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language funnel report of the full corpus-prep pipeline:
    input → exact dedup → eval holdout → decontamination → quality
    floor → packing. The composite (not just each stage) is mirrored
    in DuckDB and hash-checked, so stage wiring errors — filtering the
    wrong side, dedup after decontam, packing pre-filter docs — are
    caught, not just per-stage math.
    """
    from pyspark import StorageLevel

    # persist the annotated frame: BOTH funnel branches (stage counts
    # and the pack/final rollup) consume it, and only the upstream
    # doc_signals is cached — without this the keeper window and the
    # decontamination probe re-execute once per branch. Slim rows
    # (signals only, no text); lives until session end like the other
    # multi-consumer caches (at 100 TB: a parquet checkpoint).
    ann = annotate_docs(load_table(spark, sf_dir, "documents")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    train = F.col("is_keeper") & ~F.col("is_eval")
    stage_counts = ann.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count_if(train).alias("n_after_dedup"),
        F.count_if(train & F.col("is_contam")).alias("n_contaminated"),
    )
    per_lang = _pack(_final(ann)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_final"),
        F.sum("n_chars").alias("final_chars"),
        F.count_distinct("bin_id").alias("n_bins"),
    )
    return stage_counts.join(per_lang, "lang").select(
        "lang",
        "n_input",
        "n_after_dedup",
        "n_contaminated",
        "n_final",
        "final_chars",
        "n_bins",
    )


@register(
    "q_quality_dup_deciles",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, n_chars,
               {_QUALITY_SQL} AS quality,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
        FROM documents
    ),
    binned AS (
        SELECT *, CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS BIGINT) AS decile
        FROM scored
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           count(*) FILTER (WHERE is_dup) / CAST(count(*) AS DOUBLE) AS dup_rate,
           avg(quality) AS avg_quality,
           avg(n_chars) AS avg_chars
    FROM binned GROUP BY decile
    """,
    tags=("quality", "dedup", "diagnostics", "training-data"),
)
def q_quality_dup_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal diagnostic: exact-duplicate rate per quality
    decile — the curation sanity check that low-quality strata are
    (usually) also the duplicated strata, which decides whether dedup
    or quality filtering runs first and how much each can claim.

    The quality expression is the SAME bit-identical Spark/DuckDB pair
    the funnel uses, so decile boundaries agree across engines. The
    decile split is the EXACT distributed ntile (bucket-partitioned
    zipWithIndex over floor(quality·4096) + closed-form tile math,
    operators/distributed_rank.py) — no single-partition window over
    the corpus.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_ntile,
    )

    from cost_of_living_data_etl_spark.functions.checkpoints import (
        eager_checkpoint,
    )

    docs = load_table(spark, sf_dir, "documents")
    dup_w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    scored = docs.select(
        "doc_id",
        "n_chars",
        quality_score(F.col("text")).alias("quality"),
        (F.row_number().over(dup_w) > 1).alias("is_dup"),
    ).transform(eager_checkpoint)  # quality+md5 text pass runs once
    binned = with_global_ntile(
        scored,
        10,
        ["quality", "doc_id"],
        F.floor(F.col("quality") * 4096),
        out_col="__tile",
    ).withColumn("decile", F.col("__tile").cast("long"))
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count_if("is_dup") / F.count(F.lit(1)).cast("double")).alias("dup_rate"),
        F.avg("quality").alias("avg_quality"),
        F.avg("n_chars").alias("avg_chars"),
    )


CHUNK_W = 64  # tokens per training chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (overlap = W - stride)


@register(
    "q_chunk_documents_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
        WHERE text IS NOT NULL
    ),
    n AS (
        SELECT doc_id, toks, length(toks) AS n_tokens,
               CASE WHEN length(toks) <= {CHUNK_W} THEN 1
                    ELSE ((length(toks) - {CHUNK_W} + {CHUNK_STRIDE} - 1)
                          // {CHUNK_STRIDE}) + 1 END AS n_chunks
        FROM t
    ),
    c AS (
        SELECT doc_id, n_tokens,
               unnest(range(0, n_chunks)) AS i,
               toks
        FROM n
    )
    SELECT
        CAST(doc_id AS BIGINT)  AS doc_id,
        CAST(i AS INT)          AS chunk_idx,
        CAST(n_tokens AS INT)   AS n_doc_tokens,
        CAST(length(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                               i * {CHUNK_STRIDE} + {CHUNK_W})) AS INT)
                                AS n_chunk_tokens,
        md5(array_to_string(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                                       i * {CHUNK_STRIDE} + {CHUNK_W}), ' '))
                                AS chunk_hash
    FROM c
    """,
    tags=("corpus-prep", "chunking", "training-data"),
)
def q_chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for context-window training:
    each document becomes ceil((n-W)/stride)+1 overlapping chunks of
    W={CHUNK_W} tokens with stride {CHUNK_STRIDE} (16-token overlap so
    no boundary context is lost between consecutive chunks).

    Emits (doc_id, chunk_idx, token counts, chunk md5) — the chunk
    MANIFEST, not chunk text: the whole computation is one map-only
    pass of native array expressions (split → filter → per-index
    slice → hash) with zero shuffles, and what flows downstream (for
    chunk-level dedup or packing) is 16-byte hashes. At 100 TB the
    identical plan applies; materializing chunk text would multiply
    corpus bytes by W/stride ≈ 1.33×, while the manifest is ~40 B/chunk.

    Boundary semantics are pinned by integer arithmetic shared with
    the oracle: short docs (n ≤ W) yield exactly one chunk; the last
    chunk may be shorter than W (slice clamps at both engines).
    """
    # NULL text is dropped on BOTH engines (Spark's legacy size(NULL)
    # = -1 would otherwise fabricate a bogus single chunk while DuckDB
    # emits no rows — a silent oracle divergence)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = "filter(split(trim(text), '\\\\s+'), x -> x != '')"
    n_chunks = (
        f"CASE WHEN size(toks) <= {CHUNK_W} THEN 1 "
        f"ELSE ((size(toks) - {CHUNK_W} + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE}) + 1 END"
    )
    chunk = (
        f"slice(toks, i * {CHUNK_STRIDE} + 1, {CHUNK_W})"
    )
    return (
        docs.select("doc_id", F.expr(toks).alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("int").alias("n_doc_tokens"),
            "toks",
            F.explode(F.expr(f"sequence(0, {n_chunks} - 1)")).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("chunk_idx"),
            "n_doc_tokens",
            F.expr(f"size({chunk})").cast("int").alias("n_chunk_tokens"),
            F.md5(F.expr(f"array_join({chunk}, ' ')")).alias("chunk_hash"),
        )
    )


# --------------------------------------------------------------------------
# tokenizer fertility by language (BPE-ish regex vs whitespace)
# --------------------------------------------------------------------------

#: GPT-2-style pretokenizer shape, shared by both engines: word pieces,
#: number runs, or single non-space symbols.
_BPEISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_FERTILITY_ORACLE = f"""
WITH t AS (
    SELECT lang,
           CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_words,
           CAST(length(regexp_extract_all(text, '{_BPEISH}')) AS BIGINT)
             AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       sum(n_tokens) * 1.0 / sum(n_words) AS tokens_per_word,
       sum(n_chars) * 1.0 / nullif(sum(n_tokens), 0) AS chars_per_token
FROM t GROUP BY lang
"""


@register(
    "q_tokenizer_fertility_by_lang",
    oracle=_FERTILITY_ORACLE,
    tags=("text", "tokens", "tokenizer"),
)
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and characters per token — the numbers that expose when a
    tokenizer trained on one language explodes another into symbol
    soup (fertility 3× ⇒ that language pays 3× the context budget for
    the same text). One regex pass in the scan projection (counts
    only cross the Exchange), exact-integer sums, |langs| output rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Spark SQL string literals process backslash escapes ('\s' parses
    # as plain 's'!) while DuckDB's keep them — same regex, doubled
    # backslashes on the Spark side only (house convention for every
    # \s+ split above).
    bpeish_spark = _BPEISH.replace("\\", "\\\\")
    t = docs.selectExpr(
        "lang",
        r"CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_words",
        f"CAST(size(regexp_extract_all(text, '{bpeish_spark}', 0)) AS BIGINT)"
        " AS n_tokens",
        "CAST(length(text) AS BIGINT) AS n_chars",
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.sum("n_tokens") * 1.0 / F.sum("n_words")).alias("tokens_per_word"),
        # n_words >= 1 always (split yields at least one element) but
        # n_tokens CAN sum to 0 for a lang of all-whitespace/symbol-free
        # docs — nullif on both engines instead of ANSI crash-vs-NULL
        # divergence (round-6 review catch)
        (
            F.sum("n_chars") * 1.0 / F.nullif(F.sum("n_tokens"), F.lit(0))
        ).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# Corpus distinct-n diversity per source
# --------------------------------------------------------------------------

_DIVERSITY_ORACLE = r"""
WITH ws AS (
    SELECT source,
           list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
    FROM documents
),
g AS (
    SELECT source, n,
           unnest(CASE WHEN length(w) >= n
                  THEN list_transform(
                         range(1, length(w) - n + 2),
                         i -> array_to_string(
                                w[CAST(i AS INT):CAST(i + n - 1 AS INT)], ' '))
                  ELSE [] END) AS gram
    FROM ws, (SELECT unnest(range(1, 4)) AS n)
)
SELECT source,
       CAST(n AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS total_ngrams,
       CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
       count(DISTINCT gram) * 1.0 / count(*) AS distinct_ratio
FROM g
GROUP BY source, n
"""


@register(
    "q_distinct_ngram_diversity",
    oracle=_DIVERSITY_ORACLE,
    tags=("text", "diversity", "diagnostics", "training-prep"),
)
def q_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level distinct-n diversity per source for n ∈ {1,2,3}:
    distinct n-grams / total n-grams over the WHOLE source — the NLG
    "distinct-n" degeneracy metric applied to training data. A
    template-generated source shows a collapsing distinct-2/3 ratio
    long before doc-level dedup fires; q_text_repetition measures
    within-doc duplication, this measures cross-doc sameness.

    Scale: tokenize once per doc, emit (n, gram) pairs map-side,
    ONE shuffle keyed (source, n, gram-ish) for the count-distinct
    partial aggregation — gram strings cross the exchange (like the
    novelty query), so the 100-TB variant swaps grams for 64-bit
    hashes with an identical plan shape. Integer counts, one final
    division. North-star extension (SURVEY.md §2.8 text analysis);
    no reference analogue.
    """
    # parallel=True (round 10): the tokenize + triple-gram explode is
    # the dominant serial kernel on single-split fixtures; outputs are
    # exact counts (count, count_distinct) and one LONG/LONG division —
    # order-insensitive, so the scan re-key is parity-safe. Interleaved
    # A/B: med 1.93 s (off) → 1.39 s (on), −28%. (The sibling novelty
    # query REJECTED the same re-key at +27% — there the
    # groupBy(shingle) exchange dominates, here the 3×-gram explode
    # does.)
    docs = load_table(spark, sf_dir, "documents", parallel=True)

    def grams(n: int) -> str:
        return (
            f"CASE WHEN size(ws) >= {n} THEN "
            f"transform(sequence(1, size(ws) - {n} + 1),"
            f" i -> concat_ws(' ', slice(ws, i, {n})))"
            " ELSE array() END"
        )

    exploded = (
        docs.select(
            "source",
            # drop the phantom '' token an empty/whitespace-only text
            # produces from split (house corpus_prep guard), so empty
            # docs contribute zero n-grams at every n
            F.expr(
                r"filter(split(trim(text), '\\s+'), x -> x != '')"
            ).alias("ws"),
        )
        .select(
            "source",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).cast("long").alias("n"),
                            F.expr(grams(n)).alias("grams"),
                        )
                        for n in (1, 2, 3)
                    ]
                )
            ).alias("g"),
        )
        .select("source", F.col("g.n").alias("n"), F.explode("g.grams").alias("gram"))
    )
    return exploded.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("total_ngrams"),
        F.countDistinct("gram").cast("long").alias("distinct_ngrams"),
        (F.countDistinct("gram") * F.lit(1.0) / F.count(F.lit(1))).alias(
            "distinct_ratio"
        ),
    )


# --------------------------------------------------------------------------
# exact corpus length order statistics (distributed selection)
# --------------------------------------------------------------------------

LEN_QS = (0.5, 0.9, 0.99)

_LEN_STATS_ORACLE = f"""
WITH r AS (
    SELECT n_chars,
           row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
           count(*) OVER () AS n
    FROM documents
),
grid AS (SELECT unnest([{", ".join(f"({q})" for q in LEN_QS)}]) AS q)
SELECT g.q,
       CAST(max(CASE WHEN r.rn = greatest(1, CAST(ceil(g.q * r.n) AS BIGINT))
                THEN r.n_chars END) AS BIGINT) AS n_chars_cut,
       CAST(max(r.n) AS BIGINT) AS n_docs
FROM grid g CROSS JOIN r
GROUP BY g.q
"""


@register(
    "q_doc_length_order_stats",
    oracle=_LEN_STATS_ORACLE,
    tags=("text", "order-statistics", "distributed-rank"),
)
def q_doc_length_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 document length (chars) — the numbers a
    context-window / truncation policy is set from, as true order
    statistics rather than approx_percentile sketches (the sketch's
    error bound is fine for monitoring but not for a contractual
    "99% of documents fit" claim).

    Distributed selection, not a global rank window: positions come
    from the bucket-partitioned zipWithIndex
    (operators/distributed_rank.py — n_chars div 64 monotone bucket,
    doc_id tiebreak), the 3 target ranks are a broadcast grid, and
    the lookup is a broadcast join on position. Same plan family as
    q_ppl_filter_retention_curve.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    docs = load_table(spark, sf_dir, "documents").select("n_chars", "doc_id")
    n_tot = docs.agg(F.count(F.lit(1)).alias("n"))
    ranked = with_global_position(
        docs,
        ["n_chars", "doc_id"],
        F.floor(F.col("n_chars") / F.lit(64)),
        pos_col="__rnk_pos",
    )
    grid = spark.createDataFrame([(q,) for q in LEN_QS], "q double")
    targets = grid.crossJoin(F.broadcast(n_tot)).selectExpr(
        "q", "n", "greatest(1, CAST(ceil(q * n) AS BIGINT)) AS k"
    )
    return (
        ranked.join(F.broadcast(targets), F.col("__rnk_pos") == F.col("k") - 1)
        .groupBy("q")
        .agg(
            F.max("n_chars").cast("long").alias("n_chars_cut"),
            F.max("n").cast("long").alias("n_docs"),
        )
    )


# --------------------------------------------------------------------------
# length-decile concentration (who holds the corpus' character mass)
# --------------------------------------------------------------------------

_LEN_DECILE_ORACLE = """
WITH tiled AS (
    SELECT n_chars,
           CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS decile
    FROM documents
),
tot AS (SELECT sum(n_chars) AS total_chars FROM tiled)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       sum(n_chars) * 1.0 / max(t.total_chars) AS chars_share
FROM tiled CROSS JOIN tot t
GROUP BY decile
"""


@register(
    "q_length_decile_concentration",
    oracle=_LEN_DECILE_ORACLE,
    tags=("text", "concentration", "mixture", "distributed-rank"),
)
def q_length_decile_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-mass concentration across length deciles — the
    Lorenz-curve table behind "the longest 10% of documents hold X%
    of the corpus": decides whether long-document handling (chunking,
    truncation, packing) dominates the token budget or is a tail
    concern. Deciles are the EXACT distributed ntile
    (operators/distributed_rank.py), shares are one division of exact
    BIGINT sums."""
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_ntile,
    )

    docs = load_table(spark, sf_dir, "documents").select("n_chars", "doc_id")
    tiled = with_global_ntile(
        docs,
        10,
        ["n_chars", "doc_id"],
        F.floor(F.col("n_chars") / F.lit(64)),
        out_col="__tile",
    ).select(F.col("__tile").cast("long").alias("decile"), "n_chars")
    tot = tiled.agg(F.sum("n_chars").alias("total_chars"))
    return (
        tiled.crossJoin(F.broadcast(tot))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            (
                F.sum("n_chars") * F.lit(1.0) / F.max("total_chars")
            ).alias("chars_share"),
        )
    )


# --------------------------------------------------------------------------
# Hill tail-index of document lengths
# --------------------------------------------------------------------------

HILL_K = 100  # top-k order statistics (fixture-sized; 10^4-10^5 at corpus scale)

_HILL_ORACLE = f"""
WITH top AS (
    SELECT n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT {HILL_K + 1}
),
ref AS (SELECT min(n_chars) AS x_ref, count(*) AS c FROM top)
SELECT CAST(r.c - 1 AS BIGINT)   AS k,
       CAST(r.x_ref AS BIGINT)   AS x_ref,
       (r.c - 1) / list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list_sort(list(ln(CAST(t.n_chars AS DOUBLE) / r.x_ref)))),
           (a, b) -> a + b
       ) AS hill_alpha
FROM top t CROSS JOIN ref r
GROUP BY r.c, r.x_ref
"""


@register(
    "q_hill_tail_index_lengths",
    oracle=_HILL_ORACLE,
    tags=("text", "statistics", "tail"),
)
def q_hill_tail_index_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index α of the document-length distribution from the
    top-k order statistics: α ≤ 1 means the length tail is so heavy
    the MEAN is unstable (mean-based token budgeting is then wrong;
    use the exact deciles of q_doc_length_order_stats instead); α ≈ 2+
    means a tame tail. The standard heavy-tail diagnostic before
    trusting any per-source average length.

    Exactness: the top-(k+1) frame comes from TakeOrderedAndProject
    (k+1 rows per partition to the driver — no global sort, no
    unpartitioned window); x_ref is its min; every tied boundary doc
    contributes ln(1)=0, so tie selection inside the cut cannot change
    the sum; logs fold via the sorted det_sum against DuckDB's
    list_sort fold.

    Scale: k is a constant; the only full pass is the scan feeding
    top-k.
    """
    docs = load_table(spark, sf_dir, "documents").select("n_chars", "doc_id")
    top = docs.orderBy(F.col("n_chars").desc(), "doc_id").limit(HILL_K + 1)
    ref = top.groupBy().agg(
        F.min("n_chars").alias("x_ref"), F.count(F.lit(1)).alias("c")
    )
    terms = top.crossJoin(F.broadcast(ref)).select(
        "x_ref",
        "c",
        F.log(F.col("n_chars").cast("double") / F.col("x_ref")).alias("lt"),
    )
    return terms.groupBy("c", "x_ref").agg(
        (F.col("c") - 1).cast("long").alias("k"),
        F.max("x_ref").cast("long").alias("x_ref2"),
        ((F.col("c") - 1) / det_sum("lt")).alias("hill_alpha"),
    ).select(
        "k",
        F.col("x_ref2").alias("x_ref"),
        "hill_alpha",
    )


# --------------------------------------------------------------------------
# vocabulary coverage curve
# --------------------------------------------------------------------------

COVERAGE_KS = (5, 25, 1000)

_COVERAGE_ORACLE = f"""
WITH counts AS (
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents WHERE trim(text) <> ''
    )
    GROUP BY word
),
ranked AS (
    SELECT cnt,
           row_number() OVER (ORDER BY cnt DESC, word) - 1 AS pos
    FROM counts
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM counts),
ks AS (SELECT unnest([{", ".join(str(k) for k in COVERAGE_KS)}]) AS k)
SELECT CAST(k AS INT)                      AS k,
       CAST(sum(cnt) AS BIGINT)            AS covered_tokens,
       CAST(max(t.t) AS BIGINT)            AS total_tokens,
       sum(cnt) * 1.0 / max(t.t)           AS coverage
FROM ks JOIN ranked ON pos < k CROSS JOIN tot t
GROUP BY k
"""


@register(
    "q_vocab_coverage_curve",
    oracle=_COVERAGE_ORACLE,
    tags=("text", "tokenizer", "coverage", "distributed-rank"),
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary (the same
    whitespace tokenization as q_word_frequency_topk): for each k,
    what fraction of all corpus tokens the k most frequent words
    cover — the curve a tokenizer/vocab-size decision reads (where it
    flattens, bigger vocabularies stop paying).

    Exactness: word ranks come from the distributed zipWithIndex over
    (cnt DESC, word) — bucket −cnt, total order, BIGINT counts;
    coverage is one division of exact sums.

    Scale: the vocabulary grows with the corpus (Heaps' law), so the
    rank MUST NOT be a single-task window — the bucket-partitioned
    position replaces it; the k-grid is a broadcast literal.
    """
    from cost_of_living_data_etl_spark.operators.distributed_rank import (
        with_global_position,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.trim(F.col("text")).alias("t"))
        .filter(F.col("t") != "")
        .select(F.explode(F.split("t", r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = with_global_position(
        counts, [F.desc("cnt"), F.asc("word")], -F.col("cnt")
    )
    tot = counts.groupBy().agg(F.sum("cnt").cast("long").alias("t"))
    ks = spark.createDataFrame([(k,) for k in COVERAGE_KS], "k int")
    return (
        ranked.join(F.broadcast(ks), F.col("pos") < F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.sum("cnt").cast("long").alias("covered_tokens"),
            F.max("t").cast("long").alias("total_tokens"),
            (F.sum("cnt") / F.max("t")).alias("coverage"),
        )
    )
